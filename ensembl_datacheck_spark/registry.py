"""Check registry: declarative specs + discovery, the analogue of the
reference's BaseCheck metadata constants + Manager index/selection.

Reference semantics reproduced:

* immutable metadata per check — NAME, DESCRIPTION, GROUPS, DATACHECK_TYPE,
  TABLES (BaseCheck.pm:34-39, 46-78; metadata cannot be overridden at
  construction, BaseCheck.pm:107-123);
* a persisted JSON index for discovery without importing check code
  (lib/.../index.json, built by Manager.pm:339-375 `write_index`, kept in
  sync by hooks/pre-commit.sh — our `write_index`/`verify_index` mirror
  t/index.t:26-33);
* selection by exact names, regex patterns, groups and type
  (Manager.pm:246-286: a check is kept when ANY of names / patterns /
  groups matches it — the criteria are OR-ed; patterns also match
  against descriptions, Manager.pm:258-260 — and the datacheck_type
  filter is AND-ed last).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from ensembl_datacheck_spark.verdict import Severity


@dataclass(frozen=True)
class CheckSpec:
    """Declarative check: metadata + ONE implementation, either a body
    that builds DataFrame plans or a row-predicate factory.

    ``body(ctx)`` receives a CheckContext (tables, config, assertion
    recorder) and issues assertions; it never returns a value.  The
    ``per_partition`` flag marks checks whose verdicts are reported per
    partition bucket (the analogue of per-species iteration,
    DbCheck.pm:665-738).
    """

    name: str
    description: str
    body: Callable[..., None] | None = None
    groups: tuple[str, ...] = ()
    severity: Severity = Severity.CRITICAL
    tables: tuple[str, ...] = ()
    per_partition: bool = False
    force: bool = False  # always re-run, ignore checkpoint (DataFilesExist.pm:37)
    # Excluded from the default suite; runs only when selected explicitly
    # by name/pattern/group — for expensive pipeline-stage checks (e.g.
    # whole-corpus content dedup) that a recurring validation run should
    # not pay on every execution.  The reference's kin: checks gated off
    # unless their group is requested (Manager.pm:246-269 group
    # selection; per-check skip gates DbCheck.pm:740-765).
    on_demand: bool = False
    # Row-level predicate factory `(ctx, scan_df) -> (predicates, scan_df)`,
    # the alternative to ``body``: the Runner fuses this check into a
    # shared single scan with its siblings (operators/fused.py), and a
    # standalone run_check runs that same path.  The scan is the check's
    # FIRST table (no tables: the fact table); a Runner whose fused scan
    # is another table skips the check.  The factory may extend the scan
    # (e.g. broadcast-join a dimension flag).
    row_predicates: Callable | None = None
    # Shared-computation kinds this check's body consumes via ctx.shared
    # (e.g. "fact_profile", the one-scan profile cube).  Declared
    # metadata: perfbench and the tests group a family by it; the Runner
    # does not read it (every consumer joins the shared build).
    shared_uses: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        if (self.body is None) == (self.row_predicates is None):
            raise ValueError(
                f"check {self.name!r} needs exactly one of body and "
                "row_predicates"
            )

    def index_entry(self) -> dict[str, Any]:
        # same shape as the reference index.json entries
        impl = self.body or self.row_predicates
        return {
            "name": self.name,
            "description": self.description,
            "groups": sorted(self.groups),
            "datacheck_type": self.severity.value,
            "tables": sorted(self.tables),
            "package_name": f"{impl.__module__}.{impl.__qualname__}",
            "on_demand": self.on_demand,
        }


class Registry:
    def __init__(self) -> None:
        self._checks: dict[str, CheckSpec] = {}

    def add(self, spec: CheckSpec) -> None:
        if spec.name in self._checks:
            raise ValueError(f"duplicate check name: {spec.name}")
        self._checks[spec.name] = spec

    def __iter__(self):
        return iter(sorted(self._checks.values(), key=lambda s: s.name))

    def __len__(self) -> int:
        return len(self._checks)

    def __contains__(self, name: str) -> bool:
        return name in self._checks

    def get(self, name: str) -> CheckSpec:
        return self._checks[name]

    def names(self) -> list[str]:
        return sorted(self._checks)

    def default_suite(self) -> list[CheckSpec]:
        """Every check except the on-demand tier — what a plain run (and
        the benches) execute."""
        return [s for s in self if not s.on_demand]

    def select(
        self,
        names: list[str] | None = None,
        patterns: list[str] | None = None,
        groups: list[str] | None = None,
        severity: Severity | str | None = None,
    ) -> list[CheckSpec]:
        """Manager.pm:246-286 selection semantics: a check is kept when
        ANY of names / patterns / groups matches it (criteria OR-ed, as
        the reference's filter() does); patterns also match against
        descriptions (Manager.pm:258-260); severity (datacheck_type) is
        AND-ed last.  On-demand checks are included only when a
        name/pattern/group criterion matched them — a bare or
        severity-only selection never picks up the expensive tier."""
        selected = list(self)
        if names or patterns or groups:
            keep: set[str] = set()
            for s in selected:
                if names and s.name in names:
                    keep.add(s.name)
                # one pattern, ONE case rule (Manager.pm:246-286 applies
                # the pattern uniformly): case-insensitive against both
                # name and description — a lower-case CLI pattern must
                # not silently match descriptions but skip names
                if patterns and any(
                    re.search(p, s.name, re.I)
                    or re.search(p, s.description, re.I)
                    for p in patterns
                ):
                    keep.add(s.name)
                if groups and set(groups) & set(s.groups):
                    keep.add(s.name)
            selected = [s for s in selected if s.name in keep]
        else:
            selected = [s for s in selected if not s.on_demand]
        if severity is not None:
            sev = Severity(severity)
            selected = [s for s in selected if s.severity == sev]
        return selected

    # --- index persistence (Manager.pm:339-375 / t/index.t) ---

    def index(self) -> list[dict[str, Any]]:
        return [s.index_entry() for s in self]

    def write_index(self, path: str | Path) -> None:
        Path(path).write_text(json.dumps(self.index(), indent=2, sort_keys=True) + "\n")

    def verify_index(self, path: str | Path) -> bool:
        """True iff the committed index matches the live registry
        (t/index.t:26-33 semantics)."""
        try:
            committed = json.loads(Path(path).read_text())
        except FileNotFoundError:
            return False
        return committed == self.index()


registry = Registry()


def register(
    name: str,
    description: str,
    groups: tuple[str, ...] = (),
    severity: Severity | str = Severity.CRITICAL,
    tables: tuple[str, ...] = (),
    per_partition: bool = False,
    force: bool = False,
    on_demand: bool = False,
    row_predicates: bool = False,
    shared_uses: tuple[str, ...] = (),
    _registry: Registry | None = None,
) -> Callable:
    """Decorator registering a check body as a CheckSpec; with
    ``row_predicates=True`` the decorated function is the check's
    row-predicate factory instead."""

    def deco(fn: Callable) -> Callable:
        spec = CheckSpec(
            name=name,
            description=description,
            body=None if row_predicates else fn,
            groups=tuple(groups),
            severity=Severity(severity),
            tables=tuple(tables),
            per_partition=per_partition,
            force=force,
            on_demand=on_demand,
            row_predicates=fn if row_predicates else None,
            shared_uses=tuple(shared_uses),
        )
        # NOT `_registry or registry`: an empty Registry has len 0 and is
        # falsy, which would silently reroute the first spec of a private
        # registry into the global one
        (registry if _registry is None else _registry).add(spec)
        fn.spec = spec
        return fn

    return deco
