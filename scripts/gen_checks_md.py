#!/usr/bin/env python
"""Generate CHECKS.md — the human-readable index of every registered
check — from ensembl_datacheck_spark/index.json.

The reference documents its datachecks through the same persisted index
its Manager selects from (lib/.../index.json, regenerated by
scripts/update_index.pl and pinned by t/index.t); CHECKS.md is that
document for this engine.  Regenerate after adding/changing checks:

    python scripts/gen_checks_md.py

tests/test_engine_core.py (the index-sync test) runs `--check` and
fails when this file is stale, exactly like t/index.t pins index.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PREAMBLE = """\
# Registered checks

Generated from `ensembl_datacheck_spark/index.json` by
`python scripts/gen_checks_md.py` — do not edit by hand.

Select by name (`--names`), group (`--groups`), or type via
`python -m ensembl_datacheck_spark.cli`; `registry.default_suite()`
excludes the on-demand tier (whole-corpus scans run per ingest, not per
validation sweep).  `critical` failures gate the exit code; `advisory`
failures are reported but never fatal (the reference's
datacheck_type semantics, Manager.pm).
"""


def render(index: list[dict]) -> str:
    by_group: dict[str, list[str]] = defaultdict(list)
    for e in index:
        for g in e["groups"]:
            by_group[g].append(e["name"])

    out = [PREAMBLE]
    n_crit = sum(1 for e in index if e["datacheck_type"] == "critical")
    n_od = sum(1 for e in index if e["on_demand"])
    out.append(
        f"**{len(index)} checks** — {n_crit} critical / "
        f"{len(index) - n_crit} advisory; {n_od} on-demand.\n"
    )
    out.append("## Groups\n")
    for g in sorted(by_group):
        out.append(f"- `{g}`: {', '.join(sorted(by_group[g]))}")
    out.append("\n## Checks\n")
    out.append("| name | type | on-demand | tables | groups | description |")
    out.append("|---|---|---|---|---|---|")
    for e in sorted(index, key=lambda e: e["name"]):
        desc = " ".join(e["description"].split())
        out.append(
            "| {name} | {typ} | {od} | {tables} | {groups} | {desc} |".format(
                name=e["name"],
                typ=e["datacheck_type"],
                od="yes" if e["on_demand"] else "",
                tables=", ".join(e["tables"]),
                groups=", ".join(sorted(e["groups"])),
                desc=desc.replace("|", "\\|"),
            )
        )
    return "\n".join(out) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(
        description="Write CHECKS.md from ensembl_datacheck_spark/index.json."
    )
    ap.add_argument(
        "--check", action="store_true",
        help="write nothing; exit 1 if CHECKS.md is missing or stale",
    )
    args = ap.parse_args()
    with open(os.path.join(REPO, "ensembl_datacheck_spark", "index.json")) as f:
        index = json.load(f)
    text = render(index)
    path = os.path.join(REPO, "CHECKS.md")
    if args.check:
        try:
            with open(path) as f:
                current = f.read()
        except FileNotFoundError:
            current = None  # missing counts as stale, not a traceback
        if current != text:
            print("CHECKS.md is stale — run python scripts/gen_checks_md.py")
            return 1
        return 0
    with open(path, "w") as f:
        f.write(text)
    print(f"wrote {path} ({len(index)} checks)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
