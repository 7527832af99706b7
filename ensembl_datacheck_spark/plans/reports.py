"""Report sinks: JSON results (failures-only default, --passed —
ConvertTapToJson.pm:40-48,144-149 semantics), TAP-style text
(information parity, SURVEY.md §7.4), and the run-summary rollup
(DataCheckSummary.pm:36-109)."""

from __future__ import annotations

from pathlib import Path

from ensembl_datacheck_spark.verdict import RunSummary, Status


def write_json_report(
    summary: RunSummary,
    path: str | Path,
    failures_only: bool = True,
) -> None:
    Path(path).write_text(summary.to_json(failures_only=failures_only) + "\n")


def write_tap_report(summary: RunSummary, path: str | Path) -> None:
    lines = [r.to_tap(test_number=i) for i, r in enumerate(summary.results, 1)]
    lines.append(f"1..{len(summary.results)}")
    Path(path).write_text("\n".join(lines) + "\n")


def summary_line(summary: RunSummary) -> str:
    """One-line rollup (the email-subject analogue,
    DataCheckSummary.pm:110-176)."""
    status = "PASSED" if summary.all_passed else "FAILED"
    return (
        f"datachecks {status}: {summary.n_passed} passed, "
        f"{summary.n_failed} failed, {summary.n_skipped} skipped "
        f"in {summary.wall_runtime:.1f}s"
    )


def failed_names(summary: RunSummary) -> list[str]:
    return [r.check_name for r in summary.results if r.status == Status.FAIL]


def exit_code(summary: RunSummary, failures_fatal: bool = True) -> int:
    """Reference exit-code convention: 0 = all pass (BaseCheck.pm:189);
    RunDataChecks.pm:123-138 `failures_fatal` gate.  Only *critical*
    failures gate (advisory checks report but never fail the run,
    BaseCheck.pm:74-78 semantics)."""
    critical_failed = any(
        r.status == Status.FAIL and r.severity == "critical"
        for r in summary.results
    )
    if failures_fatal and critical_failed:
        return 1
    return 0
