"""The benchmark's workloads: closed loops with one client.

Each workload is a function ``(Bench) -> dict`` that repeats one *pass*
of engine calls, each call waiting for the previous one, until the
timed window has passed and enough passes are past the warm-up
(``closed_loop``).  A pass's outputs are checked as it runs; every
engine call is one attempted operation, and a call that raised,
reported an errored check or gave a wrong output is a failed one.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from tracing import Tracer, tree_cpu_s, wrapped

# the first timed pass is steady when it is no more than STEADY_TOL
# slower than the median of the timed passes after it
STEADY_TOL = 0.05
# seconds after the run started: the loop starts no pass it expects to
# end after this.  Only a badly overloaded host gets there; it keeps a
# run within three minutes.
DEADLINE_S = 120.0

SUITE_ROWS = 8_000


@dataclass
class Bench:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    trace: bool
    started: float  # time.perf_counter() when the run began
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


def closed_loop(b: Bench, one_pass, warmup: int, timed: int
                ) -> tuple[list[dict[str, tuple[float, float]]], int]:
    """Run ``one_pass(i)``: a cold first pass, ``warmup`` warm-up passes,
    then timed passes until there are ``timed`` of them and they have
    taken ``b.seconds``.  ``one_pass`` returns the wall and the
    process-tree CPU seconds (``tree_cpu_s``) of each engine call it
    made that succeeded, by name.

    Pass walls and CPU keep falling for several passes while the JVM
    compiles, so the cold pass is set-up and the warm-up passes are not
    timed.  The pass counts are fixed, not the time, so the timed passes
    sit at the same point of that curve on a fast and on a slow host:
    a run that stopped on time would time a slow host's earlier, slower
    passes.  Only a run about to overrun ``DEADLINE_S`` stops early; it
    then times its last ``timed`` warm passes and reports
    ``complete: false``.

    A workload's pass figures sum, over its calls, each call's fastest
    timed sample (``fastest``): other tenants of a shared host and late
    JIT compiles only ever add time, and the fastest of several samples
    is the one they touched least.  In a traced run the passes alternate
    traced and untraced, so the two can be compared.  Returns every
    pass's samples and the index of the first timed pass."""
    samples: list[dict[str, tuple[float, float]]] = []
    traced: list[bool] = []
    rss: list[float] = []
    first = 1 + warmup
    t_window = None
    while True:
        i = len(samples)
        b.tracer.enabled = b.trace and i % 2 == 1
        traced.append(b.tracer.enabled)
        if i == first:
            t_window = time.perf_counter()
        samples.append(one_pass(i))
        rss.append(b.tracer.rss_mb("VmRSS"))
        now = time.perf_counter()
        done = (len(samples) - first >= timed
                and now - t_window >= b.seconds)
        late = now + pass_wall(samples[-1]) > b.started + DEADLINE_S
        if done or (late and len(samples) > 2):
            break
    b.tracer.enabled = b.trace
    complete = len(samples) - first >= timed
    first = min(first, max(1, len(samples) - timed))
    walls = [pass_wall(per) for per in samples]
    later = walls[first + 1:]
    trend = walls[first] / statistics.median(later) if later else None
    if b.trace:
        on = [w for w, t in zip(walls[first:], traced[first:]) if t]
        off = [w for w, t in zip(walls[first:], traced[first:]) if not t]
        if on and off:
            b.layer["trace.overhead_share"] = (
                statistics.median(on) / statistics.median(off) - 1)
        b.detail["traced_passes"] = traced
    b.detail.update({
        "pass_walls_s": [round(w, 4) for w in walls],
        "pass_cpu_s": [round(sum(c for _, c in per.values()), 3)
                       for per in samples],
        "rss_mb_after_pass": [round(r, 1) for r in rss],
        "first_timed_pass": first,
        "complete": complete,
        # first timed pass over the median of the ones after it: near 1
        # when the timed passes are past the JIT trend
        "steady_trend": trend,
        "steady": trend is not None and trend <= 1 + STEADY_TOL,
    })
    b.layer["warmup.passes"] = first
    return samples, first


def pass_wall(per: dict[str, tuple[float, float]]) -> float:
    return sum(wall for wall, _ in per.values())


def fastest(samples: list[dict[str, tuple[float, float]]]
            ) -> dict[str, tuple[float, float]]:
    """Each call's fastest wall and smallest CPU time over ``samples``,
    each taken on its own."""
    out: dict[str, tuple[float, float]] = {}
    for per in samples:
        for name, (wall, cpu) in per.items():
            w0, c0 = out.get(name, (wall, cpu))
            out[name] = (min(w0, wall), min(c0, cpu))
    return out


def pass_figures(best: dict[str, tuple[float, float]]) -> dict[str, float]:
    return {"pass_s": sum(w for w, _ in best.values()),
            "pass_cpu_s": sum(c for _, c in best.values())}


def _quiet(fn, *args):
    """Call ``fn`` with its stdout/stderr chatter captured, so this
    program's standard output stays its own."""
    out = io.StringIO()
    with contextlib.redirect_stdout(out), contextlib.redirect_stderr(out):
        return fn(*args)


def _spark_layer(b: Bench, span: str, n_passes: int, fact_rows: int) -> None:
    """Per-pass engine counters of the traced passes."""
    c = b.tracer.counters.get(span, {})
    n = max(n_passes, 1)
    for key in ("spark.jobs", "spark.tasks", "spark.task_time_s",
                "spark.cpu_s", "spark.gc_s", "spark.input_mb",
                "spark.shuffle_write_mb", "spark.spill_mb"):
        b.layer[key] = c.get(key, 0.0) / n
    b.layer["spark.scan_amplification"] = (
        c.get("spark.input_records", 0.0) / n / max(fact_rows, 1))
    b.layer["jvm.heap_peak_mb"] = b.tracer.heap_peak_mb()


def _build_setup(b: Bench, build, repeats: int) -> dict:
    """Run the fixture build ``repeats`` times, each into a fresh
    directory, and keep the last; ``sources.fixture_gen_s`` is the
    median build time."""
    walls, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = build()
        walls.append(time.perf_counter() - t0)
    b.layer["sources.fixture_gen_s"] = statistics.median(walls)
    b.detail["fixture_builds_s"] = [round(w, 4) for w in walls]
    return out


# --- suite_resume ----------------------------------------------------------


def suite_resume(b: Bench) -> dict:
    """``cli.main`` on a fresh warehouse (checkpoints plus the violations
    funnel write), then ``cli.main`` again on unchanged inputs (resume).
    One pass is that pair."""
    from ensembl_datacheck_spark import cli
    from ensembl_datacheck_spark.sources.io import Catalog

    import fixtures

    def build():
        d = os.path.join(b.work, "suite_fixture")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return fixtures.build_suite_fixture(b.spark, d, b.seed, SUITE_ROWS)

    # one build: a second costs as much as a warm suite pass
    fx = _build_setup(b, build, repeats=1)
    b.layer["sources.fixture_mb"] = fx["mb"]
    b.detail["fixture"] = {k: fx[k] for k in (
        "fact_rows", "kinds", "violation_rows", "failing_checks",
        "violation_buckets")}
    b.detail["violation_bucket_share"] = (
        f"{len(fx['violation_buckets'])}/{fixtures.N_BUCKETS}")
    p = fx["paths"]
    base = ["--sequences", p["sequences"], "--sources", p["sources"],
            "--baseline", p["baseline_stats"], "--passed",
            "--no-failures-fatal"]
    expected_failing = set(fx["failing_checks"])
    per_pass: list[dict] = []

    def verdicts(path):
        with open(path) as f:
            rep = json.load(f)
        return rep, {r["check_name"]: r for r in rep["datachecks"]}

    def one_pass(i):
        wh = os.path.join(b.work, f"warehouse_{i}")
        shutil.rmtree(wh, ignore_errors=True)
        j1, j2 = (os.path.join(b.work, f"run_{i}_{k}.json") for k in "ab")
        rec: dict = {}
        with b.tracer.span("pass"):
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                with b.tracer.span("cli.first"):
                    rc = _quiet(cli.main, base + ["--warehouse", wh,
                                                  "--output-json", j1])
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                rc, rec["first_error"] = None, repr(e)
            c1, t1 = tree_cpu_s(), time.perf_counter()
            try:
                with b.tracer.span("cli.resume"):
                    rc2 = _quiet(cli.main, base + ["--warehouse", wh,
                                                   "--output-json", j2])
            except Exception as e:  # noqa: BLE001
                rc2, rec["resume_error"] = None, repr(e)
            c2, t2 = tree_cpu_s(), time.perf_counter()

        # first run: exactly the fixture's failing checks, none errored
        ok1 = rc == 0 and os.path.exists(j1)
        if ok1:
            rep1, v1 = verdicts(j1)
            failing = {n for n, r in v1.items() if r["status"] == "fail"}
            errored = sorted(n for n, r in v1.items() if r["error"])
            rec.update(report=rep1)
            ok1 = failing == expected_failing and not errored
            if not ok1:
                rec["first_mismatch"] = {"failing": sorted(failing),
                                         "errored": errored}
        b.op(ok1, f"pass {i}: first run")

        # resume: the same failing set; every first-run pass is skipped
        # or passes again
        ok2 = ok1 and rc2 == 0 and os.path.exists(j2)
        if ok2:
            rep2, v2 = verdicts(j2)
            for name, r in v1.items():
                want = {r["status"]} | ({"skip"} if r["status"] == "ok"
                                        else set())
                if v2.get(name, {}).get("status") not in want:
                    ok2 = False
                    rec.setdefault("resume_mismatch", []).append(name)
            rec["skipped"] = sum(r["status"] == "skip" for r in v2.values()
                                 ) - sum(r["status"] == "skip"
                                         for r in v1.values())
        b.op(ok2, f"pass {i}: resume")

        # the violations funnel: one batch per run (first, then resume,
        # which re-runs the failed buckets), each holding exactly the
        # fixture's violation rows
        vdir = os.path.join(wh, "violations")
        batches = sorted((os.path.join(vdir, d) for d in (
            os.listdir(vdir) if os.path.isdir(vdir) else [])),
            key=os.path.getmtime)
        rows = [b.spark.read.parquet(d).count() for d in batches]
        rec["violation_rows"] = rows[0] if rows else 0
        ok3 = rows == [fx["violation_rows"]] * 2
        if not ok3:
            rec["violations_mismatch"] = rows
        b.op(ok3, f"pass {i}: violations funnel")
        per_pass.append(rec)
        shutil.rmtree(wh, ignore_errors=True)
        return {"first": (t1 - t0, c1 - c0), "resume": (t2 - t1, c2 - c1)}

    if b.trace:
        from ensembl_datacheck_spark.plans.checkpoint import CheckpointStore

        ckpt_rows = []

        def append_span(store, rows):
            ckpt_rows.append(len(rows))
            return "checkpoint.append"

        hooks = contextlib.ExitStack()
        hooks.enter_context(wrapped(CheckpointStore, "append", b.tracer,
                                    append_span))
        hooks.enter_context(wrapped(CheckpointStore, "completed_map",
                                    b.tracer, lambda *a: "checkpoint.read"))
        hooks.enter_context(wrapped(
            Catalog, "append_atomic", b.tracer,
            lambda cat, df, name: ("sink.violations_write"
                                   if name == "violations" else None)))
    else:
        hooks = contextlib.nullcontext()
    # the pair wall drops by a third from the cold pass to the first warm
    # one and by a few per cent a pass after it
    with hooks:
        samples, s = closed_loop(b, one_pass, warmup=0, timed=2)
    steady = per_pass[s:]
    b.detail["errors"] = [
        {k: v for k, v in r.items() if k.endswith(("error", "mismatch"))}
        for r in per_pass if any(k.endswith(("error", "mismatch")) for k in r)]

    best = fastest(samples[s:])
    b.layer["resume.first_run_s"] = best["first"][0]
    b.layer["resume.resume_run_s"] = best["resume"][0]
    b.detail["first_run_s"] = b.layer["resume.first_run_s"]
    b.detail["resume_run_s"] = b.layer["resume.resume_run_s"]
    b.detail["suite_seqs_per_s"] = fx["fact_rows"] / b.layer["resume.first_run_s"]
    reports = [r["report"] for r in steady if "report" in r]
    if reports:
        b.layer["runner.overlap_x"] = statistics.median(
            r["total_runtime_sec"] / r["wall_runtime_sec"] for r in reports)
        slow = max(reports[-1]["datachecks"], key=lambda r: r["runtime_sec"])
        b.layer["checks.slowest_s"] = slow["runtime_sec"]
        b.detail["checks_slowest"] = [slow["check_name"], slow["runtime_sec"]]
    if b.trace:
        n_traced = sum(b.detail["traced_passes"])
        for span, key in (("checkpoint.append", "checkpoint.append_s"),
                          ("checkpoint.read", "checkpoint.read_s"),
                          ("sink.violations_write", "sink.violations_write_s")):
            b.layer[key] = sum(b.tracer.spans.get(span, [])) / len(samples)
        b.layer["checkpoint.rows"] = sum(ckpt_rows) / len(samples)
        b.layer["sink.violation_rows"] = steady[-1].get("violation_rows", 0)
        b.layer["resume.checks_skipped"] = steady[-1].get("skipped", 0)
        resume_in = b.tracer.counters["cli.resume"].get("spark.input_records", 0)
        b.layer["resume.rescan_share"] = (
            resume_in / max(n_traced, 1) / fx["fact_rows"])
        b.detail["resume_rescan_share_vs_violation_buckets"] = [
            b.layer["resume.rescan_share"], b.detail["violation_bucket_share"]]
        _spark_layer(b, "pass", n_traced, fx["fact_rows"])
        _suite_isolation(b, p, best["first"][0])
    return {**pass_figures(best), "cold_s": pass_wall(samples[0])}


def _suite_isolation(b: Bench, paths: dict, first_run_s: float) -> None:
    """Traced-run extras: the suite's parts run alone on the same fixture."""
    import ensembl_datacheck_spark.checks  # noqa: F401  (registers suite)
    from ensembl_datacheck_spark import cli, registry
    from ensembl_datacheck_spark.plans.runner import Runner, run_check

    spark = b.spark
    tables = {
        "sequences": spark.read.parquet(paths["sequences"]),
        "sources": spark.read.parquet(paths["sources"]),
        "baseline_stats": spark.read.parquet(paths["baseline_stats"]),
    }
    lanes = cli.build_parser().get_default("parallelism")
    suite = registry.default_suite()
    fused = [s for s in suite if s.row_predicates is not None]
    profile = [s for s in suite if "fact_profile" in s.shared_uses]
    unique = [s for s in suite if s.name == "DocIdUnique"]
    small = [s for s in suite if s not in fused and s not in profile
             and s not in unique]
    b.detail["suite_parts"] = {"fused": len(fused), "fact_profile":
                               len(profile), "small": len(small)}

    def timed_run(specs):
        t0 = time.perf_counter()
        Runner(spark, tables, n_buckets=64).run(
            specs, write_checkpoints=False, parallelism=lanes)
        return time.perf_counter() - t0

    b.layer["runner.checkpoint_overhead_s"] = first_run_s - timed_run(suite)
    b.layer["runner.fused_scan_s"] = timed_run(fused)
    b.layer["checks.fact_profile_s"] = timed_run(profile)
    t0 = time.perf_counter()
    run_check(unique[0], spark, tables, n_buckets=64)
    b.layer["checks.DocIdUnique_s"] = time.perf_counter() - t0
    total = 0.0
    for spec in small:
        t0 = time.perf_counter()
        run_check(spec, spark, tables, n_buckets=64)
        total += time.perf_counter() - t0
    b.layer["checks.small_total_s"] = total


# --- driver_queries --------------------------------------------------------


# the bench.HEADLINE queries kept, one per operator family: flagship
# summary, aggregate, multi-way join, window top-k, JSON, content hash.
# A pass takes about 5 s warm: a run has about 20 s for its warm passes
# after the session start and the cold pass.
HEADLINE_KEPT = (
    "validation_summary", "tpch_q1", "revenue_by_nation",
    "topk_orders_per_priority", "json_props_events",
    "dedup_exact_documents",
)


def _query_names() -> list[str]:
    from bench import HEADLINE

    kept = [q for q in HEADLINE if q in HEADLINE_KEPT]
    if len(kept) != len(HEADLINE_KEPT):
        missing = set(HEADLINE_KEPT) - set(kept)
        raise RuntimeError(f"bench.HEADLINE lacks {sorted(missing)}")
    return [*kept, "lm_perplexity_buckets_documents", "dsir_topk_documents"]


def consume(df) -> tuple[int, int]:
    """Execute the whole plan through the noop sink and return the
    output's fingerprint: its row count plus an order-independent hash
    of its rows, observed as the rows stream into the sink (no second
    job).  Doubles are rounded to 6 places so partial-sum order cannot
    flip the last bit.  A failing write raises: falling back to
    ``count()`` would let Spark prune the projections."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType

    cols = []
    for i, f in enumerate(df.schema.fields):
        c, t = df[i], f.dataType
        if isinstance(t, (DoubleType, FloatType)):
            c = F.round(c, 6)
        elif (isinstance(t, ArrayType)
              and isinstance(t.elementType, (DoubleType, FloatType))):
            c = F.transform(c, lambda x: F.round(x, 6))
        cols.append(c)
    h = F.pmod(F.xxhash64(*cols), F.lit(2**31 - 1))
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n"), F.sum(h).alias("s")
               ).write.format("noop").mode("overwrite").save()
    got = obs.get
    return int(got["n"]), int(got["s"] or 0)


def driver_queries(b: Bench) -> dict:
    """Six of the ``bench.HEADLINE`` queries plus the LM and DSIR
    document queries from ``plans.entry_queries.QUERIES``, consumed by
    the noop sink.  One pass is one sweep over all eight."""
    from ensembl_datacheck_spark.plans.entry_queries import QUERIES

    import fixtures

    names = _query_names()
    sf_dir = os.path.join(b.work, "sf")

    def build():
        shutil.rmtree(sf_dir, ignore_errors=True)
        fixtures.build_sf_tables(sf_dir, b.seed)

    _build_setup(b, build, repeats=3)
    b.layer["sources.fixture_mb"] = fixtures.dir_mb(sf_dir)
    fact_rows = sum(fixtures.SF_ROWS.values())
    prints: dict[str, tuple[int, int]] = {}

    def check_print(name, fp, i):
        ok = prints.setdefault(name, fp) == fp
        b.op(ok, f"pass {i}: {name} fingerprint {fp} != {prints[name]}")

    def one_pass(i):
        per: dict[str, float] = {}
        with b.tracer.span("pass"):
            for name in names:
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    with b.tracer.span("query.build"):
                        df = QUERIES[name](b.spark, sf_dir)
                    with b.tracer.span("query.exec"):
                        fp = consume(df)
                except Exception as e:  # noqa: BLE001 - counted
                    b.op(False, f"pass {i}: {name} raised {e!r}"[:300])
                    continue
                per[name] = (time.perf_counter() - t0, tree_cpu_s() - c0)
                check_print(name, fp, i)
        return per

    # query walls fall by a fifth from the first warm pass to the third
    # and by a few per cent a pass for two or three passes more
    samples, s = closed_loop(b, one_pass, warmup=1, timed=2)
    steady = samples[s:]
    best = fastest(steady)
    lat = sorted(w for per in steady for w, _ in per.values())
    q = statistics.quantiles(lat, n=10, method="inclusive")
    b.layer.update({"query.p50_s": statistics.median(lat),
                    "query.p90_s": q[8], "query.samples": len(lat)})
    b.detail.update({
        "query_p50_s": b.layer["query.p50_s"],
        "query_p90_s": b.layer["query.p90_s"],
        # p90 is meaningful with at least 10 samples beyond it
        "query_samples": len(lat),
        "queries_pass_s": pass_figures(best)["pass_s"],
    })
    for name in names:
        b.layer[f"query.{name}_s"] = best.get(name, (0.0, 0.0))[0]
    if b.trace:
        n_traced = sum(b.detail["traced_passes"])
        spans = b.tracer.spans
        # mean per pass: every pass records the build/exec spans
        b.layer["query.build_s"] = sum(spans["query.build"]) / len(samples)
        b.layer["query.exec_s"] = sum(spans["query.exec"]) / len(samples)
        jobs = b.tracer.counters["query.exec"].get("spark.jobs", 0.0)
        b.layer["spark.jobs_per_query"] = jobs / max(n_traced * len(names), 1)
        _spark_layer(b, "pass", n_traced, fact_rows)
        _curation_stages(b)
    b.detail["errors"] = b.errors[:20]
    return {**pass_figures(best), "cold_s": pass_wall(samples[0])}


CURATION_DOCS = 2000


def _curation_stages(b: Bench) -> None:
    """Traced-run extras: the LM and DSIR scorers behind the two document
    queries, called directly on a larger clean corpus, twice; the second
    call is timed and must reproduce the first's outputs."""
    from pyspark.sql import functions as F

    from ensembl_datacheck_spark.operators import importance as IMP
    from ensembl_datacheck_spark.operators import lm as LM
    from ensembl_datacheck_spark.sources import synth

    spark = b.spark
    path = os.path.join(b.work, "curation")
    for name, n, seed in (("raw", CURATION_DOCS, b.seed),
                          ("target", CURATION_DOCS // 4, b.seed + 1)):
        synth.gen_sequences(
            spark, n, n_partitions=4, median_tok=256, max_tok=2048,
            seed=seed, inject_violations=False,
        ).write.mode("overwrite").parquet(f"{path}/{name}")
    raw = spark.read.parquet(f"{path}/raw")
    target = spark.read.parquet(f"{path}/target")
    n_tokens = raw.select(F.sum("n_tok")).first()[0]

    outs = []
    for _ in range(2):
        t0 = time.perf_counter()
        fit = LM.fit_unigram_lm(raw)
        consume(fit)
        t1 = time.perf_counter()
        ce_print = consume(LM.lm_cross_entropy(raw, fit))
        t2 = time.perf_counter()
        tc = IMP.feature_counts_from_docs(target)
        rc = IMP.feature_counts_from_docs(raw)
        consume(tc)
        consume(rc)
        t3 = time.perf_counter()
        top = IMP.select_top_k(
            IMP.importance_log_weights_from_docs(raw, tc, rc, n_buckets=8192),
            1000)
        ids = sorted(r["doc_id"] for r in top.select("doc_id").collect())
        t4 = time.perf_counter()
        outs.append((ce_print, ids))
        times = (t1 - t0, t2 - t1, t3 - t2, t4 - t3)
    b.op(outs[0] == outs[1], "curation outputs differ between calls")
    b.layer.update({
        "lm.fit_s": times[0], "lm.score_s": times[1],
        "lm.tokens_per_s": n_tokens / times[1],
        "dsir.profiles_s": times[2], "dsir.weights_topk_s": times[3],
    })


WORKLOADS = {"suite_resume": suite_resume, "driver_queries": driver_queries}
