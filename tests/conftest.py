from __future__ import annotations

import pytest

from ensembl_datacheck_spark.session import get_spark, host_nproc


@pytest.fixture(scope="session")
def spark():
    # every core of the host, and get_spark's default driver heap (a
    # quarter of physical RAM)
    s = get_spark("dcheck-tests", cores=host_nproc(), shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def seq_fixture(spark):
    """10k-row sequences table with injected violations + dimension +
    baselines (FIXTURES.md scale tier 'unit')."""
    from ensembl_datacheck_spark.sources import synth

    seq = synth.gen_sequences(spark, 10_000, n_partitions=8, median_tok=64,
                              max_tok=512).cache()
    clean = synth.gen_sequences(spark, 10_000, n_partitions=8, median_tok=64,
                                max_tok=512, inject_violations=False).cache()
    sources = synth.gen_sources(spark)
    base_same = synth.gen_baseline_stats(spark, clean).cache()
    base_shifted = synth.gen_baseline_stats(spark, clean, shifted=True).cache()
    return {
        "sequences": seq,
        "sequences_clean": clean,
        "sources": sources,
        "baseline_same": base_same,
        "baseline_shifted": base_shifted,
    }
