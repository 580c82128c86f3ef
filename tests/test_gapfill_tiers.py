"""Fused gapfill_tiers == cascade(gapfill(...)), is invariant under
the task count, never shuffles its tier rows, and keeps the tier sink's
file count bounded by sources + tasks."""

import glob

import numpy as np
import pytest
from plan_tree import assert_tier_rows_never_shuffle

from sentinel2_crop_trait_timeseries_spark.operators.gapfill import (
    gapfill,
    gapfill_tiers,
)
from sentinel2_crop_trait_timeseries_spark.operators.rollup import cascade
from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences

KEYS = ["tier", "source", "doc_id", "bucket_ts"]
VALS = ["n", "sum_value", "mean_value", "min_value", "max_value", "sumsq_value"]


@pytest.fixture(scope="module")
def seq(spark):
    return generate_sequences(spark, 80, partitions=5).cache()


def _canon(df):
    pdf = df.select(*KEYS, *VALS).toPandas()
    return pdf.sort_values(KEYS, kind="mergesort").reset_index(drop=True)


def _assert_equal(a, b, atol):
    assert a.shape == b.shape
    for k in KEYS:
        assert (a[k].astype(str) == b[k].astype(str)).all(), k
    assert (a["n"] == b["n"]).all()
    for v in VALS[1:]:
        # aggregation order differs (numpy reduceat vs Spark partials):
        # equality is up to fp associativity, not bit-exact
        np.testing.assert_allclose(a[v], b[v], rtol=0, atol=atol, err_msg=v)


def test_fused_equals_cascade(spark, seq):
    fused = _canon(gapfill_tiers(seq, knockout=0.1))
    tiers = cascade(gapfill(seq, knockout=0.1).drop("is_obs"))
    ref = _canon(
        tiers["hourly"].unionByName(tiers["daily"]).unionByName(tiers["weekly"])
    )
    _assert_equal(fused, ref, atol=1e-9)


@pytest.fixture
def shuffle_partitions(spark):
    """Set spark.sql.shuffle.partitions for one test, then restore it."""
    key = "spark.sql.shuffle.partitions"
    keep = spark.conf.get(key)
    yield lambda n: spark.conf.set(key, str(n))
    spark.conf.set(key, keep)


def test_fused_partition_invariance(spark, seq, shuffle_partitions):
    # the range split before the kernel sets the chunking, so vary its
    # task count (the input's own partitioning no longer reaches it)
    shuffle_partitions(1)
    a = _canon(gapfill_tiers(seq, knockout=0.1))
    shuffle_partitions(7)
    b = _canon(gapfill_tiers(seq, knockout=0.1))
    # identical batch math per doc -> bit-exact across partitionings
    _assert_equal(a, b, atol=0)


def test_fused_plan_is_shuffle_free(spark, seq):
    """No tier row shuffles: the only Exchange is the range split of the
    sequence rows, below the kernel."""
    assert_tier_rows_never_shuffle(gapfill_tiers(seq))


def test_fused_sink_files_bounded(spark, seq, tmp_path):
    """Each task holds a contiguous run of sources, so a
    partitionBy(tier, source) write makes at most one file per tier for
    each source plus one per task boundary: 3 x (sources + n - 1)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_src = seq.select("source").distinct().count()
    out = str(tmp_path / "tiers")
    gapfill_tiers(seq, knockout=0.1).write.partitionBy("tier", "source").parquet(out)
    files = glob.glob(f"{out}/tier=*/source=*/*.parquet")
    assert n_src > n > 1
    assert 3 * n_src <= len(files) <= 3 * (n_src + n - 1)
