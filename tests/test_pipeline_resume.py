"""A resumed tools/run_pipeline.py run keeps the output of earlier runs.

The input gains a source after a complete run; the second run's todo is
that one source. Its writes must not delete the sources the manifest
already marks done, and its manifest rows must count only the new
source, so the manifest adds up to one full run."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.operators.gapfill import gapfill_tiers
from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_pipeline(base) -> str:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    args = [sys.executable, os.path.join(REPO, "tools", "run_pipeline.py")]
    for flag in ("input", "output", "fits", "segments", "manifest"):
        args += [f"--{flag}", str(base / flag)]
    r = subprocess.run(args, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    return r.stdout


def _sources(spark, path) -> list[str]:
    return sorted(r[0] for r in spark.read.parquet(str(path)).select("source").distinct().collect())


def test_new_source_resume_keeps_committed_sources(spark, tmp_path):
    seq = generate_sequences(spark, 120, partitions=2).cache()
    sources = sorted(r[0] for r in seq.select("source").distinct().collect())
    late = sources[-1]
    seq.filter(F.col("source") != late).write.parquet(str(tmp_path / "input"))
    first = _run_pipeline(tmp_path)
    assert f"sources todo={len(sources) - 1}/{len(sources) - 1}" in first, first

    seq.filter(F.col("source") == late).write.mode("append").parquet(str(tmp_path / "input"))
    second = _run_pipeline(tmp_path)
    assert f"sources todo=1/{len(sources)}" in second, second

    for sink in ("output", "fits", "segments"):
        assert _sources(spark, tmp_path / sink) == sources, sink
    for tier in ("hourly", "daily", "weekly"):
        assert _sources(spark, tmp_path / "output" / f"tier={tier}") == sources, tier

    done = spark.read.parquet(str(tmp_path / "manifest")).filter("status = 'done'")
    per_key = {r[0]: r[1] for r in done.groupBy("partition_key").count().collect()}
    assert per_key == {s: 1 for s in sources}

    full = gapfill_tiers(seq, curve="asymptotic", knockout=0.1).agg(F.sum("n")).first()[0]
    assert done.agg(F.sum("rows_rolled")).first()[0] == full
    seq.unpersist()
