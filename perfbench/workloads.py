"""The benchmark's workloads. Each calls only the package's public
functions, from one client, one operation at a time (a closed loop).

A workload has ``setup`` (repeated to time set-up), ``op`` (one timed
operation), ``check`` (outside the timed span) and ``layers`` (per-layer
metrics from a traced run). ``sizes`` adds to an operation's record the
tier rows and bytes it stored.
"""

from __future__ import annotations

import os
import random
import statistics
import time

from pyspark.sql import functions as F

from sentinel2_crop_trait_timeseries_spark.catalog import QUERIES
from sentinel2_crop_trait_timeseries_spark.operators.compress import (
    compress_segments, decompress_segments)
from sentinel2_crop_trait_timeseries_spark.operators.decode import decode_observations_arrow
from sentinel2_crop_trait_timeseries_spark.operators.fit import fit_sigmoid
from sentinel2_crop_trait_timeseries_spark.operators.gapfill import gapfill_tiers
from sentinel2_crop_trait_timeseries_spark.operators.manifest import CheckpointManifest
from sentinel2_crop_trait_timeseries_spark.operators.rollup import (
    cascade, continuous_aggregate, retention_serving)
from sentinel2_crop_trait_timeseries_spark.sources.gen import generate_sequences

from perfbench import fixtures, oracle, spans
from perfbench.spans import rollup

TIERS = ("hourly", "daily", "weekly")
AGG_COLS = ["n", "sum_value", "min_value", "max_value", "sumsq_value"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    n = files = 0
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += os.path.getsize(os.path.join(root, f))
                files += 1
    return n, files


def tier_rows(ctx, path: str) -> int:
    return ctx.duck.execute(
        f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]


def write_sequences(ctx, n_docs: int, path: str) -> None:
    generate_sequences(ctx.spark, n_docs, seed=ctx.seed).write.mode(
        "overwrite").parquet(path)


def span_s(tr, name: str, op: int) -> float:
    return next(tr.dur(s["id"]) for s in tr.spans if s["name"] == name and s["op"] == op)


def span_counters(ctx, name: str, op: int) -> dict:
    sid = next(s["id"] for s in ctx.tracer.spans if s["name"] == name and s["op"] == op)
    return rollup(ctx.counters, ctx.tracer, sid)


def tier_checks(con, tiers_sql: str, what: str) -> list[str]:
    """Stored daily = hourly re-aggregated; weekly = daily re-aggregated."""
    bad = []
    for lo, hi, unit in (("hourly", "daily", "day"), ("daily", "weekly", "week")):
        re_agg = f"""
          SELECT source, doc_id, date_trunc('{unit}', bucket_ts) AS b,
                 sum(n) AS n, sum(sum_value) AS sum_value,
                 min(min_value) AS min_value, max(max_value) AS max_value,
                 sum(sumsq_value) AS sumsq_value
          FROM ({tiers_sql}) WHERE tier = '{lo}' GROUP BY ALL"""
        stored = f"""SELECT source, doc_id, bucket_ts AS b, {', '.join(AGG_COLS)}
                     FROM ({tiers_sql}) WHERE tier = '{hi}'"""
        bad += oracle.mismatches(con, stored, re_agg, ["source", "doc_id", "b"],
                                 ["n", "min_value", "max_value"],
                                 ["sum_value", "sumsq_value"], f"{what} {hi} vs {lo}")
    return bad


def decompress_check(con, seg_df, seq_dir: str, where: str, what: str) -> list[str]:
    """Decompressed segment rows equal the observations decoded from the
    tokens (Gorilla is lossless: exact match)."""
    got = oracle.frame_sql(con, "got_" + what.replace(" ", "_"), seg_df)
    return oracle.mismatches(
        con, f"SELECT source, doc_id, ts_epoch, value FROM ({got})",
        oracle.decoded_sql(seq_dir, where), ["source", "doc_id", "ts_epoch"],
        ["value"], [], what)


# =====================================================================
# ingest_fused: the production pipeline, one job at a time
# =====================================================================

class IngestFused:
    """tools/run_pipeline.py through its public calls: manifest todo ->
    gapfill_tiers -> parquet partitionBy(tier, source) -> fit_sigmoid ->
    parquet -> compress_segments(decode_observations_arrow) -> parquet ->
    commit_metrics, with fresh output and manifest dirs per job."""

    name = "ingest_fused"

    def __init__(self, n_docs: int) -> None:
        self.n_docs = n_docs

    def setup(self, ctx) -> None:
        self.seq_dir = os.path.join(ctx.run_dir, "fused_seq")
        write_sequences(ctx, self.n_docs, self.seq_dir)

    def store(self, ctx) -> None:
        pass

    def op(self, ctx, i: int) -> dict:
        spark, tr = ctx.spark, ctx.tracer
        d = os.path.join(ctx.run_dir, f"fused_{i}")
        paths = {k: os.path.join(d, k) for k in ("tiers", "fits", "segments", "manifest")}
        seq = spark.read.parquet(self.seq_dir)
        man = CheckpointManifest(spark, paths["manifest"])
        with tr.span("manifest.todo", i):
            all_sources = seq.select("source").distinct()
            todo = man.todo(all_sources, tier="all", key_col="source")
            todo.count()
        work = seq.join(F.broadcast(todo), "source", "left_semi")
        tiers = gapfill_tiers(work, curve="asymptotic", knockout=0.1)
        if tr.on:  # probes that stop one layer earlier
            with tr.span("scan", i):
                noop(work)
            with tr.span("gapfill", i):
                noop(tiers)
        with tr.span("sink", i):
            tiers.write.mode("overwrite").partitionBy("tier", "source").parquet(paths["tiers"])
        with tr.span("fit", i):
            fit_sigmoid(work).write.mode("overwrite").parquet(paths["fits"])
        with tr.span("compress", i):
            compress_segments(decode_observations_arrow(work)).write.mode(
                "overwrite").parquet(paths["segments"])
        with tr.span("manifest.commit", i):
            rows = spark.read.parquet(paths["tiers"]).groupBy("source").agg(
                F.sum("n").alias("rows_rolled"))
            rmse = spark.read.parquet(paths["fits"]).filter("status = 'done'").groupBy(
                "source").agg(F.avg("fit_rmse").alias("fit_rmse"))
            comp = spark.read.parquet(paths["segments"]).groupBy("source").agg(
                (F.sum("raw_bytes") / F.sum("enc_bytes")).alias("compression_ratio"))
            metrics = rows.join(rmse, "source", "left").join(comp, "source", "left")
            man.commit_metrics("all", metrics, key_col="source", run_id=f"bench{i}",
                               lineage={"curve": "asymptotic", "knockout": 0.1})
        return {"paths": paths, "tiers": paths["tiers"]}

    def sizes(self, ctx, rec: dict) -> None:
        rec["tier_rows"] = tier_rows(ctx, rec["tiers"])
        rec["stored_bytes"] = dir_bytes(rec["tiers"])[0]

    def check(self, ctx, rec: dict, first: dict) -> list[str]:
        rec["summary"] = ctx.duck.execute(f"""
          SELECT count(*), sum(rows_rolled), round(sum(compression_ratio), 9)
          FROM {oracle.pq(rec['paths']['manifest'])} WHERE status = 'done'""").fetchone()
        if rec is not first:  # same input every job: same stored summary
            same = (rec["tier_rows"], rec["summary"]) == (first["tier_rows"], first["summary"])
            return [] if same else [f"job output differs from job 0: {rec['summary']}"]
        con, p = ctx.duck, rec["paths"]
        tiers, seq = oracle.pq(p["tiers"]), self.seq_dir
        bad = tier_checks(con, f"SELECT * FROM {tiers}", "fused")
        # gap-filled: one hourly point per hour, inside the doc's token span
        spans = f"""
          SELECT doc_id, min(ts_epoch) AS t0, max(ts_epoch) AS t1
          FROM ({oracle.decoded_sql(seq)}) GROUP BY doc_id"""
        n_bad = con.execute(f"""
          SELECT count(*) FROM ({spans}) s FULL OUTER JOIN (
            SELECT doc_id, count(*) AS n, epoch(min(bucket_ts)) AS b0,
                   epoch(max(bucket_ts)) AS b1
            FROM {tiers} WHERE tier = 'hourly' GROUP BY doc_id
          ) h USING (doc_id)
          WHERE h.n IS DISTINCT FROM (h.b1 - h.b0) // 3600 + 1
             OR NOT (h.b0 >= s.t0 AND h.b1 <= s.t1)""").fetchone()[0]
        if n_bad:
            bad.append(f"fused: {n_bad} docs whose hourly tier has gaps or leaves the token span")
        n_bad = oracle.gapfill_outside(con, f"SELECT * FROM {tiers} WHERE tier = 'hourly'",
                                       oracle.decoded_sql(seq))
        if n_bad:
            bad.append(f"fused: {n_bad} hourly values outside their doc's observed range")
        seg = ctx.spark.read.parquet(p["segments"])
        bad += decompress_check(con, decompress_segments(seg).select(
            "source", "doc_id", "ts_epoch", "value").toPandas(), seq, "true", "fused segments")
        n_src, rows_rolled, _ = rec["summary"]
        want = con.execute(f"""
          SELECT count(DISTINCT source), sum(n) FROM {tiers}""").fetchone()
        if (n_src, rows_rolled) != want:
            bad.append(f"manifest {n_src, rows_rolled} != stored tiers {want}")
        n_fit, n_docs = con.execute(f"""
          SELECT count(*), count(DISTINCT doc_id) FROM {oracle.pq(p['fits'])}
          WHERE status IN ('done', 'failed')""").fetchone()
        if n_fit != self.n_docs or n_docs != self.n_docs:
            bad.append(f"fits: {n_fit} rows for {n_docs} of {self.n_docs} docs")
        return bad

    def layers(self, ctx, recs: list[dict]) -> dict:
        tr = ctx.tracer
        out: dict[str, list] = {}

        def add(k, v):
            out.setdefault(k, []).append(v)

        for rec in recs:
            i = rec["op"]
            scan, gap, sink = (span_s(tr, n, i) for n in ("scan", "gapfill", "sink"))
            g, c = span_counters(ctx, "gapfill", i), span_counters(ctx, "compress", i)
            add("scan.s", scan)
            add("gapfill.s", gap - scan)
            add("gapfill.python_s", g[spans.PY_RUN])
            add("gapfill.arrow_bytes_out", g[spans.PY_OUT])
            add("gapfill.rows_out", rec["tier_rows"])
            add("gapfill.skew_ratio", g["skew_ratio"])
            add("sink.s", sink - gap)
            add("sink.bytes_written", rec["stored_bytes"])
            add("sink.files_written", dir_bytes(rec["tiers"])[1])
            add("fit.s", span_s(tr, "fit", i))
            add("compress.s", span_s(tr, "compress", i))
            add("compress.python_s", c[spans.PY_RUN])
            add("compress.shuffle_write_bytes", c["shuffle_write_bytes"])
            add("manifest.todo_s", span_s(tr, "manifest.todo", i))
            add("manifest.commit_s", span_s(tr, "manifest.commit", i))
            job = span_counters(ctx, "op", i)  # the whole traced job
            add("jvm.gc_s", job["gc_s"])
            add("jvm.spill_bytes", job["spill_bytes"])
        p = recs[-1]["paths"]
        stats = ctx.duck.execute(f"""
          SELECT count(*) FILTER (WHERE status <> 'done') / count(*)
          FROM {oracle.pq(p['fits'])}""").fetchone()
        ratio = ctx.duck.execute(f"""
          SELECT sum(raw_bytes) / sum(enc_bytes) FROM {oracle.pq(p['segments'])}""").fetchone()
        res = {k: statistics.median(v) for k, v in out.items()}
        res["fit.fail_ratio"] = float(stats[0])
        res["compress.ratio"] = float(ratio[0])
        return res


# =====================================================================
# serving reads against tiers and segments stored once in set-up
# =====================================================================

class ServeTiers:
    """A seeded mix of four read queries over tiers and Gorilla segments
    written once, after set-up, through the ingest_fused path."""

    KINDS = ("range", "cagg", "decompress", "retention")

    def __init__(self, n_docs: int) -> None:
        self.n_docs = n_docs

    def setup(self, ctx) -> None:
        self.seq_dir = os.path.join(ctx.run_dir, "serve_seq")
        self.tiers_dir = os.path.join(ctx.run_dir, "serve_tiers")
        self.seg_dir = os.path.join(ctx.run_dir, "serve_segments")
        write_sequences(ctx, self.n_docs, self.seq_dir)

    def store(self, ctx) -> None:
        spark = ctx.spark
        seq = spark.read.parquet(self.seq_dir)
        gapfill_tiers(seq, curve="asymptotic", knockout=0.1).write.mode(
            "overwrite").partitionBy("tier", "source").parquet(self.tiers_dir)
        compress_segments(decode_observations_arrow(seq)).write.mode(
            "overwrite").parquet(self.seg_dir)
        con = ctx.duck
        # the seed picks among the evenly sized sources (not the hot one),
        # so every seed's queries read about as many points
        self.sources = [r[0] for r in con.execute(f"""
          SELECT DISTINCT source FROM {oracle.pq(self.tiers_dir)}
          WHERE source <> 'src_hot' ORDER BY 1""").fetchall()]
        self.days = con.execute(f"""
          SELECT min(bucket_ts)::DATE, max(bucket_ts)::DATE
          FROM {oracle.pq(self.tiers_dir)} WHERE tier = 'daily'""").fetchone()
        self.rng = random.Random(ctx.seed)

    def _query(self, kind: str) -> tuple:
        r = self.rng
        if kind == "range":
            span = (self.days[1] - self.days[0]).days
            start = r.randrange(max(1, span - 14))
            return kind, r.choice(self.sources), r.choice(TIERS), start, 14
        if kind == "cagg":
            return kind, r.choice(("daily", "weekly"))
        if kind == "decompress":
            return kind, tuple(sorted(r.sample(range(self.n_docs), 40)))
        return kind, r.choice(self.sources)

    def op(self, ctx, i: int, kind: str) -> dict:
        q = self._query(kind)
        spark, tr = ctx.spark, ctx.tracer
        with tr.span(q[0], i) as sp:
            tiers = spark.read.parquet(self.tiers_dir)
            if q[0] == "range":
                _, src, tier, start, days = q
                t0 = F.date_add(F.lit(self.days[0]), start).cast("timestamp")
                t1 = F.date_add(F.lit(self.days[0]), start + days).cast("timestamp")
                df = tiers.filter((F.col("tier") == tier) & (F.col("source") == src)
                                  & (F.col("bucket_ts") >= t0) & (F.col("bucket_ts") < t1))
                rows = df.agg(F.count(F.lit(1)).alias("rows"), F.sum("n").alias("n"),
                              F.sum("sum_value").alias("sum_value"),
                              F.min("min_value").alias("min_value"),
                              F.max("max_value").alias("max_value")).toPandas()
            elif q[0] == "cagg":
                daily = tiers.filter(F.col("tier") == "daily")
                rows = continuous_aggregate(daily, tier=q[1], value_col="mean_value",
                                            ts_col="bucket_ts").toPandas()
            elif q[0] == "decompress":
                ids = [f"doc_{k}" for k in q[1]]
                seg = spark.read.parquet(self.seg_dir).filter(F.col("doc_id").isin(ids))
                rows = decompress_segments(seg).select(
                    "source", "doc_id", "ts_epoch", "value").toPandas()
            else:
                hourly = tiers.filter((F.col("tier") == "hourly") & (F.col("source") == q[1]))
                rows = retention_serving(hourly, keys=["source"], value_col="mean_value",
                                         ts_col="bucket_ts").toPandas()
        return {"query": q, "rows": rows, "rows_returned": len(rows), "sid": sp and sp["id"]}

    def _oracle(self, con, q: tuple) -> str:
        tiers = oracle.pq(self.tiers_dir)
        if q[0] == "range":
            _, src, tier, start, days = q
            t0 = f"(DATE '{self.days[0]}' + {start})::TIMESTAMPTZ"
            t1 = f"(DATE '{self.days[0]}' + {start + days})::TIMESTAMPTZ"
            return f"""
              SELECT 1 AS k, count(*) AS rows, sum(n) AS n, sum(sum_value) AS sum_value,
                     min(min_value) AS min_value, max(max_value) AS max_value
              FROM {tiers} WHERE tier = '{tier}' AND source = '{src}'
                AND bucket_ts >= {t0} AND bucket_ts < {t1}"""
        if q[0] == "cagg":
            unit = {"daily": "day", "weekly": "week"}[q[1]]
            return f"""
              SELECT source, date_trunc('{unit}', bucket_ts) AS bucket_ts,
                     count(mean_value) AS n, avg(mean_value) AS mean_value,
                     stddev_pop(mean_value) AS std_value,
                     quantile_cont(mean_value, 0.05) AS q05,
                     quantile_cont(mean_value, 0.5) AS q50,
                     quantile_cont(mean_value, 0.95) AS q95
              FROM {tiers} WHERE tier = 'daily' GROUP BY ALL"""
        if q[0] == "decompress":
            ids = ", ".join(f"'doc_{k}'" for k in q[1])
            return oracle.decoded_sql(self.seq_dir, f"doc_id IN ({ids})")
        # retention bands: age against the day boundary after the newest row
        sec = "epoch(bucket_ts)::BIGINT"
        src = f"SELECT * FROM {tiers} WHERE tier = 'hourly' AND source = '{q[1]}'"
        week = f"((floor((floor({sec} / 86400) + 3) / 7) * 7 - 3) * 86400)::BIGINT"
        return f"""
          WITH t AS (SELECT *, (SELECT (floor(max({sec}) / 86400) + 1) * 86400
                                FROM ({src})) - {sec} AS age FROM ({src}))
          SELECT CASE WHEN age <= 172800 THEN 'raw' WHEN age <= 604800 THEN 'hourly'
                      WHEN age <= 1814400 THEN 'daily' ELSE 'weekly' END AS tier,
                 source,
                 CASE WHEN age <= 172800 THEN {sec}
                      WHEN age <= 604800 THEN (floor({sec} / 3600) * 3600)::BIGINT
                      WHEN age <= 1814400 THEN (floor({sec} / 86400) * 86400)::BIGINT
                      ELSE {week} END AS bucket_ts,
                 count(*) AS n, sum(mean_value) AS sum_value
          FROM t GROUP BY ALL"""

    KEYS = {"range": (["k"], ["rows", "n", "min_value", "max_value"], ["sum_value"]),
            "cagg": (["source", "bucket_ts"], ["n"],
                     ["mean_value", "std_value", "q05", "q50", "q95"]),
            "decompress": (["source", "doc_id", "ts_epoch"], ["value"], []),
            "retention": (["tier", "source", "bucket_ts"], ["n"], ["sum_value"])}

    def check(self, ctx, rec: dict) -> list[str]:
        con, q = ctx.duck, rec["query"]
        rows = rec["rows"]
        if q[0] == "range":
            rows = rows.assign(k=1)
        got = oracle.frame_sql(con, "got", rows)
        keys, exact, approx = self.KEYS[q[0]]
        return oracle.mismatches(con, got, self._oracle(con, q), keys, exact, approx,
                                 f"serve {q[0]}")

    def layers(self, ctx, recs: list[dict]) -> dict:
        """``recs``: query records, each with its span's ``ms``."""
        res = {}
        for kind in self.KINDS:
            ms = [r["ms"] for r in recs if r["query"][0] == kind]
            res[f"{kind}.ms_p50"] = statistics.median(ms) if ms else 0.0
        ms = sorted(r["ms"] for r in recs)
        res["query.ms_p90"] = ms[min(len(ms) - 1, int(0.9 * len(ms)))]
        tot = {"files": 0.0, "bytes": 0.0, "rows": 0.0}
        returned = 0
        for r in recs:
            c = rollup(ctx.counters, ctx.tracer, r["sid"])
            tot["files"] += c[spans.FILES_READ]
            tot["bytes"] += c[spans.SIZE_READ]
            tot["rows"] += c["scan_rows"]
            returned += r["rows_returned"]
        n = len(recs)
        res["scan.files_read"] = tot["files"] / n
        res["scan.bytes_read"] = tot["bytes"] / n
        res["scan.rows_per_row_returned"] = tot["rows"] / max(returned, 1)
        return res


# =====================================================================
# engine_pass: cascade ingest, serving reads and catalog leaves
# =====================================================================

LEAVES = ("streaming_cusum_state", "streaming_interval_join", "gapfill_dose_response")
STREAMING = tuple(q for q in LEAVES if q.startswith("streaming_"))
STREAM_KEYS = ("triggers", "addBatch_ms", "queryPlanning_ms", "walCommit_ms",
               "state_rows", "state_mem_bytes", "late_rows_dropped")


class EnginePass:
    """One pass over the engine off the fused write path, each step a
    public call: decode_observations_arrow -> cascade(materialize_dir)
    over raw observations; a seeded serving mix (range, cagg,
    decompress, retention; one query of each) over tiers stored once
    after set-up; then each catalog leaf in LEAVES written
    to the noop sink through QUERIES[name]["fn"] over a seeded
    ``events`` table."""

    name = "engine_pass"

    def __init__(self, cascade_docs: int, serve_docs: int, n_events: int,
                 n_users: int) -> None:
        self.n_docs, self.n_events, self.n_users = cascade_docs, n_events, n_users
        self.serve = ServeTiers(serve_docs)

    def setup(self, ctx) -> None:
        self.seq_dir = os.path.join(ctx.run_dir, "cascade_seq")
        self.sf_dir = os.path.join(ctx.run_dir, "events")
        write_sequences(ctx, self.n_docs, self.seq_dir)
        self.serve.setup(ctx)
        path = fixtures.write_events(self.sf_dir, self.n_events, self.n_users, ctx.seed)
        con = ctx.duck
        con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{path}')")
        self.digests = {q: oracle.digest(con, QUERIES[q]["sql"]) for q in LEAVES}

    def store(self, ctx) -> None:
        self.serve.store(ctx)

    def op(self, ctx, i: int) -> dict:
        spark, tr = ctx.spark, ctx.tracer
        out_dir = os.path.join(ctx.run_dir, f"cascade_{i}")
        seq = spark.read.parquet(self.seq_dir)
        if tr.on:  # probes that stop one layer earlier
            with tr.span("scan", i):
                noop(seq)
            with tr.span("decode", i):
                noop(decode_observations_arrow(seq))
        with tr.span("cascade", i):
            cascade(decode_observations_arrow(seq), materialize_dir=out_dir, spark=spark)
        queries = []
        for kind in ServeTiers.KINDS:
            t0 = time.perf_counter()
            q = self.serve.op(ctx, i, kind)
            q["ms"] = (time.perf_counter() - t0) * 1e3
            queries.append(q)
        results = {}
        for q in LEAVES:
            with tr.span(f"leaf.{q}", i):
                results[q] = QUERIES[q]["fn"](spark, self.sf_dir)
                noop(results[q])
        return {"out_dir": out_dir, "tiers": out_dir, "results": results, "queries": queries}

    def sizes(self, ctx, rec: dict) -> None:
        rec["tier_rows"] = tier_rows(ctx, rec["tiers"])
        rec["stored_bytes"] = dir_bytes(rec["tiers"])[0]

    def check(self, ctx, rec: dict, first: dict) -> list[str]:
        con, out = ctx.duck, rec["out_dir"]
        stored = " UNION ALL ".join(
            f"SELECT '{t}' AS tier, * EXCLUDE (tier) FROM read_parquet('{out}/{t}/*.parquet')"
            for t in TIERS)
        obs = f"SELECT source, doc_id, to_timestamp(ts_epoch) AS ts, value " \
              f"FROM ({oracle.decoded_sql(self.seq_dir)})"
        direct = " UNION ALL ".join(f"""
          SELECT '{t}' AS tier, source, doc_id, date_trunc('{u}', ts) AS bucket_ts,
                 count(value) AS n, sum(value) AS sum_value, min(value) AS min_value,
                 max(value) AS max_value, sum(value * value) AS sumsq_value
          FROM ({obs}) GROUP BY ALL""" for t, u in zip(TIERS, ("hour", "day", "week")))
        bad = oracle.mismatches(con, stored, direct, ["tier", "source", "doc_id", "bucket_ts"],
                                ["n", "min_value", "max_value"], ["sum_value", "sumsq_value"],
                                "cascade")
        for q in rec["queries"]:
            bad += self.serve.check(ctx, q)
        for q, df in rec.pop("results").items():
            got = oracle.digest(con, oracle.frame_sql(con, "leaf_out", df.toPandas()))
            if got != self.digests[q]:
                bad.append(f"{q}: digest {got} != oracle {self.digests[q]}")
        return bad

    def layers(self, ctx, recs: list[dict]) -> dict:
        tr = ctx.tracer
        out: dict[str, list] = {}

        def add(k, v):
            out.setdefault(k, []).append(v)

        for rec in recs:
            i = rec["op"]
            scan, dec = span_s(tr, "scan", i), span_s(tr, "decode", i)
            d = span_counters(ctx, "decode", i)
            add("decode.s", dec - scan)
            add("decode.python_s", d[spans.PY_RUN])
            add("decode.arrow_bytes_out", d[spans.PY_OUT])
            c = span_counters(ctx, "cascade", i)
            for t, s in zip(TIERS, ctx.writes_in_span("cascade", i)):
                add(f"rollup.{t}_s", s)
            add("rollup.shuffle_write_bytes", c["shuffle_write_bytes"])
            add("rollup.agg_build_s", c[spans.AGG_BUILD])
            add("rollup.spill_bytes", c["spill_bytes"])
            add("rollup.peak_exec_mem_bytes", c["peak_exec_mem_bytes"])
            add("sink.bytes_written", rec["stored_bytes"])
            for q in LEAVES:
                sid = next(s["id"] for s in tr.spans if s["name"] == f"leaf.{q}" and s["op"] == i)
                lc = rollup(ctx.counters, tr, sid)
                add(f"leaf.{q}.s", tr.dur(sid))
                add(f"leaf.{q}.python_s", lc[spans.PY_RUN])
                add(f"leaf.{q}.shuffle_bytes", lc["shuffle_write_bytes"])
                if q in STREAMING:
                    s = tr.spans[sid]
                    st = ctx.streams.for_window(s["start"], s["end"])
                    for k in STREAM_KEYS:
                        add(f"streaming.{q}.{k}", st[k])
        res = {k: statistics.median(v) for k, v in out.items()}
        res.update(self.serve.layers(ctx, [q for r in recs for q in r["queries"]]))
        return res
