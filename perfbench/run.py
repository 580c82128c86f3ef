#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload ingest_fused --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run starts its own Spark session at
local[nproc], sets up its inputs from ``--seed`` several times (set-up
time is the median), then times operations and checks every
operation's output with DuckDB outside the timed span. Operations run
back to back for ``--seconds``, at least one; the first is the first of
the session, cold, as a fresh batch job (one spark-submit) sees it.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` runs the same flow with the Spark event log on and every
public call of the measured operations in a span, and prints the
per-layer metrics (0 for layers the workload does not run). Its
``trace.op_p50_ms`` minus an untraced run's ``op_p50_ms`` is the tracing
overhead. Spans are written to ``--spans-out`` when given.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402

SETUP_REPS = 3
PROBES = ("scan", "gapfill", "decode")  # traced-only actions that stop a layer early
SIZES = {
    "full": dict(fused=300, cascade=3000, serve=200, events=10000, users=300),
    "smoke": dict(fused=60, cascade=200, serve=60, events=600, users=40),
}


def make_workload(name: str, size: str):
    from perfbench import workloads as w

    s = SIZES[size]
    if name == "ingest_fused":
        return w.IngestFused(s["fused"])
    return w.EnginePass(s["cascade"], s["serve"], s["events"], s["users"])


class Ctx:
    def __init__(self, run_dir: str, seed: int) -> None:
        from perfbench import oracle
        from perfbench.spans import Tracer

        self.run_dir, self.seed = run_dir, seed
        self.spark = None
        self.duck = oracle.connect()
        self.tracer = Tracer()
        self.counters: dict = {}
        self.executions: dict = {}
        self.streams = None

    def start(self, log_dir: str | None = None) -> None:
        from sentinel2_crop_trait_timeseries_spark.session import get_spark
        from perfbench import spans

        n = host.nproc()
        conf = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if log_dir:
            conf.update(spans.event_log_conf(log_dir))
        self.spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                               extra_conf=conf)

    def writes_in_span(self, name: str, op: int) -> list[float]:
        """Durations of the parquet-write SQL executions inside a span,
        in call order."""
        s = next(s for s in self.tracer.spans if s["name"] == name and s["op"] == op)
        ws = sorted((e["start"], e["end"] - e["start"]) for e in self.executions.values()
                    if e["write"] and s["start"] <= e["start"] <= s["end"])
        return [d for _, d in ws]


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def measure(ctx: Ctx, wl, seconds: float) -> tuple[list, int]:
    """Closed loop: operations back to back until ``seconds`` have passed
    (at least one). Returns (records, failed operations)."""
    recs, failed, i = [], 0, 0
    t_end = time.perf_counter() + seconds
    while not recs or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("op", i):
                rec = wl.op(ctx, i)
            rec["ms"] = (time.perf_counter() - t0) * 1e3
            rec["op"] = i
            wl.sizes(ctx, rec)
            recs.append(rec)
        except Exception:
            traceback.print_exc()
            failed += 1
        i += 1
        if failed and not recs and time.perf_counter() >= t_end:
            break
    return recs, failed


def check_all(ctx: Ctx, wl, recs: list, first: dict) -> int:
    """Check each operation's output; returns how many failed. ``first``
    gets the full check; the workload may compare later ones to it."""
    failed = 0
    for rec in recs:
        try:
            bad = wl.check(ctx, rec, first)
        except Exception:
            traceback.print_exc()
            bad = ["check raised"]
        for msg in bad:
            print(f"[check] {wl.name} op {rec['op']}: {msg}", file=sys.stderr)
        failed += bool(bad)
    return failed


def run(args, run_dir: str, spec: dict) -> dict:
    from perfbench import spans

    wl = make_workload(args.workload, args.size)
    ctx = Ctx(run_dir, args.seed)
    sampler = host.RssSampler()
    log_dir = os.path.join(run_dir, "eventlog")
    try:
        t0 = time.perf_counter()
        if args.trace:
            os.makedirs(log_dir)
        ctx.start(log_dir if args.trace else None)
        session_s = time.perf_counter() - t0
        log("session started")
        setup_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(ctx)
            setup_s.append(time.perf_counter() - t0)
            log("set-up done")
        t0 = time.perf_counter()
        wl.store(ctx)
        store_s = time.perf_counter() - t0
        log("store done")
        if args.trace:
            ctx.tracer = spans.Tracer(ctx.spark)
            ctx.streams = spans.StreamCapture(ctx.spark)
        sampler.active = bool(args.trace)
        recs, failed = measure(ctx, wl, args.seconds)
        sampler.active = False
        log(f"measured {len(recs)} ops")
        attempted = len(recs) + failed
        if recs:
            failed += check_all(ctx, wl, recs, recs[0])
            log("checked")
        if not recs:
            # nothing to measure: report the failures with what set-up measured
            metrics = {"fail_ratio": 1.0} if args.trace else {
                "setup_s": statistics.median(setup_s)}
            names = list(metrics)
        elif not args.trace:
            metrics = {
                "setup_s": statistics.median(setup_s),
                "op_p50_ms": statistics.median(r["ms"] for r in recs),
                "stored_bytes_per_point": statistics.median(
                    r["stored_bytes"] / r["tier_rows"] for r in recs),
            }
            names = [m["name"] for m in spec["end_to_end"]]
        else:
            ctx.spark.stop()  # closes the event log
            ctx.counters, ctx.executions = spans.fold_event_log(log_dir, ctx.tracer)
            tr = ctx.tracer
            metrics = {k: 0.0 for k in (m["name"] for m in spec["per_layer"])}
            metrics.update(wl.layers(ctx, recs))
            # the traced op without the probes, to compare with op_p50_ms
            # of an untraced run: the difference is the tracing overhead
            probes = [sum(tr.dur(s["id"]) for s in tr.spans
                          if s["op"] == r["op"] and s["name"] in PROBES) for r in recs]
            metrics["trace.op_p50_ms"] = statistics.median(
                r["ms"] - 1e3 * p for r, p in zip(recs, probes))
            ops = {s["op"]: s["id"] for s in tr.spans if s["name"] == "op"}
            metrics["layers.remainder_s"] = statistics.median(
                tr.dur(ops[r["op"]]) - sum(tr.dur(s["id"]) for s in tr.spans
                                           if s["parent"] == ops[r["op"]])
                for r in recs)
            metrics["setup.session_s"] = session_s
            metrics["setup.store_s"] = store_s
            metrics["fail_ratio"] = failed / attempted
            metrics["worker_peak_rss_mb"] = sampler.peak_mb
            if args.spans_out:
                tr.dump(args.spans_out, ctx.counters)
            names = [m["name"] for m in spec["per_layer"]]
    finally:
        sampler.close()
        host.stop_all(ctx.spark, None)
        log("stopped")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    unknown = set(metrics) - set(units)
    if unknown:
        raise SystemExit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in names},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest_fused", "engine_pass"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--spans-out", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    try:  # the program under test must be importable from the checkout
        import sentinel2_crop_trait_timeseries_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: package not found: {e}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and deletes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = host.prepare(ROOT)
    try:
        result = run(args, run_dir, spec)
    finally:
        host.stop_all(None, run_dir)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
