#!/usr/bin/env python3
"""The benchmark's own test, at tiny input sizes (a few minutes):

    python3 perfbench/smoke.py

For every workload it runs ``run.py --size smoke`` untraced and traced
and checks that
  * every metric named in BENCHMARK.json is emitted, with its unit;
  * the traced spans cover each ingest job's wall time (what no span
    covers is under 10% of the job);
  * every operation passed its output check (failed = 0, fail_ratio = 0);
  * the traced run measured its layers (a set of per-layer metrics > 0);
and, before that, that the gap-fill value check of ``oracle.py`` flags
hourly rows of value 0 or NaN (outside the observed range) or with n = 2.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import oracle  # noqa: E402

# per-layer metrics that only a working span / event-log / listener fold
# makes non-zero
NONZERO = {
    "ingest_fused": ["manifest.todo_s", "sink.s", "gapfill.python_s",
                     "gapfill.arrow_bytes_out", "sink.files_written", "compress.ratio"],
    "engine_pass": ["decode.python_s", "rollup.hourly_s", "rollup.weekly_s",
                    "rollup.shuffle_write_bytes", "cagg.ms_p50", "scan.files_read",
                    "leaf.streaming_cusum_state.python_s",
                    "streaming.streaming_cusum_state.triggers",
                    "streaming.streaming_interval_join.state_rows"],
}


def run(workload: str, trace: int, spans_out: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    if spans_out:
        cmd += ["--spans-out", spans_out]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def expect(ok: bool, what: str) -> None:
    print(("ok    " if ok else "FAIL  ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def check_gapfill_oracle() -> None:
    con = oracle.connect()
    obs = "SELECT * FROM (VALUES ('d', 0.5), ('d', 2.0)) t(doc_id, value)"

    def hourly(v, n=1):
        return (f"SELECT 'd' AS doc_id, {n} AS n, {v}::DOUBLE AS sum_value, "
                f"{v}::DOUBLE AS min_value, {v}::DOUBLE AS max_value")

    expect(oracle.gapfill_outside(con, hourly(1.25), obs) == 0,
           "gap-fill check passes a value inside the observed range")
    for v, n in ((0, 1), ("'NaN'", 1), (1.25, 2)):
        expect(oracle.gapfill_outside(con, hourly(v, n), obs) == 1,
               f"gap-fill check flags value {v} with n = {n}")


def main() -> None:
    check_gapfill_oracle()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            with tempfile.TemporaryDirectory() as tmp:
                spans_path = os.path.join(tmp, "spans.json")
                res = run(wl, trace, spans_path if trace else None)
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                expect(got == want, f"{wl} trace={trace}: {len(want)} metrics with units")
                expect(res["failed"] == 0 and res["correct"] and res["attempted"] >= 1,
                       f"{wl} trace={trace}: {res['attempted']} ops, 0 failed")
                if trace:
                    m = res["metrics"]
                    expect(m["fail_ratio"]["value"] == 0, f"{wl}: fail_ratio 0")
                    zero = [k for k in NONZERO[wl] if not m[k]["value"] > 0]
                    expect(not zero, f"{wl}: layer metrics measured (zero: {zero})")
                    with open(spans_path) as f:
                        spans = json.load(f)
                    expect(bool(spans) and all(s["end"] >= s["start"] for s in spans),
                           f"{wl}: {len(spans)} closed spans")
                    if wl == "ingest_fused":
                        job = m["trace.op_p50_ms"]["value"] / 1e3
                        rest = m["layers.remainder_s"]["value"]
                        expect(rest < 0.1 * job, f"{wl}: spans cover the job "
                               f"({rest:.3f} s of {job:.3f} s uncovered)")


if __name__ == "__main__":
    main()
