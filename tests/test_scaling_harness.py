"""The scaling harness (tools/bench_scaling_calibrated.py) without a
Spark session: its one clean-pair rule rescoring the archived round-2
sessions, the import the frozen bench.py depends on, and the CPUs each
level is pinned to."""

import glob
import json
import os
import subprocess
import sys

import pytest

from tools.bench_scaling_calibrated import level_cpus, score

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _python(code: str) -> str:
    r = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout


def test_score_reproduces_the_archived_r2_rescore():
    paths = sorted(glob.glob(os.path.join(ROOT, "bench_results/scaling_r2/calibrated_*.json")))
    assert len(paths) == 4
    s = score([json.load(open(p)) for p in paths])
    assert (s["n_pairs"], s["n_clean"], s["n_superideal_excluded"]) == (66, 13, 3)
    assert s["scaling_efficiency_clean"] == 0.599


def test_probe_capacity_imports_in_a_fresh_interpreter():
    # bench.py imports it lazily and reports -1 when the import fails
    _python("from tools.bench_scaling_calibrated import probe_capacity")


def test_level_cpus_takes_the_first_cpus_of_the_mask():
    mask = sorted(os.sched_getaffinity(0))
    assert level_cpus(1) == mask[:1]
    assert level_cpus(len(mask)) == mask
    for cores in (0, len(mask) + 1):
        with pytest.raises(ValueError):
            level_cpus(cores)


@pytest.mark.skipif(len(os.sched_getaffinity(0)) < 2, reason="needs two CPUs")
def test_level_cpus_follows_a_mask_that_skips_cpu0():
    last = max(os.sched_getaffinity(0))
    out = _python(
        f"import os; os.sched_setaffinity(0, {{{last}}})\n"
        "from tools.bench_scaling_calibrated import level_cpus\n"
        "print(level_cpus(1))")
    assert out.strip() == f"[{last}]"
