"""Every package module and every tools/ script imports on its own, in a
fresh interpreter.

An import cycle only bites when the cycle's entry point is imported
first: inside one pytest process every module is already loaded by
some earlier test, so the cycle stays hidden. One subprocess per module
makes each module the first import of its interpreter. The tools/
scripts are included so that a helper one script imports from another
cannot be deleted or renamed without failing here.
"""

import os
import pkgutil
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

import sentinel2_crop_trait_timeseries_spark as pkg

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _modules() -> list[str]:
    names = [m.name for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + ".")]
    names += [m.name for m in pkgutil.iter_modules([os.path.join(ROOT, "tools")], "tools.")]
    return sorted(names)


def _import_error(name: str) -> str | None:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    r = subprocess.run([sys.executable, "-c", f"import {name}"], env=env,
                       capture_output=True, text=True, timeout=120)
    if r.returncode:
        return f"{name}: {r.stderr.strip().splitlines()[-1]}"
    return None


def test_every_module_imports_in_a_fresh_interpreter():
    names = _modules()
    assert len(names) > 20 and f"{pkg.__name__}.catalog_ts" in names
    assert "tools.bench_scaling_calibrated" in names
    with ThreadPoolExecutor(max_workers=min(4, len(os.sched_getaffinity(0)))) as ex:
        errors = [e for e in ex.map(_import_error, names) if e]
    assert not errors, "\n".join(errors)
