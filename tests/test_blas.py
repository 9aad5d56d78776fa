"""The OpenBLAS kernel pin (relation_extraction_cdr_spark._blas).

OpenBLAS does not reject a kernel name it does not know (it loads some
other kernel), so these tests read the kernel back from the library
rather than trusting ``OPENBLAS_CORETYPE``.
"""

from __future__ import annotations

import ctypes
import glob
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

from relation_extraction_cdr_spark._blas import cpu_flags, kernel_for, pin_kernel

REPO = Path(__file__).resolve().parent.parent
AVX512 = {"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"}


def openblas_corename() -> str | None:
    """The GEMM kernel numpy's bundled OpenBLAS loaded in this process."""
    import numpy as np

    libs = os.path.join(os.path.dirname(np.__file__), os.pardir, "numpy.libs")
    for lib in sorted(glob.glob(os.path.join(libs, "libopenblas*"))):
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            get = getattr(ctypes.CDLL(lib), sym, None)
            if get is not None:
                get.restype = ctypes.c_char_p
                return get().decode()
    return None


def worker_corename(spark) -> str | None:
    """The kernel a Spark Python worker runs (one task)."""
    from pyspark import cloudpickle

    def probe(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"kernel": [openblas_corename()]})

    # ship openblas_corename by value: workers need not import tests/
    module = sys.modules[__name__]
    cloudpickle.register_pickle_by_value(module)
    try:
        rows = spark.range(1, numPartitions=1).mapInPandas(probe, "kernel string").collect()
    finally:
        cloudpickle.unregister_pickle_by_value(module)
    return rows[0].kernel


def _cpuinfo(tmp_path, flags):
    path = tmp_path / "cpuinfo"
    path.write_text(f"processor\t: 0\nflags\t\t: {' '.join(sorted(flags))}\n\n")
    return str(path)


def test_kernel_by_flags(tmp_path):
    base = {"sse2", "sse3", "avx"}
    assert kernel_for(frozenset(base | AVX512 | {"avx2", "fma"})) == "SkylakeX"
    # AVX-512 without VL is not the SkylakeX tier
    assert kernel_for(frozenset(base | AVX512 - {"avx512vl"} | {"avx2", "fma"})) == "Haswell"
    assert kernel_for(frozenset(base | {"avx2", "fma"})) == "Haswell"
    assert kernel_for(frozenset(base | {"avx2"})) is None  # no FMA
    assert kernel_for(frozenset(base)) is None
    assert kernel_for(frozenset()) is None

    path = _cpuinfo(tmp_path, base | AVX512 | {"avx2", "fma"})
    assert cpu_flags(path) == frozenset(base | AVX512 | {"avx2", "fma"})
    assert cpu_flags(str(tmp_path / "missing")) == frozenset()


def test_pin_kernel_sets_only_an_unset_variable(tmp_path, monkeypatch):
    haswell = _cpuinfo(tmp_path, {"avx2", "fma"})
    monkeypatch.delenv("OPENBLAS_CORETYPE", raising=False)
    assert pin_kernel(str(tmp_path / "missing")) is None
    assert "OPENBLAS_CORETYPE" not in os.environ
    assert pin_kernel(haswell) == "Haswell"
    assert os.environ["OPENBLAS_CORETYPE"] == "Haswell"
    monkeypatch.setenv("OPENBLAS_CORETYPE", "Prescott")
    assert pin_kernel(haswell) == "Haswell"
    assert os.environ["OPENBLAS_CORETYPE"] == "Prescott"


def _session_import_kernel(coretype: str | None) -> tuple[str, str]:
    """(OPENBLAS_CORETYPE, loaded kernel) in a fresh process that imports
    session.py and then numpy."""
    env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
    if coretype is not None:
        env["OPENBLAS_CORETYPE"] = coretype
    code = (
        "import os, relation_extraction_cdr_spark.session\n"
        "from tests.test_blas import openblas_corename\n"
        "print(os.environ.get('OPENBLAS_CORETYPE'), openblas_corename())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO, check=True,
        capture_output=True, text=True, timeout=120,
    )
    var, kernel = out.stdout.split()
    return var, kernel


def test_session_import_pins_the_tier_and_keeps_a_preset_kernel():
    expect = kernel_for(cpu_flags())
    if expect is None:
        pytest.skip("no x86 AVX2/AVX-512 tier on this host: nothing is pinned")
    assert _session_import_kernel(None) == (expect, expect)
    assert _session_import_kernel("Prescott") == ("Prescott", "Prescott")


def test_driver_and_workers_run_the_pinned_kernel(spark):
    """The pytest driver and a Spark worker load one kernel, the helper's
    pick on this host (the exact driver-vs-worker parity tests need it)."""
    expect = kernel_for(cpu_flags())
    driver = openblas_corename()
    assert worker_corename(spark) == driver
    if expect is not None and os.environ.get("OPENBLAS_CORETYPE") == expect:
        assert driver == expect
