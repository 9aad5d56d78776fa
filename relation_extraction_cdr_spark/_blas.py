"""OpenBLAS GEMM kernel by instruction-set tier.

numpy's bundled OpenBLAS (``DYNAMIC_ARCH``) picks its GEMM kernel by CPU
*model* when it loads, and falls back to ``Prescott``, the generic SSE3
kernel, on a model it does not know.  The float32 encoder GEMMs then run
at a fraction of the core's speed, and each kernel rounds its own way.
``pin_kernel`` names the kernel from the ``flags`` line of
``/proc/cpuinfo`` instead, through ``OPENBLAS_CORETYPE``, which OpenBLAS
reads when it loads: so it must run before numpy is imported, and this
module imports neither numpy nor pyspark.

- ``avx512f avx512cd avx512bw avx512dq avx512vl`` → ``SkylakeX``;
- else ``avx2 fma`` → ``Haswell``;
- else (no such file, not x86, an older CPU) → ``None``: OpenBLAS picks.

One kernel per tier, so one set of float bits per tier.  OpenBLAS does
not reject a name it does not know, so only reading the kernel back
(``openblas_get_corename64_``) catches a misspelt one.
"""

from __future__ import annotations

import os

_AVX512 = frozenset({"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"})
_AVX2 = frozenset({"avx2", "fma"})


def cpu_flags(cpuinfo: str = "/proc/cpuinfo") -> frozenset[str]:
    """The first ``flags`` line's words; empty when there is none."""
    try:
        with open(cpuinfo, encoding="ascii", errors="replace") as fh:
            for line in fh:
                if line.startswith("flags"):
                    return frozenset(line.partition(":")[2].split())
    except OSError:
        pass
    return frozenset()


def kernel_for(flags: frozenset[str]) -> str | None:
    """The OpenBLAS kernel for a set of CPU flags, or None."""
    if _AVX512 <= flags:
        return "SkylakeX"
    if _AVX2 <= flags:
        return "Haswell"
    return None


def pin_kernel(cpuinfo: str = "/proc/cpuinfo") -> str | None:
    """Set ``OPENBLAS_CORETYPE`` to this CPU's tier unless it is already
    set; returns the tier's kernel (None: nothing set)."""
    kernel = kernel_for(cpu_flags(cpuinfo))
    if kernel is not None:
        os.environ.setdefault("OPENBLAS_CORETYPE", kernel)
    return kernel
