from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
# Pinned float outputs (test_fused_output_pinned) are the bits of the
# numpy encoder's float32 GEMMs, which depend on OpenBLAS's GEMM kernel.
# Pin it by instruction-set tier as the engine does (session.py), before
# numpy loads, so this process and the Spark workers it starts run one
# kernel: the driver-vs-worker parity tests compare their bits exactly.
from relation_extraction_cdr_spark._blas import pin_kernel  # noqa: E402

pin_kernel()


@pytest.fixture(scope="session")
def spark():
    from relation_extraction_cdr_spark.session import spark_session

    s = spark_session("pytest")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def fixtures(spark):
    """(pages, gold_mentions, gold_relations) at 60 docs, seed 42."""
    from relation_extraction_cdr_spark import datagen

    pages, gm, gr = datagen.gen_fixture_dfs(spark, 60)
    return pages.cache(), gm.cache(), gr.cache()


@pytest.fixture(scope="session")
def mesh(spark):
    from relation_extraction_cdr_spark import datagen

    return datagen.mesh_df(spark).cache()
