from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
# Pinned float outputs (test_fused_output_pinned) are the bits of the
# numpy encoder's float32 GEMMs, and OpenBLAS picks its GEMM kernel by
# CPU when it loads: on one host the electra digest read 4debd357686a3b1f
# (SapphireRapids kernel), 31b07bfea5ab7c97 (SkylakeX), 50deaa7c80d532eb
# (Haswell) and 3ebcf2428b63fbcd (Prescott).  Fix the kernel to the
# generic x86-64 one so the pins name the code, not the host.  Set
# before numpy loads, here and in the Spark workers this process starts.
# A stopgap for the suite only: the engine and perfbench run the host's
# own kernel (ROADMAP item 9).
os.environ.setdefault("OPENBLAS_CORETYPE", "Prescott")


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
