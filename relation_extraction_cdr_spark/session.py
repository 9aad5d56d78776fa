"""SparkSession factory tuned for the triple-factory workload.

Scale rationale (100 TB / 1000-executor target, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  (long web documents skew the scorer stage; AQE handles join skew, we
  additionally salt the scorer repartition — see plans.pipeline).
- Arrow on: every Python boundary is an Arrow batch, never per-row.
- shuffle.partitions: small default for local tests; production submits
  override via spark-submit conf (or rely on AQE coalescing).
- BLAS: one thread per Python worker, and OpenBLAS's GEMM kernel pinned
  by the driver CPU's instruction-set tier (``_blas.pin_kernel``:
  AVX-512 → SkylakeX, AVX2+FMA → Haswell), so the encoder never runs the
  generic Prescott kernel OpenBLAS falls back to on a CPU model it does
  not know, and its float bits are those of the tier's kernel.  In local
  mode the JVM, and through it every Python worker, inherits the pin
  from this process's environment.  It is deliberately NOT sent as
  ``spark.executorEnv``: the driver's CPU does not describe a cluster's
  executors, and an AVX-512 kernel on an executor without AVX-512 dies
  of SIGILL.  Executors keep OpenBLAS's own pick.
"""

from __future__ import annotations

import os

from ._blas import pin_kernel

# before pyspark, which loads numpy: OpenBLAS reads the kernel when it
# loads.  Python workers inherit it through the JVM (local mode only, see
# above); a kernel the user exported is kept
pin_kernel()

from pyspark.sql import SparkSession  # noqa: E402

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

# belt-and-braces for local mode: python workers inherit the JVM's env,
# which inherits ours — pin BLAS threading before any worker starts
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")


def spark_session(
    app_name: str = "relation_extraction_cdr_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster the submitter sets it (spark-submit --master yarn/k8s) and this
    argument is left None.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # deterministic session timezone so timestamp round-trips are stable
        .config("spark.sql.session.timeZone", "UTC")
        # generous broadcast threshold: the MeSH gazetteer (~58k rows) and
        # TPC-H dims must always broadcast, never shuffle
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # sandbox disk is slow (~40 MB/s); shuffle through tmpfs — the
        # single-machine analog of cluster NVMe shuffle volumes
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        # one BLAS thread per python worker: Spark already parallelizes
        # across workers; multithreaded BLAS inside each of N workers
        # oversubscribes the box N-fold and destroys scaling
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


CATALOG_SCHEME = "catalog:"


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Register the engine's input tables as temp views.

    Returns a dict name -> DataFrame.  Two source modes, chosen by the
    ``sf_dir`` string — every query in the engine is source-agnostic
    through this one seam:

    - a filesystem directory: ``spark.read.parquet(dir/<name>.parquet)``
      (DataSource V1, full column-pruning + predicate pushdown);
    - ``catalog:<namespace>``: ``spark.read.table(<namespace>.<name>)``
      — the catalog-managed path.  This is exactly how the engine runs
      against Iceberg on a real cluster: supply the Iceberg runtime jar
      + catalog conf to spark-submit and pass
      ``catalog:my_iceberg_catalog.db``; scans become DSv2 with the
      same pushdowns plus partition pruning / snapshot reads from the
      table metadata.  Nothing else in any plan changes.  (The sandbox
      has no Iceberg jars, so tests exercise this mode through
      saveAsTable-registered tables in the built-in session catalog —
      the identical ``read.table`` code path.)
    """
    all_names = (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
    out = {}
    requested = names or all_names
    if sf_dir.startswith(CATALOG_SCHEME):
        ns = sf_dir[len(CATALOG_SCHEME) :]
        for name in requested:
            if spark.catalog.tableExists(f"{ns}.{name}"):
                df = spark.read.table(f"{ns}.{name}")
                df.createOrReplaceTempView(name)
                out[name] = df
        if names and (missing := [n for n in names if n not in out]):
            raise FileNotFoundError(
                f"table(s) {missing} not found in catalog namespace {ns!r}"
            )
        return out
    for name in requested:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.createOrReplaceTempView(name)
            out[name] = df
    if names and (missing := [n for n in names if n not in out]):
        raise FileNotFoundError(
            f"table(s) {missing} not found under {sf_dir!r} "
            f"(expected <name>.parquet files)"
        )
    return out
