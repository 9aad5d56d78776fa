"""relation_extraction_cdr_spark — a PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of the
reference repo ``thaiduongx26/relation_extraction_cdr`` (see SURVEY.md).

Brand-new Spark-first design, NOT a port: logical plans are declared with
the DataFrame/SQL API (Catalyst + Tungsten pick the physical strategy);
Python only runs inside Arrow-batched pandas UDFs (never per-row).

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, adaptive skew join)
- ``sources``    PubTator / MeSH-tree / pages readers, sinks
- ``functions``  scalar text/similarity/quality column expressions
- ``operators``  mentions, candidates (+Levi filter), evidence, dedup, ANN
- ``scoring``    deterministic batch scorer (pandas-UDF shaped)
- ``plans``      end-to-end triple-factory pipeline + metrics
- ``streaming``  incremental / resumable execution (checkpoint lineage)
- ``_zipstamp``  installed on import: Python workers skip re-reading
                 unchanged zip archives on every task (Python < 3.13)
"""

__version__ = "0.1.0"

# every Python worker that unpickles an engine UDF imports this package,
# so every worker stops re-reading unchanged zip archives per task
from . import _zipstamp

_zipstamp.install()
