"""Query registry: every implemented operator exposed as a
(spark_fn, oracle_sql) pair over the driver-provided tables
(region nation customer supplier part orders lineitem events documents
embeddings).

Contract (driver correctness gate):
- spark_fn(spark, sf_dir) -> DataFrame
- oracle_sql: ANSI SQL DuckDB runs on the same parquet (same view names)
- column names AND values must match exactly (order-insensitive hash)

Determinism rules used throughout:
- double aggregates go through DECIMAL(38,4) on BOTH engines so float
  summation order can never drift the hash; final cast back to double
- every ranking has a total order (explicit tiebreak columns)
- timestamps leave results as formatted strings
- hashing for comparable results is md5 (never engine-native hash())

Each query's docstring cites the SURVEY §2 operator ids it covers.

Known cross-engine parity limits (latent; the driver's fixture corpora
— lowercase ASCII, punctuation-free, NULL-free — do not exercise them;
the authoritative semantics are the SPARK side, golden-tested in
pytest against the reference's Python kernels):
- Unicode LOWER(): JVM full case mapping vs DuckDB utf8proc simple
  mapping diverge on U+0130 'İ' and final sigma — affects any
  fingerprint/tokenize oracle on such text.
- Regex whitespace dialect: Java's backslash-s includes vertical tab
  U+000B, RE2's does not — affects whitespace tokenization oracles on
  text containing a vertical tab.
- ROUND(double, n): Spark rounds the shortest-decimal representation
  (HALF_UP) vs DuckDB the scaled binary value — 4-6dp representational
  ties (e.g. 3/20000) can round apart; sums are already routed through
  DECIMAL, ratios are not.
- The mentions-family SQL renders a simplified space-split candidate
  stream; the engine's detector (operators.mentions.detect_mentions_py)
  additionally strips token-edge punctuation (pytest checks it against
  the generator's gold offsets, which is the authoritative check).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 - pandas_udf string annotations resolve here
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import quality as Q
from ..functions.text import BPEISH_PATTERN
from ..operators import ann as ANN
from ..operators import dedup as DD
from ..operators.mentions import gazetteer_dict, longest_term_words
from ..session import load_tables

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir, names or None)


def dec(col, scale: int = 4):
    """Decimal-stabilized value for cross-engine sums."""
    return F.col(col).cast(f"decimal(38,{scale})") if isinstance(col, str) else col.cast(f"decimal(38,{scale})")


# ---------------------------------------------------------------------------
# 1. scans / filters / projections / aggregation core
# ---------------------------------------------------------------------------

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4)) * CAST(1 - l_discount AS DECIMAL(38,4))) AS DOUBLE) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    """TPC-H Q1 shape: scan S1 + filter P-family + groupBy aggregate
    A1/A5/A6 with map-side partial aggregation."""
    t = _t(spark, sf_dir, "lineitem")
    li = t["lineitem"].where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(38,4)")).cast("double").alias("sum_disc_price"),
        F.count("*").alias("count_order"),
    )


@register(
    "q02_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(38,4)) * CAST(1 - l_discount AS DECIMAL(38,4)) * CAST(1 + l_tax AS DECIMAL(38,4)), 2) AS DOUBLE) AS charge
    FROM lineitem
    WHERE l_quantity BETWEEN 20 AND 25 AND l_returnflag = 'R'
    """,
)
def q02(spark, sf_dir):
    """Projection/filter pushdown (P1-P7): predicate + computed column;
    .explain shows PushedFilters on quantity/returnflag and a pruned
    ReadSchema."""
    t = _t(spark, sf_dir, "lineitem")
    li = t["lineitem"].where(
        F.col("l_quantity").between(20, 25) & (F.col("l_returnflag") == "R")
    )
    charge = (
        dec("l_extendedprice")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(38,4)")
        * (F.lit(1) + F.col("l_tax")).cast("decimal(38,4)")
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(charge, 2).cast("double").alias("charge"),
    )


@register(
    "q03_broadcast_join",
    """
    SELECT n_name, r_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    """,
)
def q03(spark, sf_dir):
    """Dimension joins J7: customer/nation/region broadcast — no shuffle
    on the fact side except the final small groupBy."""
    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    df = (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return df.groupBy("n_name", "r_name").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
        F.count("*").alias("n_orders"),
    )


@register(
    "q04_semi_join",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
    GROUP BY o_orderpriority
    """,
)
def q04(spark, sf_dir):
    """Semi-join J4/P5 (endpoint-validity shape): orders with a qualifying
    lineitem, left_semi so the probe side is never duplicated."""
    t = _t(spark, sf_dir, "orders", "lineitem")
    qual = t["lineitem"].where(F.col("l_discount") > 0.05)
    return (
        t["orders"]
        .join(qual, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q05_anti_join",
    """
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    """,
)
def q05(spark, sf_dir):
    """Anti-join U2 (negatives = all EXCEPT gold shape)."""
    t = _t(spark, sf_dir, "customer", "orders", "nation")
    no_orders = t["customer"].join(
        t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "q06_pergroup_cross_join",
    """
    SELECT n_nationkey, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM supplier JOIN customer ON s_nationkey = c_nationkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_nationkey
    """,
)
def q06(spark, sf_dir):
    """J1 candidate-generation shape: equi-join on the group key whose
    output is the within-group cartesian product (supplier x customer per
    nation) — the same plan as per-document chemical x disease pairs."""
    t = _t(spark, sf_dir, "supplier", "customer", "nation")
    pairs = t["supplier"].join(
        t["customer"], F.col("s_nationkey") == F.col("c_nationkey")
    )
    return (
        pairs.join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_nationkey")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# 2. windows / ranking / ordering
# ---------------------------------------------------------------------------

@register(
    "q07_window_topk",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders)
    WHERE rnk <= 2
    """,
)
def q07(spark, sf_dir):
    """Top-k per group W3/W6: row_number with a total order."""
    t = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        t["orders"]
        .select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 2)
    )


@register(
    "q08_dense_rank",
    """
    SELECT p_partkey, p_brand,
           CAST(DENSE_RANK() OVER (PARTITION BY p_brand ORDER BY p_retailprice) AS INT) AS price_rank
    FROM part WHERE p_size < 10
    """,
)
def q08(spark, sf_dir):
    """A10 LabelEncoder analog: dense_rank over sorted values per group
    (sklearn's lexicographic dense re-encoding, cdr_dataset.py:363-367)."""
    t = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice")
    return (
        t["part"].where(F.col("p_size") < 10)
        .select("p_partkey", "p_brand", F.dense_rank().over(w).alias("price_rank"))
    )


@register(
    "q09_min_by",
    """
    SELECT o_custkey, o_orderkey AS cheapest_order, o_totalprice AS min_price FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn
      FROM orders)
    WHERE rn = 1
    """,
)
def q09(spark, sf_dir):
    """W3 min-distance top-1 (min_by semantics with deterministic ties)."""
    t = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return (
        t["orders"]
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("cheapest_order"),
            F.col("o_totalprice").alias("min_price"),
        )
    )


@register(
    "q10_topk_global",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def q10(spark, sf_dir):
    """Global top-k (TakeOrderedAndProject — no full sort at scale)."""
    t = _t(spark, sf_dir, "orders")
    return (
        t["orders"]
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# 3. set operations
# ---------------------------------------------------------------------------

@register(
    "q11_union",
    """
    SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT 'urgent' AS src, o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT 'high' AS src, o_orderkey FROM orders WHERE o_orderpriority = '2-HIGH')
    GROUP BY src
    """,
)
def q11(spark, sf_dir):
    """U1 unionByName of two filtered streams."""
    t = _t(spark, sf_dir, "orders")
    a = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select(
        F.lit("urgent").alias("src"), "o_orderkey"
    )
    b = t["orders"].where(F.col("o_orderpriority") == "2-HIGH").select(
        F.lit("high").alias("src"), "o_orderkey"
    )
    return a.unionByName(b).groupBy("src").agg(F.count("*").alias("n"))


@register(
    "q12_symmetric_pair_dedup",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM (
      SELECT DISTINCT LEAST(l_partkey, l_suppkey) AS lo,
                      GREATEST(l_partkey, l_suppkey) AS hi
      FROM lineitem)
    """,
)
def q12(spark, sf_dir):
    """U3 symmetric pair dedup via (least, greatest)."""
    t = _t(spark, sf_dir, "lineitem")
    return (
        t["lineitem"]
        .select(
            F.least("l_partkey", "l_suppkey").alias("lo"),
            F.greatest("l_partkey", "l_suppkey").alias("hi"),
        )
        .distinct()
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "q13_tagged_split",
    """
    SELECT CASE WHEN event_type = 'error' THEN 'err'
                WHEN event_type IN ('signup','login') THEN 'auth'
                ELSE 'other' END AS tag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def q13(spark, sf_dir):
    """U4 three-way split as one pass + tag column (never 3 jobs)."""
    t = _t(spark, sf_dir, "events")
    tag = (
        F.when(F.col("event_type") == "error", "err")
        .when(F.col("event_type").isin("signup", "login"), "auth")
        .otherwise("other")
    )
    return (
        t["events"]
        .select(tag.alias("tag"), "value")
        .groupBy("tag")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# 4. range / as-of / sessionization (J5, J6, S2)
# ---------------------------------------------------------------------------

@register(
    "q14_range_join",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_shipped_30d
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderpriority
    """,
)
def q14(spark, sf_dir):
    """Range predicate join J5 (span containment shape): equi key +
    interval condition evaluated post-join."""
    t = _t(spark, sf_dir, "lineitem", "orders")
    j = t["lineitem"].join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
    return (
        j.where(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_shipped_30d"))
    )


@register(
    "q15_asof_join",
    """
    SELECT e.event_id,
           STRFTIME(MAX(s.ts), '%Y-%m-%d %H:%M:%S') AS last_signup_ts
    FROM events e JOIN events s
      ON e.user_id = s.user_id AND s.event_type = 'signup' AND s.ts <= e.ts
    WHERE e.event_type = 'error'
    GROUP BY e.event_id
    """,
)
def q15(spark, sf_dir):
    """As-of / nearest-preceding join J6: for each error event the latest
    same-user signup at-or-before it.  Implemented scalably as a
    union + running last_value window (one sort per user, no self-join);
    the oracle states the same semantics as a join+max."""
    t = _t(spark, sf_dir, "events")
    ev = t["events"]
    tagged = ev.select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("signup_ts"),
        F.col("event_type"),
    )
    # signups sort BEFORE other events at equal ts (isNull false < true):
    # the oracle's s.ts <= e.ts includes a same-timestamp signup, so the
    # running window must see it before the error row — ordering by
    # event_id alone would exclude a same-ts signup with a higher id
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(),
            F.col("signup_ts").isNull().asc(),
            F.col("event_id").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_last = tagged.withColumn("last_signup", F.last("signup_ts", ignorenulls=True).over(w))
    return (
        with_last.where((F.col("event_type") == "error") & F.col("last_signup").isNotNull())
        .select(
            "event_id",
            F.date_format("last_signup", "yyyy-MM-dd HH:mm:ss").alias("last_signup_ts"),
        )
    )


@register(
    "q16_sessionize",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM (
      SELECT user_id, session_id FROM (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_id
        FROM (SELECT user_id, ts, event_id,
                     CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
              FROM events))
      GROUP BY user_id, session_id)
    GROUP BY user_id
    """,
)
def q16(spark, sf_dir):
    """Sessionization (block-splitter S2 analog): gap>30min starts a new
    session; lag + running sum, one shuffle on user_id."""
    t = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = micros - F.lag(micros).over(w)
    flagged = t["events"].select(
        "user_id", "ts", "event_id",
        F.when(gap <= 1800 * 1_000_000, 0).otherwise(1).alias("new_session"),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .count()
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )


# ---------------------------------------------------------------------------
# 5. text analysis (lang-ID, quality, tokens, fingerprint) — F-family + ext
# ---------------------------------------------------------------------------

def _sql_count_padded(word: str) -> str:
    needle = f" {word} "
    return (
        f"CAST((LENGTH(p) - LENGTH(REPLACE(p, '{needle}', ' '))) / {len(needle) - 1} AS INT)"
    )


def _sql_lang_scores() -> str:
    """CTE fragment computing per-language marker scores (matches
    functions.quality.lang_scores)."""
    score_cols = []
    for lang, words in Q.LANG_MARKERS.items():
        expr = " + ".join(_sql_count_padded(w) for w in words)
        score_cols.append(f"({expr}) AS s_{lang}")
    return (
        "SELECT doc_id, "
        + ", ".join(score_cols)
        + " FROM (SELECT doc_id, ' ' || LOWER(text) || ' ' AS p FROM documents)"
    )


_LANG_CASE = (
    "CASE WHEN GREATEST(s_en, s_es, s_fr, s_de) <= 0 THEN 'und' "
    + " ".join(
        f"WHEN s_{lang} = GREATEST(s_en, s_es, s_fr, s_de) THEN '{lang}'"
        for lang in sorted(Q.LANG_MARKERS)
    )
    + " ELSE 'und' END"
)


@register(
    "q17_lang_id",
    f"""
    SELECT detected_lang, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT doc_id, {_LANG_CASE} AS detected_lang
      FROM ({_sql_lang_scores()}))
    GROUP BY detected_lang
    """,
)
def q17(spark, sf_dir):
    """Language-ID via stopword-marker heuristic (training-data curation
    extension; all-JVM column math, SQL-reproducible by construction)."""
    t = _t(spark, sf_dir, "documents")
    return (
        t["documents"]
        # bind the padded text once; all 24 marker counters share it
        .select(Q.padded_text(F.col("text")).alias("_p"))
        .select(Q.detect_lang(padded=F.col("_p")).alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q18_quality",
    """
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS INT) AS n_words,
           ROUND(LENGTH(REGEXP_REPLACE(text, '[^.!?,;:]', '', 'g'))
                 / GREATEST(LENGTH(text), 1), 4) AS punct_ratio
    FROM documents
    """,
)
def q18(spark, sf_dir):
    """Quality-scoring components: word count + punctuation ratio."""
    t = _t(spark, sf_dir, "documents")
    return t["documents"].select(
        "doc_id",
        Q.word_count(F.col("text")).alias("n_words"),
        Q.punct_ratio(F.col("text")).alias("punct_ratio"),
    )


@register(
    "q19_token_count",
    f"""
    SELECT lang, CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{BPEISH_PATTERN}'))) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def q19(spark, sf_dir):
    """BPE-ish token counting per language (F7 analog)."""
    t = _t(spark, sf_dir, "documents")
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.sum(F.size(F.regexp_extract_all("text", F.lit(BPEISH_PATTERN), 0))).alias("total_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


@register(
    "q20_fingerprint",
    """
    SELECT doc_id,
           SUBSTR(MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))), 1, 16) AS fp
    FROM documents
    """,
)
def q20(spark, sf_dir):
    """Document fingerprinting (rolling-hash analog, md5-based)."""
    t = _t(spark, sf_dir, "documents")
    return t["documents"].select("doc_id", Q.fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# 6. dedup family (exact, shingles, MinHash, LSH, Jaccard, SimHash)
# ---------------------------------------------------------------------------

_SHINGLES_CTE = """
  toks AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS t FROM documents),
  shingles AS (
    SELECT doc_id,
           UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(t) - 2),
                  i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))) AS shingle
    FROM toks WHERE LEN(t) >= 3)
"""


@register(
    "q21_exact_dedup",
    """
    SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM (SELECT doc_id, MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fp
          FROM documents)
    GROUP BY fp
    """,
)
def q21(spark, sf_dir):
    """Exact dedup: hash-groupBy, min-id representative."""
    t = _t(spark, sf_dir, "documents")
    return DD.exact_dedup(t["documents"])


@register(
    "q22_shingles",
    f"""
    WITH {_SHINGLES_CTE}
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles
    FROM shingles GROUP BY doc_id
    """,
)
def q22(spark, sf_dir):
    """Word 3-gram shingling (near-dup substrate)."""
    t = _t(spark, sf_dir, "documents")
    return (
        DD.word_shingles(t["documents"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
    )


@register(
    "q23_minhash",
    f"""
    WITH {_SHINGLES_CTE}
    SELECT doc_id,
           MIN(SUBSTRING(MD5('seed0|' || shingle), 1, 8)) AS h0,
           MIN(SUBSTRING(MD5('seed0|' || shingle), 9, 8)) AS h1,
           MIN(SUBSTRING(MD5('seed0|' || shingle), 17, 8)) AS h2,
           MIN(SUBSTRING(MD5('seed0|' || shingle), 25, 8)) AS h3
    FROM shingles GROUP BY doc_id
    """,
)
def q23(spark, sf_dir):
    """MinHash signatures (k=4): min over md5-permuted shingle space —
    one map-side-combinable aggregation per doc, four independent 32-bit
    lanes per digest (one md5 per shingle row)."""
    t = _t(spark, sf_dir, "documents")
    sigs = DD.minhash_signatures(DD.word_shingles(t["documents"]), k=4)
    return sigs.select(
        "doc_id",
        *[F.col("sig").getItem(i).alias(f"h{i}") for i in range(4)],
    )


@register(
    "q24_jaccard_neardup",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM shingles x JOIN shingles y USING (shingle)
      WHERE x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id)
    SELECT a, b, jaccard FROM (
      SELECT a, b, ROUND(i / (sa.n + sb.n - i), 4) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
    WHERE jaccard >= 0.2
    """,
)
def q24(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs: equi-join on shared shingle
    (docs sharing no shingle never meet — no O(n^2))."""
    t = _t(spark, sf_dir, "documents")
    return DD.jaccard_pairs(DD.word_shingles(t["documents"]), threshold=0.2)


def _simhash_cte() -> str:
    """CTE chain ending in sigs(doc_id, simhash) — the SQL rendering of
    operators.dedup.simhash, shared by q25 and q43."""
    nib = lambda pos: f"(STRPOS('0123456789abcdef', SUBSTR(MD5(tok), {pos}, 1)) - 1)"
    val = f"({nib(1)} * 4096 + {nib(2)} * 256 + {nib(3)} * 16 + {nib(4)})"
    sums = ", ".join(f"SUM((val // {1 << j}) % 2) AS s{j}" for j in range(16))
    sig = " + ".join(f"(CASE WHEN s{j} * 2 >= n THEN {1 << j} ELSE 0 END)" for j in range(16))
    return f"""
    toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS tok
      FROM documents),
    vals AS (SELECT doc_id, {val} AS val FROM toks),
    bits AS (SELECT doc_id, COUNT(*) AS n, {sums} FROM vals GROUP BY doc_id),
    sigs AS (SELECT doc_id, CAST({sig} AS INT) AS simhash FROM bits)
    """


def _simhash_sql() -> str:
    return f"WITH {_simhash_cte()} SELECT doc_id, simhash FROM sigs"


@register("q25_simhash", _simhash_sql())
def q25(spark, sf_dir):
    """16-bit SimHash per document (md5-nibble majority votes)."""
    t = _t(spark, sf_dir, "documents")
    return DD.simhash(t["documents"])


# ---------------------------------------------------------------------------
# 7. similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT_SQL = """LIST_REDUCE(
      LIST_TRANSFORM(RANGE(1, LEN(qvec) + 1),
                     i -> CAST(qvec[i] AS DOUBLE) * CAST(cvec[i] AS DOUBLE)),
      (x, y) -> x + y)"""
_NORM_SQL = lambda v: (
    f"SQRT(LIST_REDUCE(LIST_TRANSFORM({v}, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)), (x, y) -> x + y))"
)


@register(
    "q26_ann_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
               WHERE vec_id < 3 AND LEN(embedding) > 0),
    c AS (SELECT vec_id, embedding AS cvec FROM embeddings WHERE LEN(embedding) > 0),
    sims AS (
      SELECT query_id, vec_id,
             ROUND({_DOT_SQL} / ({_NORM_SQL('qvec')} * {_NORM_SQL('cvec')}), 6) AS cos_sim
      FROM c CROSS JOIN q WHERE vec_id <> query_id)
    SELECT query_id, vec_id, cos_sim, CAST(rnk AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      FROM sims)
    WHERE rnk <= 5
    """,
)
def q26(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline): broadcast query set,
    JVM fold dot products, per-query window top-k."""
    t = _t(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return ANN.cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=5)


@register(
    "q27_embed_stats",
    f"""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(ROUND({_NORM_SQL('embedding')}, 6) AS DECIMAL(38,6))) / COUNT(*), 4) AS DOUBLE) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def q27(spark, sf_dir):
    """Embedding-column stats: per-label average L2 norm (per-row rounded
    through decimal so summation order cannot drift)."""
    t = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            "embedding", F.lit(0.0), lambda a, v: a + v.cast("double") * v.cast("double")
        )
    )
    return (
        t["embeddings"]
        .select("label", F.round(norm, 6).cast("decimal(38,6)").alias("rnorm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("rnorm") / F.count("*"), 4).cast("double").alias("avg_norm"),
        )
    )


@register(
    "q32_srp_buckets",
    f"""
    WITH q AS (SELECT {ANN.quantize_sql('embedding')} AS qv FROM embeddings
               WHERE LEN(embedding) > 0),
    b AS (SELECT {ANN.srp_bucket_sql('qv', n_planes=6)} AS bucket FROM q)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY bucket
    """,
)
def q32(spark, sf_dir):
    """Sign-random-projection LSH bucket histogram (ANN scale path).
    Oracle-checkable because the hyperplanes are md5-derived integer
    literals and the projections integer-exact (operators/ann.py);
    exact-vs-LSH recall is pytest-verified."""
    t = _t(spark, sf_dir, "embeddings")
    return (
        t["embeddings"]
        .select(ANN.srp_bucket(F.col("embedding"), n_planes=6).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# 8. CDR knowledge-graph family over the documents table
#    (mention detection J8/W6 → candidates J1 → co-occurrence gold J2 →
#     Levi hypernym anti-join J3 → triples + adjacency)
#    The same operators the pages-pipeline uses, exercised on the shared
#    `documents` view so the DuckDB oracle can verify them value-by-value.
# ---------------------------------------------------------------------------

# inline gazetteer over the documents vocabulary; 'hash join' exercises
# multi-word longest-match (vs 'join'), DZ2/DZ3 exercise the hypernym chain
_GAZ_ROWS = [
    ("spark", "CH1", "Chemical", "T01.100"),
    ("hash join", "CH2", "Chemical", "T01.200"),
    ("merge", "CH3", "Chemical", "T01.300"),
    ("scan", "CH4", "Chemical", "T01.400"),
    ("join", "CH5", "Chemical", "T01.500"),
    ("slow", "DZ1", "Disease", "X01.100"),
    ("small", "DZ2", "Disease", "X01.200"),
    ("big", "DZ3", "Disease", "X01.200.500"),
]
# the same dimensions as the plain dicts the per-document kernels read
_DOC_GAZ = gazetteer_dict((t, m, ty) for t, m, ty, _ in _GAZ_ROWS)
_DOC_MAX_WORDS = longest_term_words(_DOC_GAZ)
_DOC_TREE_MAP = {m: [tr] for _, m, _, tr in _GAZ_ROWS}
_COOC_WINDOW = 60  # chars between mention starts = co-occurrence rule

_GAZ_VALUES = ", ".join(f"('{t}', '{m}', '{ty}', '{tr}')" for t, m, ty, tr in _GAZ_ROWS)

_MENTIONS_CTE = f"""
  gaz(term, mesh_id, typ, tree_number) AS (VALUES {_GAZ_VALUES}),
  d AS (SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS ts FROM documents),
  toks AS (
    SELECT doc_id, u.i AS i, u.tok AS tok FROM (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(ts) + 1),
                    j -> STRUCT_PACK(i := j, tok := ts[j]))) AS u
      FROM d)),
  offs AS (
    SELECT doc_id, i, tok,
           CAST(COALESCE(SUM(LENGTH(tok) + 1) OVER (
                PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS cstart,
           LEAD(tok) OVER (PARTITION BY doc_id ORDER BY i) AS tok2
    FROM toks),
  cands AS (
    SELECT doc_id, tok AS surface, cstart AS mstart,
           cstart + LENGTH(tok) AS mend FROM offs
    UNION ALL
    SELECT doc_id, tok || ' ' || tok2, cstart,
           cstart + LENGTH(tok) + 1 + LENGTH(tok2) FROM offs WHERE tok2 IS NOT NULL),
  matched AS (
    SELECT c.doc_id, g.mesh_id, c.surface AS mention_text, g.typ AS type,
           c.mstart, c.mend
    FROM cands c JOIN gaz g ON c.surface = g.term),
  mentions AS (
    SELECT doc_id, mesh_id, mention_text, type, mstart AS start, mend AS "end" FROM (
      SELECT m.*, MAX(mend) OVER (PARTITION BY doc_id
               ORDER BY mstart ASC, (mend - mstart) DESC, mesh_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM matched m)
    WHERE pme IS NULL OR mstart >= pme)
"""

_PAIRS_CTE = f"""{_MENTIONS_CTE},
  inv AS (SELECT DISTINCT doc_id, mesh_id, type FROM mentions),
  pairs AS (
    SELECT c.doc_id, c.mesh_id AS chem_mesh, dd.mesh_id AS dis_mesh
    FROM inv c JOIN inv dd ON c.doc_id = dd.doc_id
    WHERE c.type = 'Chemical' AND dd.type = 'Disease'),
  cooc AS (
    SELECT DISTINCT m1.doc_id, m1.mesh_id AS chem_mesh, m2.mesh_id AS dis_mesh
    FROM mentions m1 JOIN mentions m2
      ON m1.doc_id = m2.doc_id AND m1.type = 'Chemical' AND m2.type = 'Disease'
    WHERE ABS(m1.start - m2.start) <= {_COOC_WINDOW})
"""


# --- WordPiece-in-SQL: an independent DuckDB implementation of the real
# ELECTRA greedy max-munch (functions/wordpiece.py) so token-count/token-id
# queries get value oracles.  The committed vocab file is read with
# read_text and exploded to (id, piece); a non-recursive jump table
# precomputes, for every (word, char-pos), the LONGEST vocab match
# (##-prefixed beyond pos 0), and a recursive walk follows the jumps —
# exactly the greedy loop of WordpieceTokenizer.tokenize.  Unreachable
# positions or words over 100 chars collapse to [UNK]=100.

from pathlib import Path as _Path

_WP_VOCAB_PATH = (
    _Path(__file__).resolve().parent.parent / "data" / "electra_vocab.txt"
).as_posix()


def _wordpiece_cte() -> str:
    """SQL block computing wp(word, n_pieces, ids_csv) for a previously
    defined wpwords(word) CTE.  Must appear under WITH RECURSIVE."""
    return f"""
  vocab AS (
    SELECT u.i - 1 AS id, u.piece FROM (
      SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(pieces) + 1),
                    j -> STRUCT_PACK(i := j, piece := pieces[j]))) AS u
      FROM (SELECT STRING_SPLIT(content, CHR(10)) AS pieces
            FROM read_text('{_WP_VOCAB_PATH}'))
    ) WHERE u.piece <> ''),
  wp_cand AS (
    SELECT word, pos, UNNEST(RANGE(1, LEN(word) - pos + 1)) AS l
    FROM (SELECT word, UNNEST(RANGE(0, LEN(word))) AS pos FROM wpwords)),
  wp_jumps AS (
    SELECT c.word, c.pos, MAX(c.l) AS len, ARG_MAX(v.id, c.l) AS id
    FROM wp_cand c JOIN vocab v
      ON v.piece = (CASE WHEN c.pos > 0 THEN '##' ELSE '' END)
                   || SUBSTR(c.word, c.pos + 1, c.l)
    GROUP BY c.word, c.pos),
  wp_walk AS (
    SELECT word, 0 AS pos, 0 AS n_pieces, CAST('' AS VARCHAR) AS ids_csv
    FROM wpwords
    UNION ALL
    SELECT w.word, w.pos + j.len, w.n_pieces + 1,
           CASE WHEN w.ids_csv = '' THEN CAST(j.id AS VARCHAR)
                ELSE w.ids_csv || ',' || CAST(j.id AS VARCHAR) END
    FROM wp_walk w JOIN wp_jumps j ON j.word = w.word AND j.pos = w.pos
    WHERE w.pos < LEN(w.word)),
  wp AS (
    SELECT word,
           CASE WHEN LEN(word) > 100 OR endpos < LEN(word) THEN 1
                ELSE np END AS n_pieces,
           CASE WHEN LEN(word) > 100 OR endpos < LEN(word) THEN '100'
                ELSE ids_csv END AS ids_csv
    FROM (SELECT word, MAX(pos) AS endpos, MAX(n_pieces) AS np,
                 ARG_MAX(ids_csv, pos) AS ids_csv
          FROM wp_walk GROUP BY word))
"""


# The doc-family helpers are plain functions: every call builds a new
# DataFrame, and Spark's CacheManager shares the persisted ones because
# two builds are canonically equal plans (sameResult).


def _doc_texts(spark, sf_dir):
    """docs(url, text) of the documents table: ``url`` is the bigint
    doc_id, the text lowercased."""
    return _t(spark, sf_dir, "documents")["documents"].select(
        F.col("doc_id").alias("url"), F.lower(F.col("text")).alias("text")
    )


def _doc_mentions(spark, sf_dir):
    from pyspark import StorageLevel

    from ..scoring.scorer import document_mentions

    # persisted: the cooc queries reference mentions on BOTH sides of
    # the chem x dis join; without the persist the detection stage
    # (scan + the Python pass) runs twice.  Every query in the family
    # rebuilds the same plan, so all of them hit one cache entry.
    return document_mentions(
        _doc_texts(spark, sf_dir), _DOC_GAZ, _DOC_MAX_WORDS
    ).persist(StorageLevel.MEMORY_AND_DISK)


def _doc_pairs(spark, sf_dir, gold, tree_map):
    """(url, chem_mesh, dis_mesh, label) candidates of the documents
    table, labelled by ``gold`` (None: no gold) and Levi-filtered under
    ``tree_map``: the pipeline's per-document inventory and pair steps
    (scoring.scorer.document_pairs)."""
    from ..scoring.scorer import document_pairs
    from .pipeline import with_gold_pairs

    return document_pairs(
        with_gold_pairs(_doc_texts(spark, sf_dir), gold),
        _DOC_GAZ, _DOC_MAX_WORDS, tree_map,
    )


def _doc_cooc(spark, sf_dir):
    """Per-doc co-occurrence pairs (the labeling 'gold' for this family).

    Persisted for the same reason as _doc_mentions: q30/q31/q33/q35 and
    the later cooc consumers share it across the family; the cache
    manager keys on the canonicalized plan so all references hit one
    copy.
    """
    from pyspark import StorageLevel

    m = _doc_mentions(spark, sf_dir)
    chem = m.where(F.col("type") == "Chemical").select(
        "url", F.col("mesh_id").alias("chem_mesh"), F.col("start").alias("cstart")
    )
    dis = m.where(F.col("type") == "Disease").select(
        "url", F.col("mesh_id").alias("dis_mesh"), F.col("start").alias("dstart")
    )
    return (
        chem.join(dis, "url")
        .where(F.abs(F.col("cstart") - F.col("dstart")) <= _COOC_WINDOW)
        .select("url", "chem_mesh", "dis_mesh")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


@register(
    "q28_cdr_mentions",
    f"""
    WITH {_MENTIONS_CTE}
    SELECT doc_id, mesh_id, mention_text, type, start, "end" FROM mentions
    """,
)
def q28(spark, sf_dir):
    """Gazetteer mention detection (J8 + W6 longest-match) on documents —
    the exact operator the pages pipeline uses."""
    return _doc_mentions(spark, sf_dir).select(
        F.col("url").alias("doc_id"), "mesh_id", "mention_text", "type", "start", "end"
    )


@register(
    "q29_cdr_candidates",
    f"""
    WITH {_PAIRS_CTE}
    SELECT doc_id, chem_mesh, dis_mesh FROM pairs
    """,
)
def q29(spark, sf_dir):
    """Per-doc chemical x disease candidate generation (J1)."""
    return _doc_pairs(spark, sf_dir, None, {}).select(
        F.col("url").alias("doc_id"), "chem_mesh", "dis_mesh"
    )


@register(
    "q30_cdr_triples",
    f"""
    WITH {_PAIRS_CTE}
    SELECT chem_mesh AS subj, 'CID:induces' AS predicate, dis_mesh AS obj,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM cooc GROUP BY chem_mesh, dis_mesh
    HAVING COUNT(*) >= 2
    """,
)
def q30(spark, sf_dir):
    """FLAGSHIP: deduplicated triple materialization — co-occurrence-
    scored (chem, CID:induces, dis) with per-pair document support."""
    cooc = _doc_cooc(spark, sf_dir)
    return (
        cooc.groupBy("chem_mesh", "dis_mesh")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
        .select(
            F.col("chem_mesh").alias("subj"),
            F.lit("CID:induces").alias("predicate"),
            F.col("dis_mesh").alias("obj"),
            "support",
        )
    )


@register(
    "q31_levi_filter",
    f"""
    WITH {_PAIRS_CTE},
    gaz_trees AS (SELECT mesh_id, tree_number FROM gaz),
    labeled AS (
      SELECT p.doc_id, p.chem_mesh, p.dis_mesh,
             CASE WHEN c.chem_mesh IS NOT NULL THEN 1 ELSE 0 END AS label
      FROM pairs p LEFT JOIN cooc c
        ON p.doc_id = c.doc_id AND p.chem_mesh = c.chem_mesh AND p.dis_mesh = c.dis_mesh),
    rejected AS (
      SELECT l.doc_id, l.chem_mesh, l.dis_mesh FROM labeled l
      JOIN gaz_trees nt ON nt.mesh_id = l.dis_mesh
      WHERE l.label = 0 AND (
        EXISTS (SELECT 1 FROM cooc g JOIN gaz_trees pt ON pt.mesh_id = g.dis_mesh
                WHERE g.doc_id = l.doc_id AND g.chem_mesh = l.chem_mesh
                  AND CONTAINS(pt.tree_number, nt.tree_number))
        OR EXISTS (SELECT 1 FROM cooc g JOIN gaz_trees pt ON pt.mesh_id = g.chem_mesh
                WHERE g.doc_id = l.doc_id AND g.dis_mesh = l.dis_mesh
                  AND CONTAINS(pt.tree_number, nt.tree_number))))
    SELECT l.doc_id, l.chem_mesh, l.dis_mesh, CAST(l.label AS INT) AS label
    FROM labeled l
    WHERE NOT EXISTS (SELECT 1 FROM rejected r
                      WHERE r.doc_id = l.doc_id AND r.chem_mesh = l.chem_mesh
                        AND r.dis_mesh = l.dis_mesh)
    """,
)
def q31(spark, sf_dir):
    """Levi hypernym anti-join (J3) with substring-containment semantics
    (cdr_dataset.py:227-242) — negatives whose disease tree is contained
    in a same-endpoint gold pair's tree are dropped."""
    kept = _doc_pairs(spark, sf_dir, _doc_cooc(spark, sf_dir), _DOC_TREE_MAP)
    return kept.select(F.col("url").alias("doc_id"), "chem_mesh", "dis_mesh", "label")


@register(
    "q33_cdr_adjacency",
    f"""
    WITH {_PAIRS_CTE},
    triples AS (
      SELECT chem_mesh AS subj, dis_mesh AS obj, CAST(COUNT(*) AS BIGINT) AS support
      FROM cooc GROUP BY chem_mesh, dis_mesh HAVING COUNT(*) >= 2)
    SELECT subj, CAST(COUNT(*) AS BIGINT) AS degree,
           STRING_AGG(obj, ',' ORDER BY obj) AS objs
    FROM triples GROUP BY subj
    """,
)
def q33(spark, sf_dir):
    """Adjacency-list graph materialization from the triple table."""
    triples = q30(spark, sf_dir)
    return triples.groupBy("subj").agg(
        F.count("*").alias("degree"),
        F.array_join(F.array_sort(F.collect_list("obj")), ",").alias("objs"),
    )


@register("q40_pipeline_triples")  # full pages pipeline; rows-only check
def q40(spark, sf_dir):
    """End-to-end pages pipeline (extract -> mentions -> candidates ->
    Levi -> evidence -> features -> scorer -> triples) on the seeded
    synthetic pages corpus (driver tables carry no html pages; corpus size
    scales with the sf dir).  Deterministic; P/R vs gold is
    pytest-verified (tests/test_pipeline.py)."""
    from .. import datagen
    from .pipeline import materialize_triples, score_candidates

    n_docs = 200 if "0.1" in sf_dir else 60
    pages, _gm, gold = datagen.gen_fixture_dfs(spark, n_docs)
    scored = score_candidates(pages, datagen.mesh_df(spark), gold=gold)
    return materialize_triples(scored).select(
        "subj", "predicate", "obj", F.col("support").cast("long").alias("support")
    )


# ---------------------------------------------------------------------------
# 9. split / count-if extras
# ---------------------------------------------------------------------------

@register(
    "q34_hash_split",
    """
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) < 'c'
                  THEN 'train' ELSE 'test' END AS split
      FROM orders)
    GROUP BY split
    """,
)
def q34(spark, sf_dir):
    """Deterministic train/test split (SURVEY §2.6 randomSplit analog):
    hash-threshold split is reproducible across engines and stable under
    repartitioning — unlike randomSplit, which depends on partition
    layout; this is the split a production data pipeline should use."""
    t = _t(spark, sf_dir, "orders")
    split = F.when(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) < "c", "train"
    ).otherwise("test")
    return (
        t["orders"].select(split.alias("split")).groupBy("split").agg(F.count("*").alias("n"))
    )


@register(
    "q35_cooc_histogram",
    f"""
    WITH {_PAIRS_CTE}
    SELECT pair_count, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
      SELECT doc_id, CAST(COUNT(*) AS INT) AS pair_count FROM cooc GROUP BY doc_id)
    GROUP BY pair_count
    """,
)
def q35(spark, sf_dir):
    """Count-if aggregate (A5, check_distance_CA analog): distribution of
    co-occurring gold pairs per document."""
    cooc = _doc_cooc(spark, sf_dir)
    per_doc = cooc.groupBy("url").agg(F.count("*").cast("int").alias("pair_count"))
    return per_doc.groupBy("pair_count").agg(F.count("*").alias("n_docs"))


_PAIR_DOT_SQL = """LIST_REDUCE(
      LIST_TRANSFORM(RANGE(1, LEN(va) + 1),
                     i -> CAST(va[i] AS DOUBLE) * CAST(vb[i] AS DOUBLE)),
      (x, y) -> x + y)"""


@register(
    "q36_embed_neardup",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_NORM_SQL('embedding')} AS nrm FROM embeddings),
    pairs AS (
      SELECT x.vec_id AS a, y.vec_id AS b,
             x.embedding AS va, y.embedding AS vb, x.nrm AS na, y.nrm AS nb
      FROM e x JOIN e y ON x.vec_id < y.vec_id)
    SELECT a, b, cos_sim FROM (
      SELECT a, b, ROUND({_PAIR_DOT_SQL} / (na * nb), 6) AS cos_sim FROM pairs)
    WHERE cos_sim >= 0.35
    """,
)
def q36(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (dedup family, exact
    baseline): broadcast nested-loop self-pairing with precomputed norms;
    the SRP-bucketed variant of the same operator (n_planes>0) is the
    100 TB path, recall-tested in tests/test_ann.py."""
    t = _t(spark, sf_dir, "embeddings")
    return ANN.cosine_neardup_pairs(t["embeddings"], threshold=0.35)


@register(
    "q37_multimodal_features",
    """
    WITH feats AS (
      SELECT doc_id,
             ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
             CAST(
               LIST_REDUCE(
                 LIST_TRANSFORM(RANGE(0, CAST(CEIL(LEN(text) / 8.0) AS INT)),
                                r -> CAST(ASCII(SUBSTR(text, CAST(8 * r + 1 AS INT), 1))
                                          AS DOUBLE)),
                 (x, y) -> x + y)
               / CEIL(LEN(text) / 8.0) / 255.0
             AS FLOAT) AS f0,
             CASE WHEN doc_id % 3 = 2
                  THEN GREATEST(1, ((doc_id * 100 % 60000) // 1000) // 2)
                  ELSE 1 END AS n_frames
      FROM documents)
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(f0 AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 4)
             AS avg_f0,
           CAST(SUM(n_frames) AS BIGINT) AS total_frames
    FROM feats GROUP BY kind
    """,
)
def q37(spark, sf_dir):
    """Multimodal plumbing over the documents table: text payloads cast
    to opaque binary media rows with typed metadata, then decode +
    frame-sample + feature-extract in one narrow Arrow mapInPandas stage
    — the exact schema/partitioning contract a real codec plugs into.

    VALUE-oracled since round 2: the deterministic fake decode is
    float64-exact (integer byte sums -> two double divisions -> float32
    cast), so DuckDB reproduces feature[0], frame counts, and the
    decimal-stabilized per-kind average byte-for-byte."""
    from ..operators import multimodal as MM

    t = _t(spark, sf_dir, "documents")
    media = t["documents"].select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            (F.col("doc_id") % 640 + 32).cast("int").alias("width"),
            (F.col("doc_id") % 480 + 32).cast("int").alias("height"),
            (F.col("doc_id") * 100 % 60000).cast("int").alias("duration_ms"),
            F.lit("fake").alias("codec"),
        ).alias("meta"),
    )
    feats = MM.extract_features(media)
    return (
        feats.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            # decimal-stabilized mean (q01 pattern): float32 features cast
            # to DECIMAL(38,12) sum exactly on both engines; one double
            # division at the end
            F.round(
                F.sum(dec(F.element_at("feature", 1), 12)).cast("double")
                / F.count("*"),
                4,
            ).alias("avg_f0"),
            F.sum("n_frames").alias("total_frames"),
        )
        .orderBy("kind")
    )


@register(
    "q38_embed_neardup_lsh",
    f"""
    WITH e AS (SELECT vec_id, embedding, {_NORM_SQL('embedding')} AS nrm,
                      {ANN.quantize_sql('embedding')} AS qv
               FROM embeddings WHERE LEN(embedding) > 0),
    eb AS (SELECT vec_id, embedding, nrm,
                  {ANN.srp_bucket_sql('qv', n_planes=4)} AS bkt FROM e),
    pairs AS (
      SELECT x.vec_id AS a, y.vec_id AS b,
             x.embedding AS va, y.embedding AS vb, x.nrm AS na, y.nrm AS nb
      FROM eb x JOIN eb y ON x.bkt = y.bkt AND x.vec_id < y.vec_id)
    SELECT a, b, cos_sim FROM (
      SELECT a, b, ROUND({_PAIR_DOT_SQL} / (na * nb), 6) AS cos_sim FROM pairs)
    WHERE cos_sim >= 0.35
    """,
)
def q38(spark, sf_dir):
    """SRP-bucketed embedding near-dup (the 100 TB path): pairs are
    generated per LSH bucket via an equi-join on the bucket id — cost
    O(sum bucket^2) instead of O(n^2) — then exact-cosine verified."""
    t = _t(spark, sf_dir, "embeddings")
    return ANN.cosine_neardup_pairs(t["embeddings"], threshold=0.35, n_planes=4)


@register(
    "q39_windowed_counts",
    """
    SELECT STRFTIME(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
           STRFTIME(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S') AS win_end,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))), 4) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q39(spark, sf_dir):
    """Tumbling-window event counts — the SAME operator the streaming
    path runs (streaming/windows.py windowed_event_counts; withWatermark
    is a no-op on a batch frame), exercised as a batch query so the
    window semantics are DuckDB-oracled."""
    from ..streaming.windows import windowed_event_counts

    t = _t(spark, sf_dir, "events")
    ev = t["events"].withColumn(
        "value", F.round("value", 6).cast("decimal(38,6)")
    )
    out = windowed_event_counts(ev, window="1 hour", watermark="2 hours")
    # timestamps leave results as formatted strings (module rule):
    # PySpark collect() renders TimestampType through the DRIVER's OS
    # timezone, so a raw window bound hash-breaks on any non-UTC host
    return out.select(
        F.date_format("win_start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
        F.date_format("win_end", "yyyy-MM-dd HH:mm:ss").alias("win_end"),
        "event_type",
        "n",
        F.round(F.col("total_value"), 4).cast("double").alias("total_value"),
    )


_IVF_CENTS_CTE = f"""
    cents AS (
      SELECT vec_id AS centroid_id, {ANN.quantize_sql('embedding')} AS cq
      FROM embeddings WHERE LEN(embedding) > 0
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
    cents2 AS (
      SELECT centroid_id, cq,
             SQRT(CAST({ANN.int_dot_sql('cq', 'cq')} AS DOUBLE)) AS cn
      FROM cents)
"""


@register(
    "q41_ivf_topk",
    f"""
    WITH {_IVF_CENTS_CTE},
    corpus AS (SELECT vec_id, embedding, {ANN.quantize_sql('embedding')} AS qv
               FROM embeddings),
    assigned AS (
      SELECT vec_id, embedding AS cvec, centroid_id FROM (
        SELECT c.vec_id, c.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY CAST({ANN.int_dot_sql('c.qv', 't.cq')} AS DOUBLE) / t.cn DESC,
                          t.centroid_id ASC) AS rk
        FROM corpus c CROSS JOIN cents2 t)
      WHERE rk = 1),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qvec, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY CAST({ANN.int_dot_sql('q.qv', 't.cq')} AS DOUBLE) / t.cn DESC,
                          t.centroid_id ASC) AS rk
        FROM corpus q CROSS JOIN cents2 t WHERE q.vec_id < 3)
      WHERE rk <= 4),
    sims AS (
      SELECT p.query_id, a.vec_id,
             ROUND({_DOT_SQL} / ({_NORM_SQL('qvec')} * {_NORM_SQL('cvec')}), 6) AS cos_sim
      FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id)
    SELECT query_id, vec_id, cos_sim, CAST(rnk AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id ASC) AS rnk
      FROM sims)
    WHERE rnk <= 5
    """,
)
def q41(spark, sf_dir):
    """IVF (inverted-file) approximate top-k — the second ANN scale path
    next to SRP-LSH (q38): a deterministic md5-sampled coarse quantizer
    partitions the corpus into inverted lists (one broadcast assignment
    pass), queries probe their nprobe=4 nearest lists, exact cosine
    ranking within.  Integer-exact centroid scoring makes the whole
    path DuckDB-oracle-checkable; recall vs the exact q26 baseline is
    pytest-measured."""
    t = _t(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    return ANN.ivf_topk(
        emb, emb.where(F.col("vec_id") < 3), k=5, n_centroids=16, nprobe=4
    )


@register(
    "q42_neardup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    hot AS (SELECT shingle FROM shingles GROUP BY shingle HAVING COUNT(*) > 10000),
    capped AS (SELECT s.* FROM shingles s ANTI JOIN hot USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM capped GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM capped x JOIN capped y USING (shingle)
      WHERE x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id),
    pairs AS (
      SELECT a, b FROM inter
      JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      WHERE ROUND(i / (sa.n + sb.n - i), 4) >= 0.2),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION SELECT b, a FROM pairs),
    reach(v, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM edges e JOIN reach ON reach.v = e.src),
    labels AS (SELECT v, MIN(r) AS cluster_id FROM reach GROUP BY v)
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size,
           STRING_AGG(CAST(v AS VARCHAR), ',' ORDER BY v) AS members
    FROM labels GROUP BY cluster_id
    """,
)
def q42(spark, sf_dir):
    """Near-dup clustering: exact Jaccard pairs (q24 semantics) grouped
    into connected components by distributed min-label propagation — the
    canonicalization step a corpus-scale dedup pipeline runs after pair
    generation.  The DuckDB oracle computes the same components with a
    recursive CTE (min reachable id per node), including the hot-shingle
    df cap the production path applies before the self-join."""
    t = _t(spark, sf_dir, "documents")
    clusters = DD.neardup_clusters(t["documents"], threshold=0.2, max_df=10_000)
    return clusters.select(
        "cluster_id",
        F.col("size").cast("long").alias("size"),
        F.concat_ws(
            ",", F.transform(F.col("members"), lambda m: m.cast("string"))
        ).alias("members"),
    )


@register(
    "q43_simhash_hamming",
    f"""
    WITH {_simhash_cte()}
    SELECT x.doc_id AS a, y.doc_id AS b,
           CAST(BIT_COUNT(XOR(x.simhash, y.simhash)) AS INT) AS hamming
    FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
    WHERE BIT_COUNT(XOR(x.simhash, y.simhash)) <= 3
    """,
)
def q43(spark, sf_dir):
    """SimHash near-dup pairs within Hamming distance 3, generated by the
    banded equi-join (4 bands x 4 bits).  The oracle is the BRUTE-FORCE
    O(n^2) Hamming join: with max_hamming < bands the pigeonhole
    principle makes the banded result exactly equal to it, so the hash
    match proves the banding loses no pairs."""
    t = _t(spark, sf_dir, "documents")
    return DD.simhash_neardup_pairs(t["documents"], max_hamming=3, bands=4)


@register(
    "q44_kg_degree",
    f"""
    WITH {_PAIRS_CTE},
    triples AS (
      SELECT chem_mesh, dis_mesh FROM cooc
      GROUP BY chem_mesh, dis_mesh HAVING COUNT(*) >= 2),
    degs AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT chem_mesh AS node FROM triples
        UNION ALL SELECT dis_mesh AS node FROM triples) GROUP BY node)
    SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM degs GROUP BY degree
    """,
)
def q44(spark, sf_dir):
    """Degree distribution of the materialized knowledge graph: node
    incidence counts over the deduplicated triple table (q30 semantics),
    histogrammed — the sanity-check analytics a triple factory runs after
    every materialization (hub detection, skew monitoring for the
    adjacency groupBy)."""
    triples = QUERIES["q30_cdr_triples"](spark, sf_dir)
    nodes = triples.select(F.col("subj").alias("node")).unionAll(
        triples.select(F.col("obj").alias("node"))
    )
    degs = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return degs.groupBy("degree").agg(F.count("*").alias("n_nodes"))


@register(
    "q45_length_quantiles",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
           ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
           ROUND(quantile_cont(n_chars, 0.99), 4) AS p99
    FROM documents GROUP BY lang
    """,
)
def q45(spark, sf_dir):
    """Curation monitoring: EXACT doc-length quantiles per language
    (linear interpolation — Spark percentile() and DuckDB quantile_cont
    agree bit-for-bit on the same integers).  The distribution gate a
    corpus pipeline runs per ingest batch; at 10^12 docs swap in
    percentile_approx with a documented error bound — the approximate
    variant is deliberately NOT oracled because sketches differ across
    engines."""
    t = _t(spark, sf_dir, "documents")
    return t["documents"].groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.percentile("n_chars", 0.5), 4).alias("p50"),
        F.round(F.percentile("n_chars", 0.9), 4).alias("p90"),
        F.round(F.percentile("n_chars", 0.99), 4).alias("p99"),
    )


@register(
    "q46_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))
                    * CAST(1 - l_discount AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q46(spark, sf_dir):
    """TPC-H Q5 shape: 6-table star join with a same-nation theta
    condition folded into the customer equi-join — dims broadcast, the
    two fact tables meet in ONE shuffled equi-join on the order key, and
    the region filter prunes before any join."""
    t = _t(spark, sf_dir, "lineitem", "orders", "supplier", "customer", "nation", "region")
    asia_nations = (
        t["nation"]
        .join(F.broadcast(t["region"].where(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name")
    )
    df = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["customer"]),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return df.groupBy("n_name").agg(
        F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(38,4)"))
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


@register(
    "q47_large_orders",
    """
    SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM orders JOIN (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(38,4))) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,4))) > 150
    ) big ON o_orderkey = big.l_orderkey
    """,
)
def q47(spark, sf_dir):
    """TPC-H Q18 shape: aggregate-then-semi-join — the HAVING subquery
    reduces lineitem to qualifying order keys BEFORE touching orders, so
    the join probe side is tiny (classic pre-aggregation pushdown a user
    would otherwise write as a correlated subquery)."""
    t = _t(spark, sf_dir, "orders", "lineitem")
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            F.col("total_qty").cast("double").alias("total_qty"),
        )
    )


@register(
    "q48_ner_features",
    f"""
    WITH RECURSIVE {_MENTIONS_CTE},
    wpwords AS (SELECT DISTINCT tok AS word FROM toks WHERE tok <> ''),
    {_wordpiece_cte()},
    stream AS (
      SELECT o.doc_id, o.i, wp.n_pieces,
             CASE WHEN pr.doc_id IS NOT NULL THEN 1 ELSE 0 END AS pre,
             CASE WHEN po.doc_id IS NOT NULL THEN 1 ELSE 0 END AS post
      FROM offs o
      JOIN wp ON wp.word = o.tok
      LEFT JOIN (SELECT DISTINCT m.doc_id, o2.i FROM mentions m JOIN offs o2
                 ON o2.doc_id = m.doc_id AND o2.cstart = m.start) pr
             ON pr.doc_id = o.doc_id AND pr.i = o.i
      LEFT JOIN (SELECT DISTINCT m.doc_id, o2.i FROM mentions m JOIN offs o2
                 ON o2.doc_id = m.doc_id
                AND o2.cstart + LENGTH(o2.tok) = m."end") po
             ON po.doc_id = o.doc_id AND po.i = o.i
      WHERE o.tok <> ''),
    cums AS (
      SELECT doc_id, i,
             1 + SUM(pre + n_pieces + post) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             1 + COALESCE(SUM(pre + n_pieces + post) OVER (PARTITION BY doc_id
                 ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS cum_before
      FROM stream),
    spans AS (
      SELECT m.doc_id, m.type, c1.cum_before AS pos_e, c2.cum - 1 AS pos_end
      FROM mentions m
      JOIN offs o1 ON o1.doc_id = m.doc_id AND o1.cstart = m.start
      JOIN cums c1 ON c1.doc_id = m.doc_id AND c1.i = o1.i
      JOIN offs o2 ON o2.doc_id = m.doc_id
                  AND o2.cstart + LENGTH(o2.tok) = m."end"
      JOIN cums c2 ON c2.doc_id = m.doc_id AND c2.i = o2.i),
    dtotals AS (SELECT doc_id, MAX(cum) + 1 AS t FROM cums GROUP BY doc_id),
    dcut AS (SELECT doc_id, MAX(pos_end) AS l FROM spans
             WHERE pos_end <= 511 GROUP BY doc_id),
    dfinal AS (
      SELECT t.doc_id,
             CASE WHEN t.t <= 512 THEN t.t ELSE c.l + 1 END AS n_tokens,
             t.t <= 512 AS notrunc, COALESCE(c.l, -1) AS lim
      FROM dtotals t LEFT JOIN dcut c ON c.doc_id = t.doc_id
      WHERE t.t <= 512 OR c.l IS NOT NULL)
    SELECT CAST(f.doc_id AS BIGINT) AS doc_id,
           CAST(f.n_tokens AS INTEGER) AS n_tokens,
           CAST(COUNT(*) AS INTEGER) AS n_marked,
           CAST(SUM(CASE WHEN s.type = 'Chemical' THEN 1 ELSE 0 END)
                AS INTEGER) AS n_chem,
           CAST(SUM(CASE WHEN s.type = 'Disease' THEN 1 ELSE 0 END)
                AS INTEGER) AS n_dis
    FROM dfinal f JOIN spans s
      ON s.doc_id = f.doc_id AND (f.notrunc OR s.pos_end <= f.lim)
    GROUP BY f.doc_id, f.n_tokens
    """,
)
def q48(spark, sf_dir):
    """NER-path featurization (reference train_ner, SURVEY §3.2):
    whole-doc marker insertion + 512-truncation-to-last-[/e] + one
    labeled entry per mention-start token, aggregated to stable per-doc
    counts.  FULLY value-oracled since the real-WordPiece swap: the
    DuckDB side reconstructs the marked token stream relationally —
    per-word piece counts from the recursive max-munch walk
    (_wordpiece_cte), [e]/[/e] markers as word-aligned stream elements,
    running-sum positions, and the same truncate-back-to-last-[/e]
    rule — an independent implementation of the whole path."""
    from ..operators.ner import docs_with_mentions, ner_features

    m = _doc_mentions(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")["documents"].select(
        F.col("doc_id").cast("string").alias("url"),
        F.lower(F.col("text")).alias("text"),
    )
    feats = ner_features(
        docs_with_mentions(
            docs,
            m.select(F.col("url").cast("string").alias("url"), "start", "end", "type"),
        )
    )
    return feats.select(
        F.col("url").cast("long").alias("doc_id"),
        F.size("token_ids").alias("n_tokens"),
        F.size("entity_token_idx").alias("n_marked"),
        F.size(F.filter("labels", lambda x: x == F.lit(0))).alias("n_chem"),
        F.size(F.filter("labels", lambda x: x == F.lit(1))).alias("n_dis"),
    )


@register(
    "q49_event_gaps",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM (
      SELECT user_id,
             EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events)
    WHERE gap_us > 3600000000
    GROUP BY user_id
    """,
)
def q49(spark, sf_dir):
    """Lead/lag window breadth (beyond the reference's row_number-only
    usage): per-user inter-event gaps over one hour — the idle-gap scan a
    sessionizer is built from, as a plain windowed query."""
    t = _t(spark, sf_dir, "events")
    # microsecond-exact on BOTH engines: second-truncated arithmetic
    # (unix_timestamp vs EPOCH) differs by one for sub-second offsets
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t["events"].select(
        "user_id",
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.lag(F.col("ts").cast("timestamp")).over(w))
        ).alias("gap_us"),
    )
    return (
        gaps.where(F.col("gap_us") > 3600 * 1_000_000)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.max("gap_us").cast("long").alias("max_gap_us"),
        )
    )


@register(
    "q50_rollup_revenue",
    """
    SELECT COALESCE(r_name, 'ALL') AS r_name,
           COALESCE(n_name, 'ALL') AS n_name,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q50(spark, sf_dir):
    """ROLLUP hierarchy aggregation (region -> nation -> grand total) —
    grouping-sets capability the reference lacks entirely; subtotal rows
    surface as COALESCE'd 'ALL' labels so the oracle hash is stable."""
    t = _t(spark, sf_dir, "orders", "customer", "nation", "region")
    df = (
        t["orders"]
        .join(F.broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        df.rollup("r_name", "n_name")
        .agg(
            F.sum(dec("o_totalprice")).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
            "revenue",
            "n_orders",
        )
    )


@register(
    "q51_boilerplate_strip",
    """
    WITH docs_l AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT(TRIM(text), '. '),
                         s -> LEN(s) > 0) AS sl
      FROM documents),
    n AS (SELECT COUNT(*) AS nd FROM documents),
    bp AS (
      SELECT key FROM (
        SELECT doc_id, LOWER(UNNEST(sl)) AS key FROM docs_l)
      GROUP BY key
      -- integer n > x equals n > floor(x): direct comparison avoids the
      -- DuckDB CAST-rounds vs Python-int-truncates divergence
      HAVING COUNT(DISTINCT doc_id) > (SELECT nd * 0.05 FROM n)),
    bplist AS (SELECT COALESCE(LIST(key), []) AS bl FROM bp),
    rebuilt AS (
      SELECT doc_id,
             LIST_FILTER(sl, s -> NOT LIST_CONTAINS(bl, LOWER(s))) AS keptl,
             LEN(sl) AS n_all
      FROM docs_l CROSS JOIN bplist)
    SELECT doc_id, ARRAY_TO_STRING(keptl, '. ') AS text,
           CAST(LEN(keptl) AS BIGINT) AS n_kept,
           CAST(n_all - LEN(keptl) AS BIGINT) AS n_dropped
    FROM rebuilt
    """,
)
def q51(spark, sf_dir):
    """Sentence-level boilerplate removal (curation): sentences repeated
    across more than 5% of documents (template chrome, disclaimers) are
    stripped corpus-wide and documents reassembled order-preserving —
    the CCNet-style repeated-segment pass a crawl pipeline runs before
    training.  Fully oracled including the rebuilt text; fully-stripped
    documents are kept with text='' and n_kept=0 (never silently
    dropped)."""
    t = _t(spark, sf_dir, "documents")
    out = DD.strip_boilerplate(t["documents"], max_doc_frac=0.05)
    return out.select(
        "doc_id", "text",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


@register(
    "q52_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+') AS t
      FROM documents),
    dsh AS (
      SELECT doc_id,
             UNNEST(LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, LEN(t) - 4),
                    i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' ||
                         t[i+4] || ' ' || t[i+5]))) AS shingle
      FROM toks WHERE LEN(t) >= 5),
    bsh AS (SELECT doc_id AS bench_id, shingle FROM dsh WHERE doc_id < 3)
    SELECT d.doc_id, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM dsh d JOIN bsh b USING (shingle)
    GROUP BY d.doc_id, b.bench_id
    """,
)
def q52(spark, sf_dir):
    """Benchmark decontamination scan (curation): flag every document
    sharing a word 5-gram with an eval-set text (here: docs 0-2 playing
    the benchmark).  The tiny benchmark shingle set broadcasts; the
    corpus side is one narrow pass + an equi-join — never a doc x
    benchmark product."""
    t = _t(spark, sf_dir, "documents")
    docs = t["documents"]
    bench = docs.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return DD.contaminated_docs(docs, bench, n=5).select(
        "doc_id", "bench_id", F.col("n_shared").cast("long").alias("n_shared")
    )


@register(
    "q53_time_rollup",
    """
    SELECT COALESCE(STRFTIME(day, '%Y-%m-%d'), 'ALL') AS day,
           COALESCE(CAST(hr AS VARCHAR), 'ALL') AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,6))), 4) AS DOUBLE) AS total_value
    FROM (SELECT CAST(ts AS DATE) AS day, EXTRACT(hour FROM ts) AS hr, value
          FROM events)
    GROUP BY ROLLUP (day, hr)
    """,
)
def q53(spark, sf_dir):
    """Hypertable-style time rollup: hour -> day -> grand total in one
    grouping-sets pass (the multi-granularity summary a time-partitioned
    event table serves from a single scan); decimal-routed sums keep the
    float hash engine-stable."""
    t = _t(spark, sf_dir, "events")
    ev = t["events"].select(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("hr"),
        F.round("value", 6).cast("decimal(38,6)").alias("value"),
    )
    return (
        ev.rollup("day", "hr")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 4).cast("double").alias("total_value"),
        )
        .select(
            F.coalesce(F.date_format("day", "yyyy-MM-dd"), F.lit("ALL")).alias("day"),
            F.coalesce(F.col("hr").cast("string"), F.lit("ALL")).alias("hr"),
            "n",
            "total_value",
        )
    )


_BLOOM_M = 65536  # ~10 bits/key for the qualifying-order set -> ~1% fp


def _bloom_lanes_sql(expr: str, k: int = 3, m: int = _BLOOM_M) -> list[str]:
    from ..operators import sketch as SK

    return [SK._lane_sql(expr, i, m) for i in range(k)]


def _q54_sql() -> str:
    l0, l1, l2 = _bloom_lanes_sql("key")
    f0, f1, f2 = _bloom_lanes_sql("l_orderkey")
    return f"""
    WITH qual AS (SELECT o_orderkey AS key FROM orders WHERE o_totalprice > 400000),
    lanes AS (
      SELECT {l0} AS p FROM qual
      UNION ALL SELECT {l1} FROM qual
      UNION ALL SELECT {l2} FROM qual),
    words AS (SELECT CAST(p // 32 AS INT) AS wi,
                     BIT_OR(CAST(1 AS BIGINT) << (p % 32)) AS word
              FROM lanes GROUP BY 1),
    li AS (SELECT l_orderkey, {f0} AS p0, {f1} AS p1, {f2} AS p2 FROM lineitem),
    mem AS (
      SELECT li.l_orderkey,
             COALESCE(((w0.word >> (p0 % 32)) & 1) = 1, FALSE)
             AND COALESCE(((w1.word >> (p1 % 32)) & 1) = 1, FALSE)
             AND COALESCE(((w2.word >> (p2 % 32)) & 1) = 1, FALSE) AS pass
      FROM li
      LEFT JOIN words w0 ON w0.wi = CAST(p0 // 32 AS INT)
      LEFT JOIN words w1 ON w1.wi = CAST(p1 // 32 AS INT)
      LEFT JOIN words w2 ON w2.wi = CAST(p2 // 32 AS INT))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_fact,
           CAST(SUM(CASE WHEN q.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_match,
           CAST(SUM(CASE WHEN m.pass THEN 1 ELSE 0 END) AS BIGINT) AS bloom_pass,
           CAST(SUM(CASE WHEN m.pass AND q.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS false_pos
    FROM mem m LEFT JOIN qual q ON q.key = m.l_orderkey
    """


@register("q54_bloom_prefilter", _q54_sql())
def q54(spark, sf_dir):
    """Bloom-sketch join pre-filter: fact rows are tested against a
    broadcast md5-Bloom built from the qualifying-order keys BEFORE any
    exchange — the rows that cannot match never shuffle.  Reports
    (n_fact, exact_match, bloom_pass, false_pos); no false negatives by
    construction, and because bit positions are md5-derived the whole
    sketch is value-identical in DuckDB (its oracle rebuilds the filter
    relationally with BIT_OR over the same lanes)."""
    from ..operators import sketch as SK

    t = _t(spark, sf_dir, "orders", "lineitem")
    qual = t["orders"].where(F.col("o_totalprice") > 400000).select("o_orderkey")
    # distributed build: lane positions executor-side, one BIT_OR
    # aggregate, driver receives only the m/32 packed words — never the
    # keys (the round-1 collect() funnel is gone)
    words = SK.build_bloom_distributed(qual, "o_orderkey", m=_BLOOM_M)
    li = t["lineitem"]
    flagged = li.join(
        F.broadcast(qual.withColumn("_hit", F.lit(1))),
        li["l_orderkey"] == qual["o_orderkey"],
        "left",
    )
    # with_bloom_pass binds the lane positions once per row (the md5
    # chains would otherwise re-evaluate per reference)
    flagged = SK.with_bloom_pass(flagged, "l_orderkey", words, m=_BLOOM_M)
    return flagged.agg(
        F.count("*").alias("n_fact"),
        F.sum(F.when(F.col("_hit") == 1, 1).otherwise(0)).cast("long").alias("exact_match"),
        F.sum(F.col("bloom_pass").cast("int")).cast("long").alias("bloom_pass"),
        F.sum(F.when(F.col("bloom_pass") & F.col("_hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("false_pos"),
    )


@register(
    "q55_stratified_sample",
    """
    WITH rated AS (
      SELECT source, doc_id,
             [6554, 16384, 32768][
               ((STRPOS('0123456789abcdef', SUBSTR(MD5(source), 1, 1)) - 1) % 3) + 1
             ] AS thr,
             (STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
             + (STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
             + (STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
             + (STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) AS hv
      FROM documents)
    SELECT source, CAST(thr AS INT) AS thr,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN hv < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
    FROM rated GROUP BY source, thr
    """,
)
def q55(spark, sf_dir):
    """Deterministic stratified sampling (the data-mixing step): each
    source stratum keeps a per-stratum fraction (10/25/50%, chosen by
    source hash) of documents selected by key hash — reproducible across
    engines AND partitionings, unlike sample()/randomSplit whose output
    depends on partition layout.  At corpus scale this is one narrow
    pass: no shuffle until the reporting aggregate."""
    t = _t(spark, sf_dir, "documents")
    thr = F.element_at(
        F.array(F.lit(6554), F.lit(16384), F.lit(32768)),
        (F.conv(F.substring(F.md5("source"), 1, 1), 16, 10).cast("int") % 3) + 1,
    )
    hv = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long")
    rated = t["documents"].select("source", thr.alias("thr"), hv.alias("hv"))
    return rated.groupBy("source", F.col("thr").cast("int").alias("thr")).agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("hv") < F.col("thr"), 1).otherwise(0)).cast("long").alias("n_sampled"),
    )


@register(
    "q56_jaccard_lsh_verified",
    f"""
    WITH {_SHINGLES_CTE},
    proj AS (SELECT doc_id, MD5('seed0|' || shingle) AS d0, MD5('seed1|' || shingle) AS d1
             FROM shingles),
    sigs AS (
      SELECT doc_id,
             MIN(SUBSTRING(d0, 1, 8)) AS h0, MIN(SUBSTRING(d0, 9, 8)) AS h1,
             MIN(SUBSTRING(d0, 17, 8)) AS h2, MIN(SUBSTRING(d0, 25, 8)) AS h3,
             MIN(SUBSTRING(d1, 1, 8)) AS h4, MIN(SUBSTRING(d1, 9, 8)) AS h5,
             MIN(SUBSTRING(d1, 17, 8)) AS h6, MIN(SUBSTRING(d1, 25, 8)) AS h7
      FROM proj GROUP BY doc_id),
    bands AS (
      SELECT doc_id, 0 AS band, MD5(h0 || '|' || h1) AS bh FROM sigs
      UNION ALL SELECT doc_id, 1, MD5(h2 || '|' || h3) FROM sigs
      UNION ALL SELECT doc_id, 2, MD5(h4 || '|' || h5) FROM sigs
      UNION ALL SELECT doc_id, 3, MD5(h6 || '|' || h7) FROM sigs),
    cands AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
      WHERE x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM shingles x JOIN shingles y USING (shingle)
      WHERE x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id),
    restricted AS (
      SELECT i.* FROM inter i WHERE EXISTS (
        SELECT 1 FROM cands c WHERE c.a = i.a AND c.b = i.b))
    SELECT a, b, jaccard FROM (
      SELECT a, b, ROUND(i / (sa.n + sb.n - i), 4) AS jaccard
      FROM restricted JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
    WHERE jaccard >= 0.2
    """,
)
def q56(spark, sf_dir):
    """THE canonical two-phase corpus dedup: MinHash signatures -> banded
    LSH candidate pairs (cost O(sum bucket^2), never O(n^2)) -> exact
    Jaccard verification restricted to the candidates.  At 100 TB only
    this shape is viable; its recall vs the exhaustive q24 is the
    banding trade-off, and every stage is md5-exact so the WHOLE
    composition hash-matches the DuckDB oracle."""
    t = _t(spark, sf_dir, "documents")
    sh = DD.word_shingles(t["documents"])
    sigs = DD.minhash_signatures(sh, k=8)
    cands = DD.lsh_candidate_pairs(sigs, bands=4, sig_len=8)
    return DD.jaccard_pairs(sh, threshold=0.2, candidates=cands)


@register(
    "q57_wordpiece",
    f"""
    WITH RECURSIVE
    wpwords AS (
      SELECT DISTINCT tok AS word FROM (
        SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      WHERE tok <> ''),
    {_wordpiece_cte()}
    SELECT word, CAST(n_pieces AS INTEGER) AS n_pieces, ids_csv FROM wp
    """,
)
def q57(spark, sf_dir):
    """Real-vocab WordPiece segmentation as a value-oracled query (F7):
    the corpus vocabulary (distinct whitespace words) mapped to its full
    greedy max-munch piece-id sequences.  The engine side runs the
    actual kernel (functions/wordpiece.py) in one Arrow batch stage over
    the distinct-word dimension; the oracle is an INDEPENDENT SQL
    implementation — jump table of longest vocab matches per (word, pos)
    + recursive walk — over the same committed vocab file, so every id
    in every sequence is cross-checked."""
    from ..operators.features import wordpiece_segments

    t = _t(spark, sf_dir, "documents")
    words = (
        t["documents"]
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .distinct()
    )
    return wordpiece_segments(words)


@register(
    "q58_gda_roundtrip",
    f"""
    WITH {_MENTIONS_CTE},
    cooc AS (
      SELECT DISTINCT m1.doc_id, m1.mesh_id AS chem_mesh, m2.mesh_id AS dis_mesh
      FROM mentions m1 JOIN mentions m2
        ON m1.doc_id = m2.doc_id AND m1.type = 'Chemical' AND m2.type = 'Disease'
      WHERE ABS(m1.start - m2.start) <= {_COOC_WINDOW}),
    men_n AS (SELECT doc_id, COUNT(*) AS n_mentions FROM mentions GROUP BY doc_id),
    rel_n AS (SELECT doc_id, COUNT(*) AS n_relations FROM cooc GROUP BY doc_id)
    SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
           CAST(COALESCE(m.n_mentions, 0) AS BIGINT) AS n_mentions,
           CAST(COALESCE(r.n_relations, 0) AS BIGINT) AS n_relations,
           CAST(LENGTH(LOWER(d.text)) AS BIGINT) AS text_len
    FROM documents d
    LEFT JOIN men_n m ON m.doc_id = d.doc_id
    LEFT JOIN rel_n r ON r.doc_id = d.doc_id
    """,
)
def q58(spark, sf_dir):
    """GDA->CDR conversion ROUNDTRIP (S6-S9, convert_gda_to_cdr.py):
    CDR-shaped frames are serialized to PubTator block text
    (pubtator_blocks, the write_cdr_file shape) and parsed BACK through
    the block scanner + parse_documents/parse_mentions/parse_relations —
    the oracle checks the post-roundtrip per-doc counts against the
    pre-serialization truth, so any loss or corruption in the sink or
    scan fails the hash."""
    from ..sources.gda import gda_to_cdr
    from ..sources.pubtator import (
        _split_blocks_udf,
        parse_documents,
        parse_mentions,
        parse_relations,
        pubtator_blocks,
    )

    t = _t(spark, sf_dir, "documents")
    abstracts = t["documents"].select(
        F.col("doc_id").cast("string").alias("doc_id"), F.lower("text").alias("text")
    )
    annotations = _doc_mentions(spark, sf_dir).select(
        F.col("url").cast("string").alias("doc_id"),
        "start", "end", "mention_text", "type",
        F.col("mesh_id").alias("entity_id"),
    )
    labels = _doc_cooc(spark, sf_dir).select(
        F.col("url").cast("string").alias("doc_id"),
        F.col("chem_mesh").alias("gene_id"),
        F.col("dis_mesh").alias("disease_id"),
        F.lit(1).alias("label"),
    )
    docs, mentions, relations = gda_to_cdr(abstracts, annotations, labels)
    blocks = pubtator_blocks(docs, mentions, relations).select(
        F.explode(_split_blocks_udf(F.col("value"))).alias("lines")
    )
    pdocs = parse_documents(blocks)
    pmen = parse_mentions(blocks)
    prel = parse_relations(blocks, pmen)
    men_n = pmen.groupBy("doc_id").agg(F.count("*").alias("n_mentions"))
    rel_n = prel.groupBy("doc_id").agg(F.count("*").alias("n_relations"))
    return (
        pdocs.join(men_n, "doc_id", "left")
        .join(rel_n, "doc_id", "left")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.coalesce("n_mentions", F.lit(0)).cast("long").alias("n_mentions"),
            F.coalesce("n_relations", F.lit(0)).cast("long").alias("n_relations"),
            F.length("text").cast("long").alias("text_len"),
        )
    )


@register(
    "q59_gda_pairs",
    f"""
    WITH {_MENTIONS_CTE},
    anns AS (
      SELECT doc_id, start, "end",
             CASE WHEN type = 'Chemical' THEN 'Gene' ELSE type END AS type,
             mesh_id AS entity_id
      FROM mentions
      UNION ALL
      SELECT doc_id, start, "end", 'Disease', mesh_id || 'x'
      FROM mentions WHERE type = 'Chemical'),
    resolved AS (
      SELECT doc_id, type, entity_id FROM (
        SELECT a.*, ROW_NUMBER() OVER (
          PARTITION BY doc_id, start, "end"
          ORDER BY CASE WHEN type = 'Gene' THEN 0 ELSE 1 END, entity_id) AS rn
        FROM anns a)
      WHERE rn = 1),
    ginv AS (SELECT DISTINCT doc_id, entity_id, type FROM resolved),
    gg AS (SELECT doc_id, COUNT(*) AS n_gene FROM ginv WHERE type = 'Gene' GROUP BY doc_id),
    dd2 AS (SELECT doc_id, COUNT(*) AS n_dis FROM ginv WHERE type = 'Disease' GROUP BY doc_id)
    SELECT CAST(gg.doc_id AS BIGINT) AS doc_id,
           CAST(gg.n_gene AS BIGINT) AS n_gene,
           CAST(dd2.n_dis AS BIGINT) AS n_dis,
           CAST(gg.n_gene * dd2.n_dis AS BIGINT) AS n_pairs
    FROM gg JOIN dd2 ON gg.doc_id = dd2.doc_id
    """,
)
def q59(spark, sf_dir):
    """GDA gene-disease candidate generation (gda_trainer.py:225-226:
    the CDR pipeline with Gene in the chemical role) INCLUDING the S7
    duplicate-span resolution: the synthesized annotation stream carries
    a deliberate type-conflicting duplicate at every Gene span, and
    resolve_duplicate_spans must keep exactly the Gene row (priority
    window) before the per-doc gene x disease product is counted."""
    from ..sources.gda import resolve_duplicate_spans

    m = _doc_mentions(spark, sf_dir).select(
        F.col("url").cast("string").alias("doc_id"),
        "start", "end", "mention_text",
        F.when(F.col("type") == "Chemical", "Gene").otherwise(F.col("type")).alias("type"),
        F.col("mesh_id").alias("entity_id"),
    )
    conflicts = m.where(F.col("type") == "Gene").select(
        "doc_id", "start", "end", "mention_text",
        F.lit("Disease").alias("type"),
        F.concat("entity_id", F.lit("x")).alias("entity_id"),
    )
    resolved = resolve_duplicate_spans(m.unionByName(conflicts))
    inv = resolved.select("doc_id", "entity_id", "type").distinct()
    g = inv.where(F.col("type") == "Gene").groupBy("doc_id").agg(F.count("*").alias("n_gene"))
    d = inv.where(F.col("type") == "Disease").groupBy("doc_id").agg(F.count("*").alias("n_dis"))
    return g.join(d, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_gene").cast("long").alias("n_gene"),
        F.col("n_dis").cast("long").alias("n_dis"),
        (F.col("n_gene") * F.col("n_dis")).cast("long").alias("n_pairs"),
    )


@register(
    "q60_tacred_spans",
    """
    WITH rows_t AS (
      SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS token,
             ['per:title','org:founded','no_relation'][CAST(doc_id % 3 AS INT) + 1]
               AS relation
      FROM documents),
    ok AS (SELECT * FROM rows_t WHERE LEN(token) >= 4)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, relation,
           ARRAY_TO_STRING(token[1:2], ' ') AS subj_mention,
           ARRAY_TO_STRING(token[3:4], ' ') AS obj_mention,
           CAST(LEN(token) AS INTEGER) AS n_tokens
    FROM ok
    """,
)
def q60(spark, sf_dir):
    """TACRED-shaped span extraction (S11, tacred_dataset.py:105-124):
    token-array rows with inclusive (subj_start..subj_end) /
    (obj_start..obj_end) spans joined back to surface mentions — the
    transform the TACRED scan feeds downstream.  Rows are synthesized
    deterministically from the documents table so both engines see the
    same input."""
    from ..sources.tacred import tacred_spans

    t = _t(spark, sf_dir, "documents")
    rows = t["documents"].select(
        "doc_id",
        F.split(F.lower("text"), " ").alias("token"),
        F.element_at(
            F.array(F.lit("per:title"), F.lit("org:founded"), F.lit("no_relation")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("relation"),
        F.lit(0).alias("subj_start"), F.lit(1).alias("subj_end"),
        F.lit(2).alias("obj_start"), F.lit(3).alias("obj_end"),
    ).where(F.size("token") >= 4)
    return tacred_spans(rows).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "relation", "subj_mention", "obj_mention",
        F.col("n_tokens").cast("int").alias("n_tokens"),
    )


_SP_VOCAB_PATH = (
    _Path(__file__).resolve().parent.parent / "data" / "sp_wiki_ja.tsv"
).as_posix()

_SP_MAX_WORD = 23  # incl. the ▁ prefix; bounds the DP round count


def _sp_viterbi_cte() -> str:
    """SQL block computing sp(word, n_pieces, ids_csv, cost_e6) for a
    previously defined spwords(word) CTE of ▁-prefixed words (length ≤
    _SP_MAX_WORD) — an INDEPENDENT DuckDB implementation of the unigram
    Viterbi in functions/sp_unigram.py.

    Shape: the piece table is read from the committed model TSV; a
    candidate relation materializes every (word, pos, piece) lattice
    node (NORMAL pieces by substring equi-join, plus the one-char <unk>
    node with score min-10 wherever no single-char piece covers — the
    has_single_node guard); the shortest-path DP runs as L bounded
    Bellman-Ford relaxations (each piece consumes ≥1 char, so
    _SP_MAX_WORD rounds reach the fixed point), pruning to the best
    (cost, n, ids_csv) state per (word, pos) per round with exactly the
    kernel's tie-break comparator.  All costs are float64 sums built
    left-to-right along each path — bit-identical across engines."""
    relax = []
    for t in range(1, _SP_MAX_WORD + 1):
        relax.append(f"""
  spr{t} AS MATERIALIZED (
    SELECT word, pos, cost, n, ids FROM (
      SELECT word, pos, cost, n, ids,
             ROW_NUMBER() OVER (PARTITION BY word, pos
                                ORDER BY cost, n, ids) AS rn
      FROM (
        SELECT word, pos, cost, n, ids FROM spr{t - 1}
        UNION ALL
        SELECT r.word, r.pos + c.len, r.cost - c.score, r.n + 1,
               CASE WHEN r.ids = '' THEN CAST(c.id AS VARCHAR)
                    ELSE r.ids || ',' || CAST(c.id AS VARCHAR) END
        FROM spr{t - 1} r
        JOIN spcand c ON c.word = r.word AND c.pos = r.pos))
    WHERE rn = 1)""")
    relaxed = ",".join(relax)
    return f"""
  spvocab AS (
    SELECT u.i - 1 AS id,
           STRING_SPLIT(u.line, CHR(9))[1] AS piece,
           CAST(STRING_SPLIT(u.line, CHR(9))[2] AS DOUBLE) AS score,
           STRING_SPLIT(u.line, CHR(9))[3] AS ptype
    FROM (
      SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(lines) + 1),
                    j -> STRUCT_PACK(i := j, line := lines[j]))) AS u
      FROM (SELECT STRING_SPLIT(content, CHR(10)) AS lines
            FROM read_text('{_SP_VOCAB_PATH}'))
    ) WHERE u.line <> ''),
  spnormal AS (SELECT id, piece, score, LEN(piece) AS len
               FROM spvocab WHERE ptype = '1'),
  spunk AS (SELECT MIN(score) - 10.0 AS score FROM spnormal),
  sppos AS (
    SELECT word, UNNEST(RANGE(0, LEN(word))) AS pos FROM spwords),
  spcand AS MATERIALIZED (
    SELECT g.word, g.pos, v.len, v.id, v.score
    FROM (SELECT word, pos, UNNEST(RANGE(1, LEN(word) - pos + 1)) AS l
          FROM sppos) g
    JOIN spnormal v
      ON v.len = g.l AND v.piece = SUBSTR(g.word, g.pos + 1, g.l)
    UNION ALL
    SELECT p.word, p.pos, 1, 0, (SELECT score FROM spunk)
    FROM sppos p
    WHERE NOT EXISTS (
      SELECT 1 FROM spnormal v
      WHERE v.len = 1 AND v.piece = SUBSTR(p.word, p.pos + 1, 1))),
  spr0 AS MATERIALIZED (
    SELECT word, 0 AS pos, CAST(0.0 AS DOUBLE) AS cost, 0 AS n,
           CAST('' AS VARCHAR) AS ids
    FROM spwords),{relaxed},
  sp AS (
    SELECT word, n AS n_pieces, ids AS ids_csv,
           CAST(FLOOR(cost * 1000000.0 + 0.5) AS BIGINT) AS cost_e6
    FROM spr{_SP_MAX_WORD} WHERE pos = LEN(word))
"""


@register(
    "q61_sentencepiece",
    f"""
    WITH
    spwords AS (
      SELECT DISTINCT '▁' || tok AS word FROM (
        SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      WHERE tok <> '' AND LEN(tok) <= {_SP_MAX_WORD - 1}),
    {_sp_viterbi_cte()}
    SELECT word, CAST(n_pieces AS INTEGER) AS n_pieces, ids_csv, cost_e6
    FROM sp
    """,
)
def q61(spark, sf_dir):
    """Real-model SentencePiece unigram segmentation as a value-oracled
    query (the reference's ALPS tokenizer: models/tokenization.py:155-194
    / alps_trainer.py:74 over the shipped wiki-ja model): the corpus
    vocabulary (distinct ▁-prefixed whitespace words, length-capped so
    the oracle's DP round count is bounded) mapped to its max-likelihood
    piece-id sequence AND the exact Viterbi path cost in micro-logprob
    units.  The engine side runs the actual lattice kernel
    (functions/sp_unigram.py) in one Arrow batch stage over the distinct
    -word dimension; the oracle is an independent bounded Bellman-Ford
    in SQL over the same committed piece table, so every id in every
    sequence AND every path score is cross-checked."""
    from ..operators.features import sp_segments

    t = _t(spark, sf_dir, "documents")
    words = (
        t["documents"]
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .where((F.col("tok") != "") & (F.length("tok") <= _SP_MAX_WORD - 1))
        .select(F.concat(F.lit("▁"), F.col("tok")).alias("word"))
        .distinct()
    )
    return sp_segments(words)


@register(
    "q62_repetition_signals",
    """
    WITH dw AS (
      SELECT doc_id, LOWER(text) AS lt,
             LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS w
      FROM documents),
    base AS (
      SELECT doc_id, lt, w, LEN(w) AS n_words, LENGTH(lt) AS n_chars
      FROM dw WHERE LEN(w) > 0),
    uw AS (
      SELECT doc_id, COUNT(DISTINCT u.tok) AS n_distinct
      FROM (SELECT doc_id, UNNEST(w) AS tok FROM base) u(doc_id, tok)
      GROUP BY doc_id),
    bg AS (
      SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
                     i -> w[i] || ' ' || w[i + 1])) AS gram
      FROM base WHERE LEN(w) >= 2),
    bgc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM bg GROUP BY doc_id, gram),
    topbg AS (
      SELECT doc_id, gram AS top_bigram, cnt AS top_cnt FROM (
        SELECT doc_id, gram, cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY cnt DESC, gram) AS rn
        FROM bgc) WHERE rn = 1),
    fg AS (
      SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 3),
                     i -> ARRAY_TO_STRING(w[i:i+4], ' '))) AS gram
      FROM base WHERE LEN(w) >= 5),
    fgc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM fg GROUP BY doc_id, gram),
    dup5 AS (
      SELECT doc_id, SUM(cnt * LENGTH(gram)) AS dup_chars
      FROM fgc WHERE cnt > 1 GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_words AS INTEGER) AS n_words,
           ROUND(1.0 - uw.n_distinct / b.n_words, 4) AS dup_word_frac,
           COALESCE(t.top_bigram, '') AS top_bigram,
           ROUND(COALESCE(t.top_cnt * LENGTH(t.top_bigram), 0)
                 / b.n_chars, 4) AS top_bigram_frac,
           ROUND(COALESCE(d.dup_chars, 0) / b.n_chars, 4) AS dup_5gram_frac
    FROM base b
    LEFT JOIN uw ON uw.doc_id = b.doc_id
    LEFT JOIN topbg t ON t.doc_id = b.doc_id
    LEFT JOIN dup5 d ON d.doc_id = b.doc_id
    """,
)
def q62(spark, sf_dir):
    """Gopher-style repetition signals (Rae et al. 2021 quality filters,
    the standard webtext curation pass): per-document duplicate-word
    fraction, the most-frequent word bigram and the fraction of
    characters it covers, and the fraction of characters inside
    duplicated word 5-grams.  Contracts (identical on both sides):
    words = non-empty LOWER split on ' '; coverage = occurrence count x
    gram string length over LOWER(text) length; top-bigram ties break to
    the lexicographically smallest gram.  All-JVM: array zip_with /
    transform n-gram builders, one explode + groupBy per gram family
    keyed by (doc_id, gram) — shuffle-bounded, no UDF."""
    t = _t(spark, sf_dir, "documents")
    base = (
        t["documents"]
        .select(
            "doc_id",
            F.lower("text").alias("lt"),
            F.filter(F.split(F.lower("text"), " "), lambda w: w != "").alias("w"),
        )
        .where(F.size("w") > 0)
        .select(
            "doc_id", "w",
            F.size("w").alias("n_words"),
            F.length("lt").alias("n_chars"),
        )
        .persist()
    )
    uw = base.select(
        "doc_id", F.size(F.array_distinct("w")).alias("n_distinct")
    )
    bg = (
        base.where(F.size("w") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice("w", 1, F.size("w") - 1),
                    F.slice("w", 2, F.size("w") - 1),
                    lambda a, b: F.concat_ws(" ", a, b),
                )
            ).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    wtop = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    topbg = (
        bg.withColumn("rn", F.row_number().over(wtop))
        .where(F.col("rn") == 1)
        .select("doc_id", F.col("gram").alias("top_bigram"), F.col("cnt").alias("top_cnt"))
    )
    fg = (
        base.where(F.size("w") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 4),
                    lambda i: F.array_join(F.slice("w", i, 5), " "),
                )
            ).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    dup5 = (
        fg.where(F.col("cnt") > 1)
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.length("gram")).alias("dup_chars"))
    )
    return (
        base.join(uw, "doc_id", "left")
        .join(topbg, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("int").alias("n_words"),
            F.round(
                F.lit(1.0) - F.col("n_distinct") / F.col("n_words"), 4
            ).alias("dup_word_frac"),
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.round(
                F.coalesce(F.col("top_cnt") * F.length("top_bigram"), F.lit(0))
                / F.col("n_chars"),
                4,
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce("dup_chars", F.lit(0)) / F.col("n_chars"), 4
            ).alias("dup_5gram_frac"),
        )
    )


@register(
    "q63_corpus_token_counts",
    f"""
    WITH RECURSIVE
    docwords AS (
      SELECT doc_id, tok AS word FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    wpwords AS (SELECT DISTINCT word FROM docwords),
    {{wp_cte}}
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wp.n_pieces) AS BIGINT) AS n_tokens
    FROM docwords d JOIN wp ON wp.word = d.word
    GROUP BY d.doc_id
    """.format(wp_cte=_wordpiece_cte()),
)
def q63(spark, sf_dir):
    """Corpus token accounting with the REAL tokenizer (the number every
    training-data pipeline budgets by): per-document word and WordPiece
    token counts.  The Zipf trick makes this scale-shaped — the
    expensive kernel runs ONCE per distinct word (a broadcast-sized
    dimension), and the corpus-side cost is an explode + broadcast join
    + groupBy(doc_id); re-tokenizing every occurrence would be O(corpus)
    kernel calls instead of O(vocabulary)."""
    from ..operators.features import wordpiece_segments

    t = _t(spark, sf_dir, "documents")
    docwords = (
        t["documents"]
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
    )
    dim = wordpiece_segments(docwords.select("word").distinct())
    return (
        docwords.join(F.broadcast(dim.select("word", "n_pieces")), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_tokens"),
        )
    )


@register(
    "q64_token_packing",
    f"""
    WITH RECURSIVE
    docwords AS (
      SELECT doc_id, tok AS word FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    wpwords AS (SELECT DISTINCT word FROM docwords),
    {{wp_cte}}
    , doctoks AS (
      SELECT d.doc_id, SUM(wp.n_pieces) AS n_tokens
      FROM docwords d JOIN wp ON wp.word = d.word
      GROUP BY d.doc_id),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         ) / 512.0) AS BIGINT) AS pack_id
      FROM doctoks)
    SELECT COALESCE(pack_id, 0) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc
    FROM packed GROUP BY 1
    """.format(wp_cte=_wordpiece_cte()),
)
def q64(spark, sf_dir):
    """Deterministic sequence packing for training (GPT-style document
    packing, 512-token budget): docs in doc_id order are assigned
    pack_id = floor(preceding-cumulative-tokens / 512) — the
    split-allowing packing contract whose prefix sum is a single window
    over a global sort (at 100 TB: range-partitioned sort; the
    alternative first-fit-with-reset is inherently sequential state and
    deliberately NOT the contract).  Token counts come from the real
    WordPiece dimension (q63's Zipf trick).  Output is per-pack
    accounting (size, token mass, first doc)."""
    from ..operators.features import wordpiece_segments

    t = _t(spark, sf_dir, "documents")
    docwords = (
        t["documents"]
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
    )
    dim = wordpiece_segments(docwords.select("word").distinct())
    doctoks = (
        docwords.join(F.broadcast(dim.select("word", "n_pieces")), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_pieces").alias("n_tokens"))
    )
    # distributed prefix sum (the 100 TB shape): an UNPARTITIONED window
    # would funnel every row through one task.  Instead: range-partition
    # by doc_id (contiguous sorted ranges, partition id = range order),
    # take a partition-LOCAL running sum, and add the broadcast
    # cumulative offset of all earlier partitions — the global prefix
    # sum exactly, with only the per-partition totals (one row each)
    # crossing a single-task window.
    parts = doctoks.repartitionByRange(32, "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    wlocal = (
        Window.partitionBy("pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = parts.withColumn(
        "local_prefix", F.coalesce(F.sum("n_tokens").over(wlocal), F.lit(0))
    )
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parts.groupBy("pid")
        .agg(F.sum("n_tokens").alias("part_total"))
        .select(
            "pid",
            F.coalesce(F.sum("part_total").over(woff), F.lit(0)).alias("offset"),
        )
    )
    packed = local.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("offset") + F.col("local_prefix")) / 512.0)
        .cast("long")
        .alias("pack_id"),
    )
    return packed.groupBy("pack_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


def _pagerank_cte(iters: int = 5) -> str:
    """SQL block computing pr{iters}(v, pr) over edges/nodes/deg CTEs —
    the integer-exact PageRank DP (all BIGINT // arithmetic, so every
    value is engine-exact; no float summation-order hazard)."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
  pr{t} AS MATERIALIZED (
    SELECT n.v,
           CAST((15 * (1000000000 // (SELECT n FROM nn))
                 + 85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS pr
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS v, SUM(p.pr // d.deg) AS inflow
      FROM edges e
      JOIN pr{t - 1} p ON p.v = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst) i ON i.v = n.v)""")
    return ",".join(steps)


@register(
    "q65_pagerank",
    f"""
    WITH {_PAIRS_CTE},
    triples AS (
      SELECT chem_mesh AS subj, dis_mesh AS obj
      FROM cooc GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    edges AS MATERIALIZED (
      SELECT subj AS src, obj AS dst FROM triples
      UNION
      SELECT obj, subj FROM triples),
    nodes AS MATERIALIZED (SELECT DISTINCT src AS v FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    pr0 AS MATERIALIZED (
      SELECT v, CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS pr
      FROM nodes),
    {_pagerank_cte(5)}
    SELECT v AS entity, pr AS pr_e9 FROM pr5
    """,
)
def q65(spark, sf_dir):
    """PageRank over the KG (graph-analytics extension): 5 fixed
    iterations on the undirected triple graph (q30's subj/obj pairs,
    both directions), damping 0.85.  All arithmetic is BIGINT nano-rank
    units with integer division — pr' = (15*base + 85*inflow) DIV 100,
    inflow = sum(pr DIV out_degree) — so the result is engine-exact and
    value-oracled (float PageRank would differ by summation order).
    Scale shape: each iteration is one equi-join on src + one groupBy
    on dst (shuffle-bounded, no driver data); labels localCheckpoint
    per round exactly like connected_components; the node count (the
    only driver scalar) is the bounded entity space."""
    triples = QUERIES["q30_cdr_triples"](spark, sf_dir)
    edges = (
        triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .unionByName(
            triples.select(F.col("obj").alias("src"), F.col("subj").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    nodes = edges.select(F.col("src").alias("v")).distinct().localCheckpoint()
    n = nodes.count()
    if n == 0:  # empty graph: no nodes, no ranks (the oracle's pr5 is empty too)
        return nodes.select(
            F.col("v").alias("entity"), F.lit(None).cast("long").alias("pr_e9")
        )
    base = 10**9 // n
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    pr = nodes.withColumn("pr", F.lit(base).cast("long"))
    for _ in range(5):
        inflow = (
            edges.join(pr.withColumnRenamed("v", "src"), "src")
            .join(deg, "src")
            .select("dst", F.expr("pr DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        pr = (
            nodes.join(inflow.withColumnRenamed("dst", "v"), "v", "left")
            .select(
                "v",
                F.expr(
                    f"CAST((15 * {base}L + 85 * coalesce(inflow, 0L)) DIV 100 AS LONG)"
                ).alias("pr"),
            )
            .localCheckpoint()
        )
    return pr.select(F.col("v").alias("entity"), F.col("pr").alias("pr_e9"))


@register(
    "q66_word_rank_quality",
    """
    WITH docwords AS (
      SELECT doc_id, tok AS word FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
        FROM documents)
      WHERE tok <> ''),
    freq AS (
      SELECT word, COUNT(*) AS cnt FROM docwords GROUP BY word),
    cnts AS (
      SELECT cnt, DENSE_RANK() OVER (ORDER BY cnt DESC) AS rnk
      FROM (SELECT DISTINCT cnt FROM freq)),
    ranked AS (SELECT f.word, c.rnk FROM freq f JOIN cnts c ON c.cnt = f.cnt)
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(CAST(SUM(r.rnk) AS HUGEINT) * 1000000 // COUNT(*)
                AS BIGINT) AS mean_rank_e6,
           CAST(MAX(r.rnk) AS BIGINT) AS max_rank
    FROM docwords d JOIN ranked r ON r.word = d.word
    GROUP BY d.doc_id
    """,
)
def q66(spark, sf_dir):
    """CCNet-style corpus-relative quality score, rank-exact: corpus
    words take the dense rank of their frequency (equal-frequency words
    share a rank), and each document scores its mean and max word rank — rare-vocabulary-heavy
    documents rank high, boilerplate-heavy ones low.  Integer ranks +
    an exact scaled-integer mean (rank micro-units via wide-integer
    multiply + floor DIV, the q79 lift_ppm pattern) keep the score
    engine-exact — a raw DECIMAL quotient is rounding-mode-dependent
    across engines, and a -log-frequency LM score would diverge at libm
    precision.  Scale shape: the rank table is a Zipf-bounded dimension
    (one groupBy + one window over distinct words) broadcast back to
    the exploded corpus stream."""
    t = _t(spark, sf_dir, "documents")
    docwords = (
        t["documents"]
        .select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
    )
    freq = docwords.groupBy("word").agg(F.count("*").alias("cnt"))
    # rank DISTINCT counts, not words: the count-value table is tiny
    # (Zipf mass collapses counts to O(sqrt(corpus))), so the only
    # global window runs over a broadcast-sized input and the word
    # dimension gets its rank by broadcast join — no 10^8-row window
    cnts = (
        freq.select("cnt")
        .distinct()
        .select("cnt", F.dense_rank().over(Window.orderBy(F.desc("cnt"))).alias("rnk"))
    )
    ranked = freq.join(F.broadcast(cnts), "cnt").select("word", "rnk")
    return (
        docwords.join(F.broadcast(ranked), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.expr(
                "CAST(CAST(sum(rnk) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("mean_rank_e6"),
            F.max("rnk").cast("long").alias("max_rank"),
        )
    )


@register(
    "q67_source_mixture",
    """
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '),
                                    w -> w <> ''))) AS BIGINT) AS n_words,
           CAST(COUNT(DISTINCT MD5(text)) AS BIGINT) AS n_unique,
           CAST(CAST(COUNT(*) - COUNT(DISTINCT MD5(text)) AS HUGEINT)
                * 1000000 // COUNT(*) AS BIGINT) AS dup_rate_ppm,
           CAST(CAST(SUM(n_chars) AS HUGEINT) * 1000000 // COUNT(*)
                AS BIGINT) AS mean_chars_e6
    FROM documents
    GROUP BY source, lang
    """,
)
def q67(spark, sf_dir):
    """The data-mixing table: per (source, lang) corpus accounting —
    document and word mass, exact-duplicate rate (md5 fingerprints),
    mean document length — the statistics a training-mixture designer
    weights sources by.  Ratios are emitted as exact scaled integers
    (ppm / char micro-units via wide-integer multiply + floor DIV, the
    q79 pattern) so the cross-engine hash never depends on a decimal
    rounding mode.  One partial-agg groupBy over the corpus; the output
    is dimension-sized."""
    t = _t(spark, sf_dir, "documents")
    return (
        t["documents"]
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                F.size(F.filter(F.split(F.lower("text"), " "), lambda w: w != ""))
            )
            .cast("long")
            .alias("n_words"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_unique"),
            F.expr(
                "CAST(CAST(count(*) - count(DISTINCT md5(text)) AS DECIMAL(38,0))"
                " * 1000000 DIV count(*) AS BIGINT)"
            ).alias("dup_rate_ppm"),
            F.expr(
                "CAST(CAST(sum(n_chars) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("mean_chars_e6"),
        )
    )


@register(
    "q68_neardup_triangles",
    f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
      FROM shingles x JOIN shingles y USING (shingle)
      WHERE x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id),
    pairs AS (
      SELECT a, b FROM (
        SELECT a, b, i / (sa.n + sb.n - i) AS j
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE j >= 0.2)
    SELECT e1.a AS a, e1.b AS b, e2.b AS c
    FROM pairs e1
    JOIN pairs e2 ON e2.a = e1.b
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def q68(spark, sf_dir):
    """Triangle enumeration on the near-dup graph (a structural dedup
    signal: triangles are the clique cores LSH clusters condense
    around).  Edges are the exact Jaccard pairs (q24 contract); the
    operator orients every edge from its lower-(degree, id) endpoint —
    the standard O(m^1.5) wedge-bounding trick, so a web-scale hub
    never fans out its full neighborhood — then closes wedges with one
    equi-join.  Orientation changes only WHERE wedges pivot, never the
    triangle set, so the output (a < b < c by doc id) hash-matches the
    simple id-ordered SQL oracle."""
    t = _t(spark, sf_dir, "documents")
    pairs = DD.jaccard_pairs(DD.word_shingles(t["documents"]), threshold=0.2).select(
        "a", "b"
    )
    deg = (
        pairs.select(F.col("a").alias("v"))
        .unionByName(pairs.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    e = (
        pairs.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("v"), F.col("da").alias("d")),
            )
            .otherwise(F.struct(F.col("b").alias("v"), F.col("db").alias("d")))
            .alias("lo"),
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("b").alias("v"), F.col("db").alias("d")),
            )
            .otherwise(F.struct(F.col("a").alias("v"), F.col("da").alias("d")))
            .alias("hi"),
        )
        .select(
            F.col("lo.v").alias("src"),
            F.col("hi.v").alias("dst"),
            F.col("lo.d").alias("sd"),
            F.col("hi.d").alias("dd"),
        )
        .localCheckpoint()
    )
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.src") == F.col("e2.src"))
        & (
            (F.col("e1.dd") < F.col("e2.dd"))
            | ((F.col("e1.dd") == F.col("e2.dd")) & (F.col("e1.dst") < F.col("e2.dst")))
        ),
    )
    tri = wedges.join(
        e3,
        (F.col("e3.src") == F.col("e1.dst")) & (F.col("e3.dst") == F.col("e2.dst")),
    ).select(
        F.col("e1.src").alias("x"), F.col("e1.dst").alias("y"), F.col("e2.dst").alias("z")
    )
    return tri.select(
        F.least("x", "y", "z").alias("a"),
        F.expr(
            "CASE WHEN (x > least(x,y,z) AND x < greatest(x,y,z)) THEN x "
            "WHEN (y > least(x,y,z) AND y < greatest(x,y,z)) THEN y ELSE z END"
        ).alias("b"),
        F.greatest("x", "y", "z").alias("c"),
    )


def _hll_nib(col: str, pos: int) -> str:
    """DuckDB hex-nibble extractor (the _simhash_cte pattern)."""
    return f"(STRPOS('0123456789abcdef', SUBSTR({col}, {pos}, 1)) - 1)"


@register(
    "q69_hll_registers",
    f"""
    WITH h AS (
      SELECT event_type, MD5(CAST(user_id AS VARCHAR)) AS hx FROM events),
    hv AS (
      SELECT event_type,
             {_hll_nib('hx', 1)} * 16 + {_hll_nib('hx', 2)} AS bucket,
             {' + '.join(f"{_hll_nib('hx', i + 3)} * {1 << (4 * (7 - i))}" for i in range(8))}
               AS val
      FROM h),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN val = 0 THEN 33
                      ELSE 32 - LENGTH(BIN(val)) + 1 END) AS rho
      FROM hv GROUP BY event_type, bucket),
    agg AS (
      SELECT event_type,
             COUNT(*) AS m_used,
             SUM(1::BIGINT << (33 - rho)) AS s2_used
      FROM regs GROUP BY event_type)
    SELECT event_type,
           CAST(m_used AS INTEGER) AS m_used,
           CAST(s2_used + (256 - m_used) * (1::BIGINT << 33) AS BIGINT) AS s2
    FROM agg
    """,
)
def q69(spark, sf_dir):
    """Engine-exact HyperLogLog register sketch (approx distinct — THE
    100 TB cardinality operator): users are hashed with md5, the first
    byte picks one of m=256 registers, the next 32 bits give the
    leading-zero rank rho (position of the first 1-bit; 33 for an
    all-zero tail), and each group keeps max(rho) per register — one
    partial-agg groupBy, mergeable across any partitioning, 256 longs
    of state per group no matter the cardinality.  Output is the exact
    fixed-point register mass S2 = sum over all m registers of
    2^(33-rho) (empty registers contribute 2^33), from which the HLL
    estimate is alpha_256 * m^2 * 2^33 / S2 — the registers and S2 are
    integer-exact on both engines (a float harmonic mean would drift by
    summation order); tests/test_queries_extra.py checks the estimate
    lands within HLL's error envelope of the true distinct."""
    t = _t(spark, sf_dir, "events")
    hv = t["events"].select(
        "event_type",
        F.expr("conv(substr(md5(CAST(user_id AS STRING)), 1, 2), 16, 10)")
        .cast("int")
        .alias("bucket"),
        F.expr("conv(substr(md5(CAST(user_id AS STRING)), 3, 8), 16, 10)")
        .cast("long")
        .alias("val"),
    )
    regs = (
        hv.select(
            "event_type",
            "bucket",
            F.when(F.col("val") == 0, F.lit(33))
            .otherwise(F.lit(32) - F.length(F.bin("val")) + 1)
            .alias("rho"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    return (
        regs.groupBy("event_type")
        .agg(
            F.count("*").cast("int").alias("m_used"),
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 33 - rho)")).alias("s2_used"),
        )
        .select(
            "event_type",
            "m_used",
            (
                F.col("s2_used")
                + (F.lit(256) - F.col("m_used")).cast("long") * F.lit(1 << 33)
            )
            .cast("long")
            .alias("s2"),
        )
    )


@register(
    "q70_countmin_heavy_hitters",
    f"""
    WITH docwords AS (
      SELECT tok AS word FROM (
        SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      WHERE tok <> ''),
    freq AS (SELECT word, COUNT(*) AS cnt FROM docwords GROUP BY word),
    keyed AS (
      SELECT word, cnt, lane,
             ({' + '.join(f"{_hll_nib('hx', i + 1)} * {1 << (4 * (7 - i))}" for i in range(8))}) % 1024 AS col
      FROM (
        SELECT word, cnt, lane, MD5('cm' || lane || '|' || word) AS hx
        FROM freq, UNNEST([0, 1, 2, 3]) AS u(lane))),
    sketch AS (
      SELECT lane, col, SUM(cnt) AS counter
      FROM keyed GROUP BY lane, col),
    est AS (
      SELECT k.word, MAX(k.cnt) AS true_cnt, MIN(s.counter) AS est_cnt
      FROM keyed k JOIN sketch s ON s.lane = k.lane AND s.col = k.col
      GROUP BY k.word)
    SELECT word, CAST(est_cnt AS BIGINT) AS est_cnt,
           CAST(true_cnt AS BIGINT) AS true_cnt
    FROM est WHERE est_cnt >= 200
    """,
)
def q70(spark, sf_dir):
    """Count-min sketch heavy hitters (with Bloom q54 and HLL q69 this
    completes the classic 100 TB sketch trio): word counts are folded
    into a 4-lane x 1024-column counter grid (md5 column choice, one
    partial-agg groupBy — the sketch is ~4 KB of mergeable state no
    matter the corpus), and a word's estimate is the MIN over its four
    counters, never below the true count (overestimate-only, asserted
    in tests).  The heavy-hitter pass joins candidates back against the
    broadcast-sized sketch.  All integer arithmetic — engine-exact."""
    t = _t(spark, sf_dir, "documents")
    freq = (
        t["documents"]
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    keyed = freq.select(
        "word",
        "cnt",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("lane"),
    ).select(
        "word",
        "cnt",
        "lane",
        (
            F.expr(
                "CAST(conv(substr(md5(concat('cm', lane, '|', word)), 1, 8), 16, 10) AS BIGINT)"
            )
            % 1024
        ).alias("col"),
    )
    sketch = keyed.groupBy("lane", "col").agg(F.sum("cnt").alias("counter"))
    est = (
        keyed.join(F.broadcast(sketch), ["lane", "col"])
        .groupBy("word")
        .agg(
            F.max("cnt").alias("true_cnt"),
            F.min("counter").alias("est_cnt"),
        )
    )
    return est.where(F.col("est_cnt") >= 200).select(
        "word",
        F.col("est_cnt").cast("long").alias("est_cnt"),
        F.col("true_cnt").cast("long").alias("true_cnt"),
    )


@register(
    "q71_balanced_mixture_sample",
    f"""
    WITH dw AS (
      SELECT doc_id, source,
             LEN(LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> ''))
               AS n_words,
             ({' + '.join(f"{_hll_nib('hx', i + 1)} * {1 << (4 * (3 - i))}" for i in range(4))}) AS h16
      FROM (SELECT doc_id, source, text,
                   MD5('mix|' || CAST(doc_id AS VARCHAR)) AS hx
            FROM documents)),
    mass AS (SELECT source, SUM(n_words) AS w FROM dw GROUP BY source),
    tgt AS (SELECT MIN(w) AS target FROM mass),
    kept AS (
      SELECT d.source, d.n_words
      FROM dw d JOIN mass m ON m.source = d.source
      WHERE d.h16 * m.w < 65536 * (SELECT target FROM tgt))
    SELECT k.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
           CAST(SUM(k.n_words) AS BIGINT) AS words_kept,
           CAST(m.w AS BIGINT) AS words_total
    FROM kept k JOIN mass m ON m.source = k.source
    GROUP BY k.source, m.w
    """,
)
def q71(spark, sf_dir):
    """APPLY the data mixture (q67 measures it): balanced downsampling
    to the smallest source's word mass.  Per-source keep-rate
    target/W_s is applied as a deterministic integer inequality —
    keep doc iff hash16(doc) * W_s < 2^16 * target — so the sample is
    reproducible under any partitioning, exactly proportional in
    expectation (1/65536 rate granularity), and engine-exact (no float
    rate, no RNG).  The 16-bit hash keeps the product inside int64 up
    to W_s < 2^47 words per source (~500 TB of text) — a 32-bit hash
    would silently wrap in Spark while DuckDB errors, diverging exactly
    at scale.  Two broadcast-sized aggregates (per-source masses) and
    one corpus filter pass."""
    t = _t(spark, sf_dir, "documents")
    dw = t["documents"].select(
        "doc_id",
        "source",
        F.size(F.filter(F.split(F.lower("text"), " "), lambda w: w != "")).alias(
            "n_words"
        ),
        F.expr(
            "CAST(conv(substr(md5(concat('mix|', CAST(doc_id AS STRING))), 1, 4), 16, 10) AS BIGINT)"
        ).alias("h16"),
    )
    mass = dw.groupBy("source").agg(F.sum("n_words").alias("w"))
    target = mass.agg(F.min("w").alias("target"))
    kept = (
        dw.join(F.broadcast(mass), "source")
        .join(F.broadcast(target))
        .where(F.col("h16") * F.col("w") < F.lit(65536) * F.col("target"))
    )
    return (
        kept.groupBy("source", "w")
        .agg(
            F.count("*").cast("long").alias("n_docs_kept"),
            F.sum("n_words").cast("long").alias("words_kept"),
        )
        .select(
            "source",
            "n_docs_kept",
            "words_kept",
            F.col("w").cast("long").alias("words_total"),
        )
    )


@register(
    "q72_lsh_first_owner",
    f"""
    WITH {_SHINGLES_CTE},
    proj AS (SELECT doc_id, MD5('seed0|' || shingle) AS d0,
                    MD5('seed1|' || shingle) AS d1
             FROM shingles),
    sigs AS (
      SELECT doc_id,
             MIN(SUBSTRING(d0, 1, 8)) AS h0, MIN(SUBSTRING(d0, 9, 8)) AS h1,
             MIN(SUBSTRING(d0, 17, 8)) AS h2, MIN(SUBSTRING(d0, 25, 8)) AS h3,
             MIN(SUBSTRING(d1, 1, 8)) AS h4, MIN(SUBSTRING(d1, 9, 8)) AS h5,
             MIN(SUBSTRING(d1, 17, 8)) AS h6, MIN(SUBSTRING(d1, 25, 8)) AS h7
      FROM proj GROUP BY doc_id),
    bands AS (
      SELECT doc_id, MD5(h0 || '|' || h1) AS band_hash FROM sigs
      UNION ALL SELECT doc_id, MD5(h2 || '|' || h3) FROM sigs
      UNION ALL SELECT doc_id, MD5(h4 || '|' || h5) FROM sigs
      UNION ALL SELECT doc_id, MD5(h6 || '|' || h7) FROM sigs),
    owners AS (
      SELECT band_hash, MIN(doc_id) AS first_doc FROM bands GROUP BY band_hash)
    SELECT b.doc_id,
           CAST(MIN(o.first_doc) AS BIGINT) AS owner,
           CAST(MAX(CASE WHEN o.first_doc < b.doc_id THEN 1 ELSE 0 END) AS INTEGER)
             AS is_neardup
    FROM bands b JOIN owners o ON o.band_hash = b.band_hash
    GROUP BY b.doc_id
    """,
)
def q72(spark, sf_dir):
    """Batch twin of the streaming near-dup registry
    (streaming/neardup.py): per document, the smallest doc sharing any
    LSH band bucket (the bucket 'owner' under doc_id arrival order) and
    the near-dup verdict (some bucket owned by an earlier doc).  The
    engine side runs the STREAMING kernel's own band_hashes UDF — so
    this query value-checks, against independent SQL, the exact hashes
    the stateful ingest operator keys its state by."""
    from ..streaming.neardup import band_hashes

    @F.pandas_udf("array<string>")
    def _bh(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: band_hashes(t or ""))

    t = _t(spark, sf_dir, "documents")
    bands = t["documents"].select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.explode(_bh(F.col("text"))).alias("band_hash"),
    )
    owners = bands.groupBy("band_hash").agg(F.min("doc_id").alias("first_doc"))
    return (
        bands.join(owners, "band_hash")
        .groupBy("doc_id")
        .agg(
            F.min("first_doc").cast("long").alias("owner"),
            F.max(
                F.when(F.col("first_doc") < F.col("doc_id"), 1).otherwise(0)
            )
            .cast("int")
            .alias("is_neardup"),
        )
    )


@register(
    "q73_blame_unique_supplier",
    """
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q73(spark, sf_dir):
    """TPC-H Q21 topology (suppliers solely to blame in multi-supplier
    finished orders; 'fault' = returned lines since this lineitem
    carries no receipt/commit dates): fact-fact semi-join + anti-join
    on the order key plus a broadcast supplier dimension — the classic
    planner stress shape where the same fact table is scanned three
    ways and must co-partition on l_orderkey rather than shuffle per
    predicate."""
    t = _t(spark, sf_dir, "lineitem", "supplier", "orders")
    li = t["lineitem"]
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.where(F.col("l_returnflag") == "R").alias("l3")
    fo = t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey")
    base = (
        l1.join(fo, F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
    )
    return (
        base.join(F.broadcast(t["supplier"]), F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "q74_ann_recall",
    f"""
    WITH {_IVF_CENTS_CTE},
    corpus AS (SELECT vec_id, embedding, {ANN.quantize_sql('embedding')} AS qv
               FROM embeddings),
    assigned AS (
      SELECT vec_id, embedding AS cvec, centroid_id FROM (
        SELECT c.vec_id, c.embedding, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY c.vec_id
                 ORDER BY CAST({ANN.int_dot_sql('c.qv', 't.cq')} AS DOUBLE) / t.cn DESC,
                          t.centroid_id ASC) AS rk
        FROM corpus c CROSS JOIN cents2 t)
      WHERE rk = 1),
    probes AS (
      SELECT query_id, qvec, centroid_id FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qvec, t.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY CAST({ANN.int_dot_sql('q.qv', 't.cq')} AS DOUBLE) / t.cn DESC,
                          t.centroid_id ASC) AS rk
        FROM corpus q CROSS JOIN cents2 t WHERE q.vec_id < 3)
      WHERE rk <= 4),
    isims AS (
      SELECT p.query_id, a.vec_id,
             ROUND({_DOT_SQL} / ({_NORM_SQL('qvec')} * {_NORM_SQL('cvec')}), 6) AS cos_sim
      FROM assigned a JOIN probes p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id),
    ivf5 AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        FROM isims) WHERE rnk <= 5),
    eq AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id < 3 AND LEN(embedding) > 0),
    ec AS (SELECT vec_id, embedding AS cvec FROM embeddings WHERE LEN(embedding) > 0),
    esims AS (
      SELECT query_id, vec_id,
             ROUND({_DOT_SQL} / ({_NORM_SQL('qvec')} * {_NORM_SQL('cvec')}), 6) AS cos_sim
      FROM ec CROSS JOIN eq WHERE vec_id <> query_id),
    exact5 AS (
      SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id ASC) AS rnk
        FROM esims) WHERE rnk <= 5)
    SELECT e.query_id,
           CAST(COUNT(*) AS INTEGER) AS n_exact,
           CAST(COUNT(i.vec_id) AS INTEGER) AS n_hit,
           CAST(CAST(COUNT(i.vec_id) AS HUGEINT) * 1000000 // COUNT(*)
                AS BIGINT) AS recall_ppm
    FROM exact5 e
    LEFT JOIN ivf5 i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q74(spark, sf_dir):
    """ANN quality measurement — recall@5 of the IVF path against the
    exact cosine baseline, per query (what an ANN user tunes nprobe /
    n_centroids by).  Both arms reuse the exact operators behind q26 and
    q41 (already hash-verified individually), so the intersection is
    engine-deterministic: identical rounded similarities, identical
    vec_id tie-breaks, recall as exact integer ppm (wide-integer
    multiply + floor DIV, the q79 pattern — a raw DECIMAL quotient is
    rounding-mode-dependent across engines)."""
    t = _t(spark, sf_dir, "embeddings")
    emb = t["embeddings"]
    queries = emb.where(F.col("vec_id") < 3)
    exact = ANN.cosine_topk(emb, queries, k=5).select("query_id", "vec_id")
    ivf = ANN.ivf_topk(emb, queries, k=5, n_centroids=16, nprobe=4).select(
        F.col("query_id").alias("iq"), F.col("vec_id").alias("iv")
    )
    return (
        exact.join(
            ivf,
            (F.col("iq") == F.col("query_id")) & (F.col("iv") == F.col("vec_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").cast("int").alias("n_exact"),
            F.count("iv").cast("int").alias("n_hit"),
            F.expr(
                "CAST(CAST(count(iv) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


@register(
    "q75_crossdoc_passages",
    """
    WITH dw AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS w
      FROM documents),
    grams AS (
      SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 6),
                     i -> MD5(ARRAY_TO_STRING(w[i:i+7], ' ')))) AS g
      FROM dw WHERE LEN(w) >= 8),
    shared AS (
      SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
    per_doc AS (
      SELECT gr.doc_id,
             COUNT(*) AS n_grams,
             COUNT(s.g) AS n_shared
      FROM grams gr LEFT JOIN shared s ON s.g = gr.g
      GROUP BY gr.doc_id)
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(CAST(n_shared AS HUGEINT) * 1000000 // n_grams
                AS BIGINT) AS shared_frac_ppm
    FROM per_doc
    """,
)
def q75(spark, sf_dir):
    """Cross-document repeated-passage detection (the bounded-n-gram
    form of Lee et al. 2022 exact-substring dedup): every 8-token
    passage position is flagged when its gram also occurs in at least
    one OTHER document, giving a per-document shared-passage fraction —
    the signal that catches licence blocks, syndicated articles, and
    template pages that whole-document dedup misses.  Shape: one
    explode to md5 gram keys, one distinct-doc-count aggregate over the
    gram dimension, one join back — all equi-keyed on the gram hash,
    never pairwise."""
    t = _t(spark, sf_dir, "documents")
    grams = (
        t["documents"]
        .select(
            "doc_id",
            F.filter(F.split(F.lower("text"), " "), lambda w: w != "").alias("w"),
        )
        .where(F.size("w") >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 7),
                    lambda i: F.md5(F.array_join(F.slice("w", i, 8), " ")),
                )
            ).alias("g"),
        )
        # both the shared-gram aggregate and the join-back consume this
        # stream: persisting fills the gram explode once instead of
        # re-scanning the corpus under each plan branch (the
        # jaccard_pairs shingle pattern)
        .persist()
    )
    shared = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("g")
    )
    return (
        grams.join(shared.withColumnRenamed("g", "sg"), grams.g == F.col("sg"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.count("sg").cast("long").alias("n_shared"),
            F.expr(
                "CAST(CAST(count(sg) AS DECIMAL(38,0)) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("shared_frac_ppm"),
        )
    )


@register(
    "q76_curation_verdicts",
    f"""
    WITH base AS (
      SELECT doc_id, text, ' ' || LOWER(text) || ' ' AS p,
             LIST_FILTER(STRING_SPLIT(LOWER(text), ' '), w -> w <> '') AS w,
             MIN(doc_id) OVER (PARTITION BY MD5(text)) AS fp_owner
      FROM documents),
    sig AS (
      SELECT doc_id, fp_owner,
             {_LANG_CASE.replace('s_en', 'x_en').replace('s_es', 'x_es')
                        .replace('s_fr', 'x_fr').replace('s_de', 'x_de')}
               AS detected_lang,
             LEN(w) AS n_words,
             1.0 - LIST_UNIQUE(w) / GREATEST(LEN(w), 1) AS dup_word_frac,
             LENGTH(REGEXP_REPLACE(text, '[^.!?,;:]', '', 'g'))
               / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM (SELECT b.*,
                   {', '.join(f"({' + '.join(_sql_count_padded(w) for w in ws)}) AS x_{lang}"
                              for lang, ws in Q.LANG_MARKERS.items())}
            FROM base b))
    SELECT doc_id, detected_lang,
           CAST(n_words AS INTEGER) AS n_words,
           CONCAT_WS(',',
             CASE WHEN fp_owner <> doc_id THEN 'exact_dup' END,
             CASE WHEN detected_lang = 'und' THEN 'lang' END,
             CASE WHEN punct_ratio > 0.08 THEN 'punct' END,
             CASE WHEN dup_word_frac > 0.6 THEN 'repetitive' END,
             CASE WHEN n_words < 5 THEN 'too_short' END) AS reasons,
           CAST(CASE WHEN fp_owner = doc_id AND detected_lang <> 'und'
                      AND punct_ratio <= 0.08 AND dup_word_frac <= 0.6
                      AND n_words >= 5
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
    FROM sig
    """,
)
def q76(spark, sf_dir):
    """Single-pass curation verdicts — the capstone composition: ONE
    scan computes language (marker heuristic), length, punctuation
    ratio, duplicate-word fraction, and exact-dup ownership (min doc_id
    per md5 fingerprint — the only shuffle), and folds them into a
    keep/drop verdict with machine-readable reasons.  At 100 TB this is
    the shape that matters: five signals share one pass instead of five
    scans, and the verdict thresholds are explicit plan literals.
    Reason order is fixed (exact_dup, lang, punct, repetitive,
    too_short) so the CSV is engine-stable."""
    t = _t(spark, sf_dir, "documents")
    w_fp = Window.partitionBy(F.md5("text"))
    base = t["documents"].select(
        "doc_id",
        "text",
        Q.padded_text(F.col("text")).alias("_p"),
        F.filter(F.split(F.lower("text"), " "), lambda w: w != "").alias("w"),
        F.min("doc_id").over(w_fp).alias("fp_owner"),
    )
    sig = base.select(
        "doc_id",
        "fp_owner",
        Q.detect_lang(padded=F.col("_p")).alias("detected_lang"),
        F.size("w").alias("n_words"),
        (
            F.lit(1.0)
            - F.size(F.array_distinct("w"))
            / F.greatest(F.size("w"), F.lit(1))
        ).alias("dup_word_frac"),
        (
            F.length(F.regexp_replace("text", r"[^.!?,;:]", ""))
            / F.greatest(F.length("text"), F.lit(1))
        ).alias("punct_ratio"),
    )
    return sig.select(
        "doc_id",
        "detected_lang",
        F.col("n_words").cast("int").alias("n_words"),
        F.concat_ws(
            ",",
            F.when(F.col("fp_owner") != F.col("doc_id"), "exact_dup"),
            F.when(F.col("detected_lang") == "und", "lang"),
            F.when(F.col("punct_ratio") > 0.08, "punct"),
            F.when(F.col("dup_word_frac") > 0.6, "repetitive"),
            F.when(F.col("n_words") < 5, "too_short"),
        ).alias("reasons"),
        F.when(
            (F.col("fp_owner") == F.col("doc_id"))
            & (F.col("detected_lang") != "und")
            & (F.col("punct_ratio") <= 0.08)
            & (F.col("dup_word_frac") <= 0.6)
            & (F.col("n_words") >= 5),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


@register(
    "q77_below_avg_quantity",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(38,4))) AS DOUBLE)
             AS total_price
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 5
      AND (SELECT CAST(l.l_quantity AS DECIMAL(38,4)) * 5 * COUNT(*)
                  < SUM(CAST(l2.l_quantity AS DECIMAL(38,4)))
           FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q77(spark, sf_dir):
    """TPC-H Q17 shape: the correlated scalar-aggregate subquery
    (lines below 20% of their part's average quantity, restricted to
    small parts).  The Spark side expresses the DECORRELATED plan
    explicitly — per-part averages as one aggregate joined back —
    which is what a good optimizer rewrites the subquery into: the
    fact table is scanned twice but joined on the part key, never
    re-executed per row.  Price sum decimal-stabilized for the
    cross-engine hash."""
    t = _t(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"]
    # division-free predicate: qty < 0.2 * sum/count is evaluated as
    # 5*qty*count < sum in exact DECIMAL arithmetic — float AVG partial
    # -sum order and decimal-division rounding rules both differ across
    # engines, and a last-ulp threshold difference flips boundary rows
    avgq = li.groupBy("l_partkey").agg(
        F.sum(dec("l_quantity")).alias("qty_sum"),
        F.count("*").alias("qty_n"),
    )
    small = t["part"].where(F.col("p_size") <= 5).select("p_partkey")
    return (
        li.join(F.broadcast(small), li.l_partkey == F.col("p_partkey"))
        .join(avgq, "l_partkey")
        .where(dec("l_quantity") * 5 * F.col("qty_n") < F.col("qty_sum"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(dec("l_extendedprice")).cast("double").alias("total_price"),
        )
    )


@register(
    "q78_bpe_pair_stats",
    """
    WITH wf AS (
      SELECT tok AS word, COUNT(*) AS freq FROM (
        SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok),
    syms AS (
      SELECT word, freq,
             LIST_APPEND(
               LIST_TRANSFORM(RANGE(1, LEN(word)), i -> word[i:i]),
               word[LEN(word):LEN(word)] || '</w>') AS s
      FROM wf),
    pairs AS (
      SELECT u.a, u.b, SUM(freq) AS cnt FROM (
        SELECT freq, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(s)),
                     i -> STRUCT_PACK(a := s[i], b := s[i + 1]))) AS u
        FROM syms WHERE LEN(s) >= 2)
      GROUP BY u.a, u.b)
    SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM pairs
    ORDER BY cnt DESC, a, b LIMIT 20
    """,
)
def q78(spark, sf_dir):
    """BPE training pair statistics (the inner loop of corpus-scale
    tokenizer learning, operators/bpe.py): adjacent symbol pairs over
    the character-initialized vocabulary, weighted by word frequency —
    the top of this ranking IS the next merge.  One explode + groupBy
    over the distinct-word Zipf dimension; deterministic (cnt desc,
    pair lex) ordering."""
    from ..operators import bpe as B

    t = _t(spark, sf_dir, "documents")
    syms = B.to_symbols(B.word_freqs(t["documents"]))
    return (
        B.pair_counts(syms)
        .select("a", "b", F.col("cnt").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# 14. round-2 additions: KG analytics (association lift, bounded BFS,
#     snapshot diff) + ontology closure over the real MeSH hierarchy
# ---------------------------------------------------------------------------

@register(
    "q79_cooc_lift",
    f"""
    WITH {_PAIRS_CTE},
    pc AS (SELECT chem_mesh, dis_mesh, COUNT(*) AS n_cd FROM cooc GROUP BY 1, 2),
    ec AS (SELECT mesh_id, COUNT(*) AS n FROM inv WHERE type = 'Chemical' GROUP BY 1),
    ed AS (SELECT mesh_id, COUNT(*) AS n FROM inv WHERE type = 'Disease' GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT pc.chem_mesh, pc.dis_mesh,
           CAST(pc.n_cd AS BIGINT) AS n_cd,
           CAST(ec.n AS BIGINT) AS n_chem,
           CAST(ed.n AS BIGINT) AS n_dis,
           CAST(CAST(pc.n_cd AS HUGEINT) * nd.n_docs * 1000000
                // (CAST(ec.n AS HUGEINT) * ed.n) AS BIGINT)
             AS lift_ppm
    FROM pc
    JOIN ec ON ec.mesh_id = pc.chem_mesh
    JOIN ed ON ed.mesh_id = pc.dis_mesh
    CROSS JOIN nd
    """,
)
def q79(spark, sf_dir):
    """Association lift for co-occurring (chemical, disease) pairs — the
    PMI-family relevance signal a KG ranks candidate triples by before
    scoring (lift = P(c,d) / (P(c)P(d))).  Integer-exact: lift is
    emitted as parts-per-million via exact wide-integer arithmetic —
    decimal(38,0) on the Spark side, HUGEINT in the oracle — so neither
    float drift NOR int64 product overflow can break the cross-engine
    hash (n_cd * n_docs * 1e6 passes int64 already at ~3e6 docs; the
    quotient itself stays <= n_docs * 1e6, i.e. int64-safe past 10^12
    docs).  Shape at 100 TB: the pair aggregate is the only corpus-scale
    shuffle; both marginal tables are entity-dimension sized and
    broadcast."""
    cooc = _doc_cooc(spark, sf_dir)
    m = _doc_mentions(spark, sf_dir)
    inv = m.select("url", "mesh_id", "type").distinct()
    ec = (
        inv.where(F.col("type") == "Chemical")
        .groupBy("mesh_id")
        .agg(F.count("*").alias("n_chem"))
    )
    ed = (
        inv.where(F.col("type") == "Disease")
        .groupBy("mesh_id")
        .agg(F.count("*").alias("n_dis"))
    )
    t = _t(spark, sf_dir, "documents")
    nd = t["documents"].agg(F.count("*").alias("n_docs"))
    pc = cooc.groupBy("chem_mesh", "dis_mesh").agg(F.count("*").alias("n_cd"))
    return (
        pc.join(F.broadcast(ec), pc.chem_mesh == ec.mesh_id)
        .drop("mesh_id")
        .join(F.broadcast(ed), pc.dis_mesh == ed.mesh_id)
        .drop("mesh_id")
        .crossJoin(F.broadcast(nd))
        .select(
            "chem_mesh",
            "dis_mesh",
            F.col("n_cd").cast("long").alias("n_cd"),
            F.col("n_chem").cast("long").alias("n_chem"),
            F.col("n_dis").cast("long").alias("n_dis"),
            F.expr(
                "CAST(CAST(n_cd AS DECIMAL(38,0)) * n_docs * 1000000"
                " DIV (CAST(n_chem AS DECIMAL(38,0)) * n_dis) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@register(
    "q80_neardup_bfs",
    f"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding, {_NORM_SQL('embedding')} AS nrm,
                      {ANN.quantize_sql('embedding')} AS qv
               FROM embeddings WHERE LEN(embedding) > 0),
    eb AS (SELECT vec_id, embedding, nrm,
                  {ANN.srp_bucket_sql('qv', n_planes=4)} AS bkt FROM e),
    p AS (
      SELECT x.vec_id AS a, y.vec_id AS b,
             x.embedding AS va, y.embedding AS vb, x.nrm AS na, y.nrm AS nb
      FROM eb x JOIN eb y ON x.bkt = y.bkt AND x.vec_id < y.vec_id),
    ed0 AS (
      SELECT a, b FROM (
        SELECT a, b, ROUND({_PAIR_DOT_SQL} / (na * nb), 6) AS cos_sim FROM p)
      WHERE cos_sim >= 0.35),
    und AS (SELECT a, b FROM ed0 UNION SELECT b, a FROM ed0),
    seed AS (SELECT MIN(a) AS node FROM und),
    walk(node, hop) AS (
      SELECT node, 0 FROM seed WHERE node IS NOT NULL
      UNION
      SELECT u.b, w.hop + 1 FROM walk w JOIN und u ON u.a = w.node
      WHERE w.hop < 4)
    SELECT CAST(node AS BIGINT) AS vec_id, CAST(MIN(hop) AS INT) AS hops
    FROM walk GROUP BY node
    """,
)
def q80(spark, sf_dir):
    """Bounded BFS (<= 4 hops) over the SRP-LSH near-duplicate graph
    from its smallest member — min-hop distance per reachable node, the
    iterative-join graph traversal pattern (frontier expansion with a
    per-level distinct, min-aggregated at the end; the oracle is a
    recursive CTE).  Each level is one equi-join against the persisted
    edge list; at 100 TB the frontier is a tiny fraction of the corpus
    and the edge list is the LSH-banded near-dup output, never an
    all-pairs product."""
    from pyspark import StorageLevel

    t = _t(spark, sf_dir, "embeddings")
    ed0 = ANN.cosine_neardup_pairs(
        t["embeddings"], threshold=0.35, n_planes=4
    ).select("a", "b")
    und = (
        ed0.union(ed0.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seed = und.agg(F.min("a").alias("node")).where(F.col("node").isNotNull())
    frontier = seed.select("node")
    levels = [frontier.withColumn("hop", F.lit(0))]
    for h in range(1, 5):
        # the frontier is a vanishing fraction of the corpus: broadcast
        # it so the persisted edge list is never shuffled per level
        frontier = (
            und.join(F.broadcast(frontier), und.a == F.col("node"))
            .select(F.col("b").alias("node"))
            .distinct()
        )
        levels.append(frontier.withColumn("hop", F.lit(h)))
    allv = levels[0]
    for lv in levels[1:]:
        allv = allv.unionByName(lv)
    return allv.groupBy("node").agg(F.min("hop").cast("int").alias("hops")).select(
        F.col("node").cast("long").alias("vec_id"), "hops"
    )


@register(
    "q81_triple_diff",
    f"""
    WITH {_PAIRS_CTE},
    tag AS (SELECT doc_id, SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS h
            FROM documents),
    c2 AS (SELECT c.doc_id, c.chem_mesh, c.dis_mesh, t.h
           FROM cooc c JOIN tag t ON t.doc_id = c.doc_id),
    agg AS (
      SELECT chem_mesh, dis_mesh,
             COUNT(CASE WHEN h < '8' THEN 1 END) AS s_old,
             COUNT(CASE WHEN h >= '4' THEN 1 END) AS s_new
      FROM c2 GROUP BY 1, 2)
    SELECT chem_mesh AS subj, dis_mesh AS obj,
           CAST(s_old AS BIGINT) AS support_old,
           CAST(s_new AS BIGINT) AS support_new,
           CASE WHEN s_old >= 2 AND s_new >= 2 THEN 'kept'
                WHEN s_new >= 2 THEN 'added' ELSE 'removed' END AS status
    FROM agg WHERE s_old >= 2 OR s_new >= 2
    """,
)
def q81(spark, sf_dir):
    """Incremental KG snapshot diff: two overlapping crawl snapshots
    (md5-threshold document slices, like q34's deterministic split)
    produce triple tables with the q30 support>=2 rule; the diff emits
    added / removed / kept per triple.  Computed in ONE pass over the
    co-occurrence stream with conditional aggregation — the incremental
    -maintenance shape: at 100 TB you never materialize two full triple
    tables to diff them, you tag rows by snapshot membership and fold
    both supports in the same shuffle."""
    cooc = _doc_cooc(spark, sf_dir)
    h = F.substring(F.md5(F.col("url").cast("string")), 1, 1)
    agg = (
        cooc.withColumn("h", h)
        .groupBy("chem_mesh", "dis_mesh")
        .agg(
            F.count(F.when(F.col("h") < "8", 1)).alias("s_old"),
            F.count(F.when(F.col("h") >= "4", 1)).alias("s_new"),
        )
    )
    return agg.where((F.col("s_old") >= 2) | (F.col("s_new") >= 2)).select(
        F.col("chem_mesh").alias("subj"),
        F.col("dis_mesh").alias("obj"),
        F.col("s_old").cast("long").alias("support_old"),
        F.col("s_new").cast("long").alias("support_new"),
        F.when((F.col("s_old") >= 2) & (F.col("s_new") >= 2), "kept")
        .when(F.col("s_new") >= 2, "added")
        .otherwise("removed")
        .alias("status"),
    )


# the real 57,840-row MeSH hierarchy (reference data_loaders/2017MeshTree.txt,
# loaded by cdr_dataset.py:22-34) — public data shipped with the reference,
# already exercised by tests/test_mesh_real.py
_MESH_TSV = "/root/reference/data_loaders/2017MeshTree.txt"


@register(
    "q82_mesh_closure",
    f"""
    WITH mt AS (
      SELECT "Tree Number" AS tn, "Desc Ui" AS mesh_id
      FROM read_csv('{_MESH_TSV}', delim='\t', header=true,
                    all_varchar=true)),
    base AS (
      SELECT mesh_id, COUNT(*) AS n_trees,
             MAX(LEN(STRING_SPLIT(tn, '.'))) AS max_depth
      FROM mt GROUP BY mesh_id),
    pref AS (
      SELECT mesh_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(STRING_SPLIT(tn, '.'))),
                    i -> ARRAY_TO_STRING(STRING_SPLIT(tn, '.')[1:i], '.')))
               AS anc_tn
      FROM mt),
    anc AS (
      SELECT p.mesh_id, COUNT(*) AS n_anc_edges,
             COUNT(DISTINCT a.mesh_id) AS n_anc_ids
      FROM pref p JOIN mt a ON a.tn = p.anc_tn
      GROUP BY p.mesh_id)
    SELECT b.mesh_id,
           CAST(b.n_trees AS BIGINT) AS n_trees,
           CAST(b.max_depth AS INT) AS max_depth,
           CAST(COALESCE(a.n_anc_edges, 0) AS BIGINT) AS n_anc_edges,
           CAST(COALESCE(a.n_anc_ids, 0) AS BIGINT) AS n_anc_ids
    FROM base b LEFT JOIN anc a ON a.mesh_id = b.mesh_id
    """,
)
def q82(spark, sf_dir):
    """Ontology transitive closure over the REAL 57,840-row MeSH tree
    (S3/A2 dimension): every tree number explodes to its dot-prefix
    ancestor chain, resolved back to ancestor descriptor ids by an
    equi-join on tree number — the canonical hierarchy-flattening pass
    that turns Levi's per-pair prefix CONTAINS into a precomputed
    closure table.  Per descriptor: tree count, max depth, ancestor
    edges, distinct ancestor ids.  The tree is dimension-sized (few MB
    broadcast); the closure explode is O(rows x depth<=11) — at 100 TB
    this table is built once and broadcast to every hypernym join."""
    from ..sources.mesh import read_mesh_tree

    mesh = read_mesh_tree(spark, _MESH_TSV).select(
        F.col("tree_number").alias("tn"), "mesh_id"
    )
    parts = F.split(F.col("tn"), "\\.")
    base = mesh.groupBy("mesh_id").agg(
        F.count("*").alias("n_trees"),
        F.max(F.size(parts)).alias("max_depth"),
    )
    pref = (
        mesh.where(F.size(parts) > 1)
        .select(
            "mesh_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(parts) - 1),
                    lambda i: F.array_join(F.slice(parts, F.lit(1), i), "."),
                )
            ).alias("anc_tn"),
        )
    )
    anc_dim = mesh.select(F.col("tn").alias("anc_tn"), F.col("mesh_id").alias("anc_id"))
    anc = (
        pref.join(F.broadcast(anc_dim), "anc_tn")
        .groupBy("mesh_id")
        .agg(
            F.count("*").alias("n_anc_edges"),
            F.countDistinct("anc_id").alias("n_anc_ids"),
        )
    )
    return base.join(F.broadcast(anc), "mesh_id", "left").select(
        "mesh_id",
        F.col("n_trees").cast("long").alias("n_trees"),
        F.col("max_depth").cast("int").alias("max_depth"),
        F.coalesce(F.col("n_anc_edges"), F.lit(0)).cast("long").alias("n_anc_edges"),
        F.coalesce(F.col("n_anc_ids"), F.lit(0)).cast("long").alias("n_anc_ids"),
    )


@register(
    "q83_entity_canonical",
    f"""
    WITH {_MENTIONS_CTE},
    surf AS (
      SELECT mesh_id, type, mention_text,
             COUNT(*) AS n, COUNT(DISTINCT doc_id) AS nd
      FROM mentions GROUP BY 1, 2, 3),
    ent AS (
      SELECT mesh_id, COUNT(*) AS n_mentions,
             COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(DISTINCT mention_text) AS n_surfaces
      FROM mentions GROUP BY 1),
    canon AS (
      SELECT mesh_id, type, mention_text AS canonical_text FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY mesh_id
                    ORDER BY n DESC, mention_text ASC) AS rn
        FROM surf) WHERE rn = 1)
    SELECT c.mesh_id, c.type, c.canonical_text,
           CAST(e.n_mentions AS BIGINT) AS n_mentions,
           CAST(e.n_docs AS BIGINT) AS n_docs,
           CAST(e.n_surfaces AS BIGINT) AS n_surfaces
    FROM canon c JOIN ent e ON e.mesh_id = c.mesh_id
    """,
)
def q83(spark, sf_dir):
    """Corpus-level entity canonicalization (the north-rule
    'canonicalize to MeSH IDs' step made explicit): per entity, the
    most frequent surface form wins (ties break lexicographically — a
    total order, unlike the reference's per-document last-mention-wins
    overwrite at cdr_dataset.py:72-75) plus mention/document/surface
    counts.  One aggregation over the mention stream + a per-entity
    window on the entity-dimension-sized surface table."""
    m = _doc_mentions(spark, sf_dir)
    surf = m.groupBy("mesh_id", "type", "mention_text").agg(
        F.count("*").alias("n")
    )
    ent = m.groupBy("mesh_id").agg(
        F.count("*").alias("n_mentions"),
        F.countDistinct("url").alias("n_docs"),
        F.countDistinct("mention_text").alias("n_surfaces"),
    )
    w = Window.partitionBy("mesh_id").orderBy(
        F.desc("n"), F.asc("mention_text")
    )
    canon = (
        surf.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("mesh_id", "type", F.col("mention_text").alias("canonical_text"))
    )
    return canon.join(F.broadcast(ent), "mesh_id").select(
        "mesh_id",
        "type",
        "canonical_text",
        F.col("n_mentions").cast("long").alias("n_mentions"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_surfaces").cast("long").alias("n_surfaces"),
    )


@register(
    "q84_triple_provenance",
    f"""
    WITH {_PAIRS_CTE}
    SELECT chem_mesh AS subj, dis_mesh AS obj,
           CAST(COUNT(*) AS BIGINT) AS support,
           STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
             AS evidence_docs
    FROM cooc GROUP BY chem_mesh, dis_mesh HAVING COUNT(*) >= 2
    """,
)
def q84(spark, sf_dir):
    """Triple provenance: every emitted triple carries its sorted
    supporting-document list — the per-triple lineage a KG needs for
    audit/retraction (north rule: 'per-partition lineage rows').  Doc
    ids sort NUMERICALLY before string-joining (a lexicographic sort of
    stringified ids would order 10 before 2 and hash-split the
    engines).  Same single shuffle as the q30 triple materialization;
    the evidence list is bounded by per-pair support, not corpus
    size."""
    cooc = _doc_cooc(spark, sf_dir)
    return (
        cooc.groupBy("chem_mesh", "dis_mesh")
        .agg(
            F.count("*").alias("support"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("url")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("evidence_docs"),
        )
        .where(F.col("support") >= 2)
        .select(
            F.col("chem_mesh").alias("subj"),
            F.col("dis_mesh").alias("obj"),
            F.col("support").cast("long").alias("support"),
            "evidence_docs",
        )
    )


@register(
    "q85_distinctive_terms",
    """
    WITH toks AS (
      SELECT doc_id, source, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
      FROM documents),
    tf AS (SELECT source, w, COUNT(*) AS tf FROM toks WHERE w <> '' GROUP BY 1, 2),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks WHERE w <> '' GROUP BY 1),
    scored AS (
      SELECT tf.source, tf.w AS word,
             CAST(tf.tf AS BIGINT) AS tf, CAST(df.df AS BIGINT) AS df,
             (tf.tf * 1000000) // df.df AS score_ppm
      FROM tf JOIN df ON df.w = tf.w)
    SELECT source, word, tf, df, CAST(score_ppm AS BIGINT) AS score_ppm FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                  ORDER BY score_ppm DESC, word ASC) AS rn
      FROM scored) WHERE rn <= 5
    """,
)
def q85(spark, sf_dir):
    """Distinctive terms per source (keyword extraction / TF-IDF
    family): per-source term frequency over inverse document frequency
    as integer parts-per-million — no float log, so the ranking is
    engine-exact — top-5 per source with a total-order tiebreak.  Two
    map-side-combined aggregates over one tokenization pass; the
    document-frequency table joins back on the term key.  Deliberately
    NOT broadcast: at open-vocabulary web scale the distinct-term
    dimension is Heaps'-law sized (10^8-10^9 terms at 10^13 tokens),
    far past broadcast range — but both join sides are POST-aggregation
    vocab-sized tables, so the term-key shuffle join touches no
    corpus-scale data."""
    t = _t(spark, sf_dir, "documents")
    toks = t["documents"].select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower("text"), " ")).alias("w"),
    ).where(F.col("w") != "")
    tf = toks.groupBy("source", "w").agg(F.count("*").alias("tf"))
    df = toks.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df, "w").select(
        "source",
        F.col("w").alias("word"),
        F.col("tf").cast("long").alias("tf"),
        F.col("df").cast("long").alias("df"),
        F.expr("CAST((tf * 1000000) DIV df AS BIGINT)").alias("score_ppm"),
    )
    w_rank = Window.partitionBy("source").orderBy(F.desc("score_ppm"), F.asc("word"))
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )


def _epoch_rows(spark, res):
    """TrainResult -> one bit-deterministic row per epoch: (epoch,
    loss_q, n_valid, params_checksum) — loss_q the EXACT int64
    fixed-point loss sum (units 1/Q_LOSS), checksum the int64 sum of
    the final quantized weights.  With zero valid rows the loss is NaN
    (every step was skipped); loss_q is reported as 0 so the gate query
    degrades to informative rows instead of crashing (the sibling
    kernel queries q87/q89 likewise degrade to empty output)."""
    import numpy as np

    from ..scoring.train import Q_LOSS

    checksum = int(
        sum(
            int(np.rint(p.astype(np.float64) * (1 << 14)).astype(np.int64).sum())
            for _, p in res.params.tensors()
        )
    )
    rows = [
        (
            e,
            0 if res.n_valid == 0 else int(round(loss * res.n_valid * Q_LOSS)),
            res.n_valid,
            checksum,
        )
        for e, loss in enumerate(res.losses)
    ]
    return spark.createDataFrame(
        rows, "epoch int, loss_q long, n_valid long, params_checksum long"
    )


@register("q86_head_training")  # rows-only: encoder+optimizer kernels not SQL-expressible
def q86(spark, sf_dir):
    """Distributed pair-head training end-to-end (SURVEY §2.9 M4/M5,
    scoring/train.py): seeded synthetic CDR corpus -> per-document
    features from the fused stage's own kernel (pipeline.
    training_features: mentions -> pairs -> evidence -> featurize, no
    Levi filter) -> frozen-encoder pooling (mapInPandas) -> 3
    full-batch epochs of the reference AdamW update rule with
    integer-exact gradient aggregation.  One row per epoch:
    (epoch, loss_q, n_valid, params_checksum) — loss_q is the EXACT
    int64 fixed-point loss sum (units 1/Q_LOSS) and params_checksum the
    int64 sum of the final quantized weights, so the output is
    bit-deterministic at any parallelism (the pytest-proven invariant);
    value parity vs the single-process literal twin is enforced by
    tests/test_train.py.  Spark==oracle value-hash is impossible here
    (DuckDB cannot run the encoder), hence rows-only."""
    from .. import datagen
    from ..scoring.electra import ElectraConfig
    from ..scoring.train import pool_features, train_pair_head
    from .pipeline import training_features

    pages, _gm, gold = datagen.gen_fixture_dfs(spark, 80 if "0.1" in sf_dir else 40)
    feats = training_features(pages, datagen.mesh_df(spark), gold)
    cfg = ElectraConfig(
        vocab_size=30524, embedding_size=32, hidden_size=32,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
    )
    pooled = pool_features(feats, config=cfg, seed=9)
    res = train_pair_head(
        pooled, epochs=3, optimizer="adamw", ignore_index=None, seed=2
    )
    return _epoch_rows(spark, res)


# ---------------------------------------------------------------------------
# 12. exact-architecture kernels as load-bearing queries (round 3):
#     is_full_sample document-level forward, NER token head, ALPS tanh
#     head, and the real PNG decode path
# ---------------------------------------------------------------------------

# Small exact-architecture config for distributed scoring queries: the
# REAL module code path (scoring/electra.py — the same functions a
# converted .npz checkpoint would run through), at a width where the
# numpy encoder over a 5k-doc corpus stays sub-second per core.
def _kernel_cfg():
    from ..scoring.electra import ElectraConfig

    return ElectraConfig(
        vocab_size=30524, embedding_size=48, hidden_size=48,
        num_hidden_layers=2, num_attention_heads=4, intermediate_size=96,
        max_position_embeddings=512,
    )


def _doc_fulltext(spark, sf_dir):
    """Document-level (is_full_sample) features over the corpus: the
    fused stage's own featurizer (scoring.scorer.document_fulltext, the
    gazetteer inventory per document) with gold from the cooc window.
    Persisted — q87/q89/q91 share the subtree."""
    from pyspark import StorageLevel

    from ..scoring.scorer import document_fulltext
    from .pipeline import with_gold_pairs

    docs = _t(spark, sf_dir, "documents")["documents"].select(
        F.col("doc_id").cast("string").alias("url"),
        F.lower(F.col("text")).alias("text"),
    )
    return document_fulltext(
        with_gold_pairs(docs, _doc_cooc(spark, sf_dir)),
        _DOC_GAZ,
        _DOC_MAX_WORDS,
    ).persist(StorageLevel.MEMORY_AND_DISK)


@register("q87_fullsample_logits")  # rows-only: numpy encoder not SQL-expressible
def q87(spark, sf_dir):
    """The is_full_sample document-level forward made LOAD-BEARING
    (reference electra_model.py:711-734 via scoring/scorer.
    score_fulltext): ONE encoder pass per document scores ALL its
    (chem, dis) pairs — the engine's preferred batching shape — and the
    OUTPUT IS THE LOGITS THEMSELVES, quantized to exact micro-units.
    Its FULLTEXT rows (``_doc_fulltext``) come from the fused stage's
    own featurizer, scorer.document_fulltext: pairs in the inventory's
    first-mention order, chem-major.
    Parity of the same kernel (scorer.fullsample_pooled + electra.
    pair_head) vs the literal port is pinned in tests/test_electra.py;
    the Spark twin (distributed == local single-doc kernel) by
    tests/test_electra.py::test_score_fulltext_spark_matches_local_twin.
    Rows-only: DuckDB cannot run the encoder.

    Batching: EQUAL-LENGTH-GROUPED (scoring/electra.encoded) —
    same-length documents share encoder batches while pooling and the
    head run per document at the document's own shapes, so the emitted
    micro-unit logits are BIT-IDENTICAL to the one-document-at-a-time
    values under ANY partitioning / Arrow-chunk layout (pinned by
    tests/test_electra.py::test_score_fulltext_batched_bit_identical).
    Length PADDING would not be safe: it perturbs real-position hidden
    states at ~5e-7, which the head amplifies past the 1e-6 output
    quantum (measured: 96% of margins move under pad-to-bucket)."""
    from ..scoring.scorer import score_fulltext

    scored = score_fulltext(
        _doc_fulltext(spark, sf_dir), config=_kernel_cfg(), seed=3
    )
    return scored.select(
        "url", "chem_mesh", "dis_mesh", "label",
        F.expr("CAST(FLOOR(margin * 1000000 + 0.5) AS BIGINT)").alias("margin_e6"),
    )


@register("q88_ner_type_counts")  # rows-only: numpy encoder not SQL-expressible
def q88(spark, sf_dir):
    """NER token-classification head end-to-end (reference
    electra_model.py:767-829 + the cdr_trainer.py:333-370 macro report):
    q48's exact feature rows -> encoder -> gather at entity-start tokens
    -> dense/gelu/out_proj -> per-class P/R/F1 in integer PPM + macro
    row, computed as ONE dimension-bounded aggregation.  The head runs
    per document, so preds are bit-deterministic under any layout (see
    q87).  Forward parity: tests/test_electra.py::test_ner_forward_parity."""
    from ..operators.ner import docs_with_mentions, macro_report, ner_features, score_types

    m = _doc_mentions(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")["documents"].select(
        F.col("doc_id").cast("string").alias("url"),
        F.lower(F.col("text")).alias("text"),
    )
    feats = ner_features(
        docs_with_mentions(docs, m.select("url", "start", "end", "type"))
    )
    scored = score_types(feats, config=_kernel_cfg(), seed=3, head_seed=4)
    return macro_report(scored)


@register("q89_alps_logits")  # rows-only: numpy encoder not SQL-expressible
def q89(spark, sf_dir):
    """ALPS 3-way tanh pair head (reference electra_model.py:273-411):
    run-counting mean pooling + branch-ordered concat + dense/TANH/
    out_proj, one row per exercisable -1 branch per document, logits in
    exact micro-units, bit-deterministic under any layout (see q87).
    Its kernel (scorer._alps_margins: electra.alps_pooled +
    AlpsHead.apply) is parity-tested against the literal port in
    tests/test_electra.py."""
    from ..scoring.scorer import score_alps_3way

    scored = score_alps_3way(
        _doc_fulltext(spark, sf_dir), config=_kernel_cfg(), seed=3, head_seed=5
    )
    return scored.select(
        "url", "kind", "e1", "e2",
        F.expr("CAST(FLOOR(margin * 1000000 + 0.5) AS BIGINT)").alias("margin_e6"),
    )


@register(
    "q90_png_decode",
    """
    WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 24)),
    dims AS (SELECT id, CAST(16 + id % 5 AS INT) AS w,
                    CAST(12 + id % 3 AS INT) AS h FROM ids),
    xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 21)),
    ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 15)),
    cs AS (SELECT UNNEST([0, 1, 2]) AS c),
    cells AS (
      SELECT d.id, d.w, d.h, cs.c,
             SUM((d.id * 31 + xs.x * 7 + ys.y * 13 + cs.c * 29) % 256) AS s
      FROM dims d
      JOIN xs ON xs.x < d.w
      JOIN ys ON ys.y < d.h
      CROSS JOIN cs
      GROUP BY 1, 2, 3, 4)
    SELECT id AS media_id, w AS width, h AS height,
           CAST(MAX(CASE WHEN c = 0 THEN s END) AS BIGINT) AS sum_c0,
           CAST(MAX(CASE WHEN c = 1 THEN s END) AS BIGINT) AS sum_c1,
           CAST(MAX(CASE WHEN c = 2 THEN s END) AS BIGINT) AS sum_c2
    FROM cells GROUP BY 1, 2, 3
    """,
)
def q90(spark, sf_dir):
    """REAL PNG decode, VALUE-ORACLED: each image's pixels follow the
    closed form p(x,y,c) = (31*id + 7x + 13y + 29c) mod 256; the Spark
    side round-trips them through the pure-python PNG codec
    (functions/codecs.py — zlib inflate + per-row filter cycling through
    ALL FIVE filter types on encode, so the decoder's unfiltering is on
    the hash path), then emits exact per-channel pixel sums; the DuckDB
    oracle computes the same sums directly from the formula.  Any
    decoder bug — filter reconstruction, stride, channel order — breaks
    the hash.  Scale shape: embarrassingly parallel mapInPandas, no
    shuffle before the final dimension-bounded projection."""
    import pandas as pd  # noqa: F811

    def run(batches):
        import numpy as np

        from ..functions.codecs import png_decode, png_encode

        cols = ["media_id", "width", "height", "sum_c0", "sum_c1", "sum_c2"]
        for pdf in batches:
            out = []
            for did in pdf["id"]:
                did = int(did)
                w, h = 16 + did % 5, 12 + did % 3
                x = np.arange(w)[None, :, None]
                y = np.arange(h)[:, None, None]
                c = np.arange(3)[None, None, :]
                px = ((31 * did + 7 * x + 13 * y + 29 * c) % 256).astype(np.uint8)
                back = png_decode(png_encode(px))  # the kernel under test
                sums = back.reshape(-1, 3).astype(np.int64).sum(axis=0)
                out.append(
                    {"media_id": did, "width": w, "height": h,
                     "sum_c0": int(sums[0]), "sum_c1": int(sums[1]),
                     "sum_c2": int(sums[2])}
                )
            yield pd.DataFrame(out, columns=cols)

    return (
        spark.range(0, 24)
        .repartition(8)
        .mapInPandas(
            run,
            schema=(
                "media_id long, width int, height int, "
                "sum_c0 long, sum_c1 long, sum_c2 long"
            ),
        )
    )


@register(
    "q92_wav_decode",
    """
    WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 16)),
    dims AS (SELECT id, CAST(800 + (id % 5) * 50 AS INT) AS n,
                    CAST(1 + id % 2 AS INT) AS ch,
                    CAST(8000 + (id % 3) * 4000 AS INT) AS rate FROM ids),
    ts AS (SELECT CAST(range AS BIGINT) AS t FROM range(0, 1000)),
    cs AS (SELECT UNNEST([0, 1]) AS c),
    cells AS (
      SELECT d.id, d.n, d.ch, d.rate, cs.c,
             SUM((d.id * 37 + ts.t * 11 + cs.c * 53) % 65536 - 32768) AS s
      FROM dims d
      JOIN ts ON ts.t < d.n
      JOIN cs ON cs.c < d.ch
      GROUP BY 1, 2, 3, 4, 5)
    SELECT id AS media_id, n AS n_samples, ch AS channels, rate AS sample_rate,
           CAST(MAX(CASE WHEN c = 0 THEN s END) AS BIGINT) AS sum_c0,
           CAST(COALESCE(MAX(CASE WHEN c = 1 THEN s END), 0) AS BIGINT) AS sum_c1
    FROM cells GROUP BY 1, 2, 3, 4
    """,
)
def q92(spark, sf_dir):
    """REAL WAV (PCM-16) decode, VALUE-ORACLED — the audio counterpart
    of q90: each clip's samples follow the closed form
    s(id, t, c) = ((37*id + 11*t + 53*c) mod 65536) - 32768, a mono/
    stereo mix with per-clip sample rates; the Spark side round-trips
    them through the pure-python WAV codec (functions/codecs.py —
    RIFF chunk walk, fmt parse, word-aligned chunk skipping, <i2 PCM
    reshape all on the hash path), then emits exact per-channel sums
    plus the DECODED channel count and sample rate; the DuckDB oracle
    computes the same from the formula.  Any decoder bug — header
    offsets, channel de-interleave, endianness — breaks the hash.
    Scale shape: embarrassingly parallel mapInPandas, no shuffle before
    the dimension-bounded projection."""
    import pandas as pd  # noqa: F811

    def run(batches):
        import numpy as np

        from ..functions.codecs import wav_decode, wav_encode

        cols = ["media_id", "n_samples", "channels", "sample_rate",
                "sum_c0", "sum_c1"]
        for pdf in batches:
            out = []
            for did in pdf["id"]:
                did = int(did)
                n, ch = 800 + (did % 5) * 50, 1 + did % 2
                rate = 8000 + (did % 3) * 4000
                t = np.arange(n)[:, None]
                c = np.arange(ch)[None, :]
                s = (((37 * did + 11 * t + 53 * c) % 65536) - 32768).astype(
                    np.int16
                )
                back, back_rate = wav_decode(wav_encode(s, sample_rate=rate))
                sums = back.astype(np.int64).sum(axis=0)
                out.append(
                    {"media_id": did, "n_samples": int(back.shape[0]),
                     "channels": int(back.shape[1]),
                     "sample_rate": int(back_rate),
                     "sum_c0": int(sums[0]),
                     "sum_c1": int(sums[1]) if ch == 2 else 0}
                )
            yield pd.DataFrame(out, columns=cols)

    return (
        spark.range(0, 16)
        .repartition(8)
        .mapInPandas(
            run,
            schema=(
                "media_id long, n_samples int, channels int, "
                "sample_rate int, sum_c0 long, sum_c1 long"
            ),
        )
    )


@register("q91_fulltext_training")  # rows-only: encoder+optimizer kernels not SQL-expressible
def q91(spark, sf_dir):
    """Distributed head training at the levi trainer's DOCUMENT
    granularity (reference cdr_trainer_levi.py:316-390), end-to-end
    over the corpus: documents -> fulltext (is_full_sample) features
    from the fused stage's inventory (``_doc_fulltext``:
    scorer.document_fulltext) -> ONE frozen-encoder pass per document
    pooling ALL its (chem, dis) pairs (scoring/train.
    pool_fulltext_features over scorer.fullsample_pooled, the exact
    pooling of electra_model.py:626-641) -> 3 full-batch epochs of the
    reference AdamW rule with the integer-exact gradient fold.  Same
    output contract as q86: (epoch, loss_q, n_valid, params_checksum),
    bit-deterministic at any parallelism — equal-length-grouped encoder
    batches keep the pooled float32 features layout-invariant (see
    q87), and the gradient allreduce is the
    pytest-proven decimal(38,0) fold.  Scale shape: encoder cost is one
    pass per document (not per pair), embarrassingly parallel; the
    training shuffle moves fixed-size gradient chunks only,
    independent of corpus size.  Rows-only: DuckDB cannot run the
    encoder."""
    from ..scoring.train import pool_fulltext_features, train_pair_head

    pooled = pool_fulltext_features(
        _doc_fulltext(spark, sf_dir), config=_kernel_cfg(), seed=3
    )
    res = train_pair_head(
        pooled, epochs=3, optimizer="adamw", ignore_index=None, seed=2,
        two_e=2 * _kernel_cfg().hidden_size,  # skip the .first() probe job
    )
    return _epoch_rows(spark, res)


@register(
    "q93_train_serve_lifecycle",
    # Constant oracle, deliberately: DuckDB cannot run the encoder or
    # the optimizer, but the WHOLE lifecycle below is bit-deterministic
    # (pytest-proven partitioning invariance of pooling, training and
    # the quantized head forward + a seed-pinned corpus of fixed size),
    # so its outcome is a fixed vector of integers.  Pinning that
    # vector in SQL turns the full train -> best-F1 checkpoint -> serve
    # loop into a value-oracled gate row: ANY regression in datagen,
    # mention detection, featurization, pooling, the AdamW rule, the
    # checkpoint roundtrip, or serving moves at least one integer and
    # breaks the hash.  (The sibling training queries q86/q91 stay
    # rows-only; this row is the lifecycle's golden value.)
    """
    SELECT CAST(70 AS BIGINT) AS n_train,
           CAST(9 AS BIGINT) AS n_dev,
           CAST(18 AS BIGINT) AS best_epoch,
           CAST(5 AS BIGINT) AS tp,
           CAST(0 AS BIGINT) AS fp,
           CAST(0 AS BIGINT) AS fn,
           CAST(1000000 AS BIGINT) AS precision_ppm,
           CAST(1000000 AS BIGINT) AS recall_ppm,
           CAST(1000000 AS BIGINT) AS f1_ppm
    """,
)
def q93(spark, sf_dir):
    """The full reference lifecycle as ONE gate row (cdr_trainer.py:
    214-331 / 441-468: train -> evaluate per epoch -> save on best F1
    -> serve from the saved checkpoint): seeded synthetic CDR corpus ->
    per-document features (pipeline.training_features, as q86) ->
    frozen-encoder pooling -> deterministic 80/20 url-hash doc split ->
    24 full-batch AdamW epochs on the train split with per-epoch dev
    evaluation and strict-greater best-F1 checkpointing
    (checkpoint.BestCheckpoint) ->
    reload the best .npz through the executor npz plug point
    (pool_features(npz_path=...) re-derives the dev features THROUGH
    the checkpoint, proving the encoder roundtrips) -> distributed head
    inference (score_pooled) -> exact integer P/R/F1 in ppm
    (2*tp*1e6 DIV (2*tp+fp+fn) — the F1 identity keeps it
    integer-exact).

    Corpus size is PINNED at 40 docs regardless of sf: this row gates
    the LIFECYCLE, not scale (q86/q91/BENCH/TRAIN.md cover training
    scale), and pinning makes the oracle constants hold at every sf
    the driver probes."""
    import os as _os
    import tempfile

    from .. import datagen
    from ..scoring.checkpoint import BestCheckpoint, load_checkpoint, with_head
    from ..scoring.electra import ElectraConfig, resolve_weights
    from ..scoring.train import (
        HeadParams,
        pool_features,
        score_pooled,
        train_pair_head,
    )
    from .pipeline import training_features

    pages, _gm, gold = datagen.gen_fixture_dfs(spark, 40)
    feats = training_features(pages, datagen.mesh_df(spark), gold)
    cfg = ElectraConfig(
        vocab_size=30524, embedding_size=32, hidden_size=32,
        num_hidden_layers=2, num_attention_heads=2, intermediate_size=64,
    )
    pooled = pool_features(feats, config=cfg, seed=9)
    is_dev = F.abs(F.xxhash64("url")) % 5 == F.lit(0)
    train_pooled = pooled.where(~is_dev)
    # the dev split is dimension-sized (1/5 of a pinned 40-doc corpus),
    # so the per-epoch evaluate loop runs driver-side on the collected
    # matrix through the SAME quantized kernel serving uses
    # (head_predict) — one Spark pass to pool it, zero per-epoch jobs;
    # the FINAL metrics still come from distributed serving below
    import numpy as np

    from ..scoring.train import head_predict

    dev_rows = pooled.where(is_dev).collect()
    n_dev = len(dev_rows)
    dev_feat = np.stack([r["feat"] for r in dev_rows]).astype(np.float32)
    dev_label = np.array([r["label"] for r in dev_rows])

    def dev_metrics(hp) -> dict:
        pred = head_predict(dev_feat, hp)
        tp = int(((pred == 1) & (dev_label == 1)).sum())
        fp = int(((pred == 1) & (dev_label == 0)).sum())
        fn = int(((pred == 0) & (dev_label == 1)).sum())
        denom = 2 * tp + fp + fn
        return {"f1-score": (2 * tp / denom) if denom else 0.0}

    # the npz is re-read lazily by UDF workers when the caller executes
    # the returned DataFrame, so the dir can't be removed here; atexit
    # reclaims it instead of leaking one tempdir per gate/bench run
    import atexit
    import shutil as _shutil

    _ckpt_dir = tempfile.mkdtemp(prefix="q93_ckpt_")
    atexit.register(_shutil.rmtree, _ckpt_dir, ignore_errors=True)
    ckpt = _os.path.join(_ckpt_dir, "best.npz")
    base = resolve_weights(cfg, seed=9)
    best = BestCheckpoint(ckpt)

    # lr 5e-3 (10x the reference default, same AdamW rule): the frozen
    # random-seeded encoder gives weaker features than a pretrained one,
    # so the reference lr needs ~130 full-batch epochs to converge here;
    # 5e-3 reaches the dev-F1 plateau inside 24 epochs, keeping the
    # gate query's job count bounded
    res = train_pair_head(
        pooled=train_pooled, epochs=24, optimizer="adamw", ignore_index=None,
        seed=2, two_e=2 * cfg.hidden_size, lr=5e-3,
        on_epoch=lambda ep, hp: best.update(ep, dev_metrics(hp), with_head(base, hp)),
    )
    n_train = res.n_valid

    # serve strictly FROM the checkpoint: dev features re-pooled through
    # the npz plug point, head taken from the reloaded weights
    served = pool_features(feats, config=cfg, npz_path=ckpt).where(is_dev)
    hp_best = HeadParams.from_weights(load_checkpoint(ckpt, cfg))
    return (
        score_pooled(served, hp_best)
        .agg(
            F.sum(((F.col("pred") == 1) & (F.col("label") == 1)).cast("long")).alias("tp"),
            F.sum(((F.col("pred") == 1) & (F.col("label") == 0)).cast("long")).alias("fp"),
            F.sum(((F.col("pred") == 0) & (F.col("label") == 1)).cast("long")).alias("fn"),
        )
        .select(
            F.lit(n_train).cast("long").alias("n_train"),
            F.lit(n_dev).cast("long").alias("n_dev"),
            F.lit(best.best_epoch).cast("long").alias("best_epoch"),
            F.col("tp"),
            F.col("fp"),
            F.col("fn"),
            F.expr(
                "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 DIV (tp + fp) AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 DIV (tp + fn) AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(CAST(2 * tp AS DECIMAL(38,0)) * 1000000"
                " DIV (2 * tp + fp + fn) AS BIGINT)"
            ).alias("f1_ppm"),
        )
    )


@register(
    "q94_jpeg_decode",
    """
    WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 16)),
    dims AS (SELECT id, CAST(19 + id % 5 AS INT) AS w,
                    CAST(14 + id % 3 AS INT) AS h FROM ids),
    xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 24)),
    ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 17)),
    cells AS (
      SELECT d.id, d.w, d.h,
             SUM(28 + (d.id * 31 + (xs.x // 8) * 7 + (ys.y // 8) * 13) % 173) AS s
      FROM dims d
      JOIN xs ON xs.x < d.w
      JOIN ys ON ys.y < d.h
      GROUP BY d.id, d.w, d.h)
    SELECT id AS media_id, w AS width, h AS height,
           CAST(CASE WHEN id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
           CAST(s AS BIGINT) AS sum_c0,
           CAST(CASE WHEN id % 2 = 0 THEN 0 ELSE s END AS BIGINT) AS sum_c1,
           CAST(CASE WHEN id % 2 = 0 THEN 0 ELSE s END AS BIGINT) AS sum_c2
    FROM cells
    ORDER BY media_id
    """,
)
def q94(spark, sf_dir):
    """REAL baseline JPEG decode, VALUE-ORACLED (the q90 pattern for the
    lossy codec): each image is a grid of flat 8x8 blocks with
    closed-form value v(bx, by) = 28 + (31*id + 7*bx + 13*by) mod 173 —
    flat blocks make the lossy pipeline EXACT end to end (forward DCT of
    a flat block is DC-only; flat-8 quant divides the 8*(v-128) DC
    exactly; IDCT returns v to within 1e-13, closed by rint), so the
    decoded per-channel pixel sums equal the formula sums DuckDB
    computes directly.  The full real bitstream is on the hash path:
    JFIF markers, canonical Annex K huffman coding, byte stuffing,
    zigzag, DC prediction, dequant, IDCT, edge-replicated padding crop,
    and (odd ids) the YCbCr<->RGB transform with neutral chroma.
    Grey for even ids, 3-component 4:4:4 color for odd ids.  AC-heavy
    content is covered by pytest roundtrips
    (tests/test_multimodal.py::test_jpeg_*, hypothesis property);
    progressive/subsampled inputs remain the documented
    NotImplementedError seam.  Scale shape: embarrassingly parallel
    mapInPandas, one dimension-bounded projection."""
    import pandas as pd  # noqa: F811

    def run(batches):
        import numpy as np

        from ..functions.codecs import jpeg_decode, jpeg_encode

        cols = ["media_id", "width", "height", "channels",
                "sum_c0", "sum_c1", "sum_c2"]
        for pdf in batches:
            out = []
            for did in pdf["id"]:
                did = int(did)
                w, h = 19 + did % 5, 14 + did % 3
                bx = (np.arange(w) // 8)[None, :]
                by = (np.arange(h) // 8)[:, None]
                v = (28 + (31 * did + 7 * bx + 13 * by) % 173).astype(np.uint8)
                px = v if did % 2 == 0 else np.repeat(v[:, :, None], 3, axis=2)
                back = jpeg_decode(jpeg_encode(px))  # the kernel under test
                ch = back.shape[2]
                sums = back.reshape(-1, ch).astype(np.int64).sum(axis=0)
                out.append(
                    {"media_id": did, "width": w, "height": h, "channels": ch,
                     "sum_c0": int(sums[0]),
                     "sum_c1": int(sums[1]) if ch == 3 else 0,
                     "sum_c2": int(sums[2]) if ch == 3 else 0}
                )
            yield pd.DataFrame(out, columns=cols)

    return (
        spark.range(0, 16)
        .repartition(8)
        .mapInPandas(
            run,
            schema=(
                "media_id long, width int, height int, channels int, "
                "sum_c0 long, sum_c1 long, sum_c2 long"
            ),
        )
    )


@register(
    "q95_png_variants",
    """
    WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 24)),
    dims AS (SELECT id, id % 4 AS v, CAST(12 + id % 5 AS INT) AS w,
                    CAST(9 + id % 3 AS INT) AS h,
                    16 + id % 7 AS npal FROM ids),
    xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 17)),
    ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 12)),
    cs AS (SELECT UNNEST([0, 1, 2, 3]) AS c),
    cells AS (
      SELECT d.id, d.v, d.w, d.h, cs.c,
        SUM(CASE
          WHEN d.v = 0 AND cs.c < 3
            THEN (5 * ((d.id + 3 * xs.x + 5 * ys.y) % d.npal)
                  + 11 * cs.c + d.id) % 256
          WHEN d.v = 0
            THEN CASE
              WHEN ((d.id + 3 * xs.x + 5 * ys.y) % d.npal) < d.npal // 2
                THEN (7 * ((d.id + 3 * xs.x + 5 * ys.y) % d.npal)) % 256
              ELSE 255 END
          WHEN d.v = 1 AND cs.c < 3
            THEN ((31 * d.id + 7 * xs.x + 13 * ys.y + 29 * cs.c) * 257) % 65536
          WHEN d.v = 2 AND cs.c < 2
            THEN (17 * d.id + 3 * xs.x + 11 * ys.y + 41 * cs.c) % 256
          WHEN d.v = 3 AND cs.c < 3
            THEN (31 * d.id + 7 * xs.x + 13 * ys.y + 29 * cs.c) % 256
          ELSE 0 END) AS s
      FROM dims d
      JOIN xs ON xs.x < d.w
      JOIN ys ON ys.y < d.h
      CROSS JOIN cs
      GROUP BY 1, 2, 3, 4, 5)
    SELECT id AS media_id,
           CASE v WHEN 0 THEN 'palette' WHEN 1 THEN 'rgb16'
                  WHEN 2 THEN 'grey_alpha' ELSE 'interlaced' END AS variant,
           w AS width, h AS height,
           CAST(CASE v WHEN 0 THEN 4 WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 3 END
                AS INT) AS channels,
           CAST(MAX(CASE WHEN c = 0 THEN s END) AS BIGINT) AS sum_c0,
           CAST(MAX(CASE WHEN c = 1 THEN s END) AS BIGINT) AS sum_c1,
           CAST(MAX(CASE WHEN c = 2 THEN s END) AS BIGINT) AS sum_c2,
           CAST(MAX(CASE WHEN c = 3 THEN s END) AS BIGINT) AS sum_c3
    FROM cells GROUP BY 1, 2, 3, 4, 5
    """,
)
def q95(spark, sf_dir):
    """REAL PNG decode across the WIDENED codec surface, VALUE-ORACLED
    (the q90 pattern over the variants q90 doesn't cover): per image a
    variant by id % 4 —
      0 'palette'    8-bit color-type-3 with PLTE + short tRNS (decode
                     expands to RGBA; alpha pads opaque past tRNS)
      1 'rgb16'      16-bit truecolor (big-endian sample pairs)
      2 'grey_alpha' 8-bit color-type-4 (2 channels)
      3 'interlaced' 8-bit RGB, Adam7 (7 per-pass filtered sub-images)
    Pixels/palette entries follow closed modular forms; the Spark side
    round-trips REAL bytes through functions/codecs.py (filter types
    cycle across scanlines and interlace passes) and emits exact
    per-channel sums; the DuckDB oracle computes the same sums straight
    from the formulas.  Any bug in palette lookup, tRNS padding, 16-bit
    byte order, grey+alpha stride, or Adam7 pass geometry breaks the
    hash.  Scale shape: embarrassingly parallel mapInPandas, no shuffle
    before the dimension-bounded projection."""
    import pandas as pd  # noqa: F811

    def run(batches):
        import numpy as np

        from ..functions.codecs import (
            png_decode,
            png_encode,
            png_encode_palette,
        )

        names = {0: "palette", 1: "rgb16", 2: "grey_alpha", 3: "interlaced"}
        cols = ["media_id", "variant", "width", "height", "channels",
                "sum_c0", "sum_c1", "sum_c2", "sum_c3"]
        for pdf in batches:
            out = []
            for did in pdf["id"]:
                did = int(did)
                v, w, h = did % 4, 12 + did % 5, 9 + did % 3
                x = np.arange(w)[None, :, None]
                y = np.arange(h)[:, None, None]
                if v == 0:
                    npal = 16 + did % 7
                    xx = np.arange(w)[None, :]
                    yy = np.arange(h)[:, None]
                    idx = ((did + 3 * xx + 5 * yy) % npal).astype(np.uint8)
                    j = np.arange(npal)[:, None]
                    pal = ((5 * j + 11 * np.arange(3)[None, :] + did) % 256).astype(np.uint8)
                    trns = ((7 * np.arange(npal // 2)) % 256).astype(np.uint8)
                    blob = png_encode_palette(idx, pal, trns=trns)
                elif v == 1:
                    c = np.arange(3)[None, None, :]
                    px = (((31 * did + 7 * x + 13 * y + 29 * c) * 257) % 65536).astype(np.uint16)
                    blob = png_encode(px)
                elif v == 2:
                    c = np.arange(2)[None, None, :]
                    px = ((17 * did + 3 * x + 11 * y + 41 * c) % 256).astype(np.uint8)
                    blob = png_encode(px)
                else:
                    c = np.arange(3)[None, None, :]
                    px = ((31 * did + 7 * x + 13 * y + 29 * c) % 256).astype(np.uint8)
                    blob = png_encode(px, interlace=True)
                back = png_decode(blob)  # the kernel under test
                bh, bw, ch = back.shape
                sums = back.reshape(-1, ch).astype(np.int64).sum(axis=0)
                out.append(
                    {"media_id": did, "variant": names[v],
                     "width": bw, "height": bh, "channels": ch,
                     "sum_c0": int(sums[0]),
                     "sum_c1": int(sums[1]) if ch > 1 else 0,
                     "sum_c2": int(sums[2]) if ch > 2 else 0,
                     "sum_c3": int(sums[3]) if ch > 3 else 0}
                )
            yield pd.DataFrame(out, columns=cols)

    return (
        spark.range(0, 24)
        .repartition(8)
        .mapInPandas(
            run,
            schema=(
                "media_id long, variant string, width int, height int, "
                "channels int, sum_c0 long, sum_c1 long, sum_c2 long, "
                "sum_c3 long"
            ),
        )
    )


@register(
    "q96_codec_edges",
    """
    WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 24)),
    dims AS (SELECT id, id % 4 AS v,
                    CAST(CASE WHEN id % 4 = 3 THEN 21 + id % 7
                              ELSE 19 + id % 5 END AS INT) AS w,
                    CAST(CASE WHEN id % 4 = 3 THEN 17 + id % 5
                              ELSE 9 + id % 3 END AS INT) AS h FROM ids),
    xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 28)),
    ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 22)),
    cs AS (SELECT UNNEST([0, 1, 2, 3]) AS c),
    cells AS (
      SELECT d.id, d.v, d.w, d.h, cs.c,
        SUM(CASE
          WHEN d.v = 0 AND cs.c = 0 THEN (xs.x + ys.y + d.id) % 2
          WHEN d.v = 1 AND cs.c = 0 THEN (3 * xs.x + 5 * ys.y + d.id) % 16
          WHEN d.v = 2 AND cs.c < 3
            THEN (5 * ((d.id + 3 * xs.x + 5 * ys.y) % 16)
                  + 11 * cs.c + d.id) % 256
          WHEN d.v = 2
            THEN CASE WHEN ((d.id + 3 * xs.x + 5 * ys.y) % 16) < 8
              THEN (7 * ((d.id + 3 * xs.x + 5 * ys.y) % 16)) % 256
              ELSE 255 END
          WHEN d.v = 3 AND cs.c < 3
            THEN 28 + (31 * d.id + 7 * (xs.x // 16) + 13 * (ys.y // 16)) % 199
          ELSE 0 END) AS s
      FROM dims d
      JOIN xs ON xs.x < d.w
      JOIN ys ON ys.y < d.h
      CROSS JOIN cs
      GROUP BY 1, 2, 3, 4, 5)
    SELECT id AS media_id,
           CASE v WHEN 0 THEN 'grey1' WHEN 1 THEN 'grey4'
                  WHEN 2 THEN 'palette4' ELSE 'jpeg420_rst' END AS variant,
           w AS width, h AS height,
           CAST(CASE v WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 4
                       ELSE 3 END AS INT) AS channels,
           CAST(MAX(CASE WHEN c = 0 THEN s END) AS BIGINT) AS sum_c0,
           CAST(MAX(CASE WHEN c = 1 THEN s END) AS BIGINT) AS sum_c1,
           CAST(MAX(CASE WHEN c = 2 THEN s END) AS BIGINT) AS sum_c2,
           CAST(MAX(CASE WHEN c = 3 THEN s END) AS BIGINT) AS sum_c3
    FROM cells GROUP BY 1, 2, 3, 4, 5
    """,
)
def q96(spark, sf_dir):
    """REAL decode across the codec EDGE surface, VALUE-ORACLED (the
    q95 pattern): per image a variant by id % 4 —
      0 'grey1'       1-bit greyscale (scanlines pack 8 samples/byte;
                      w=19..23 forces a right-padded final byte)
      1 'grey4'       4-bit greyscale (raw unscaled samples)
      2 'palette4'    4-bit palette indices + PLTE + short tRNS -> RGBA
      3 'jpeg420_rst' baseline JPEG, 4:2:0 chroma subsampling AND
                      restart_interval=1 (DRI + RSTn markers, DC reset
                      per MCU); grey-valued flat 16x16 cells make the
                      lossy path exact end-to-end (box downsample of a
                      flat cell is flat; DC-only blocks divide the
                      flat-8 quant exactly; Cb=Cr=128 for r=g=b)
    The Spark side round-trips REAL bytes through functions/codecs.py;
    the DuckDB oracle computes the same per-channel sums straight from
    the closed modular forms.  Any bug in MSB-first bit packing,
    sub-byte palette lookup, restart-segment bit realignment, or the
    DC-prediction reset breaks the hash.  Scale shape: embarrassingly
    parallel mapInPandas, no shuffle before the dimension-bounded
    projection."""
    import pandas as pd  # noqa: F811

    def run(batches):
        import numpy as np

        from ..functions.codecs import (
            jpeg_decode,
            jpeg_encode,
            png_decode,
            png_encode,
            png_encode_palette,
        )

        names = {0: "grey1", 1: "grey4", 2: "palette4", 3: "jpeg420_rst"}
        cols = ["media_id", "variant", "width", "height", "channels",
                "sum_c0", "sum_c1", "sum_c2", "sum_c3"]
        for pdf in batches:
            out = []
            for did in pdf["id"]:
                did = int(did)
                v = did % 4
                if v == 3:
                    w, h = 21 + did % 7, 17 + did % 5
                else:
                    w, h = 19 + did % 5, 9 + did % 3
                xx = np.arange(w)[None, :]
                yy = np.arange(h)[:, None]
                if v == 0:
                    px = ((xx + yy + did) % 2).astype(np.uint8)
                    blob = png_encode(px, depth=1)
                    back = png_decode(blob)
                elif v == 1:
                    px = ((3 * xx + 5 * yy + did) % 16).astype(np.uint8)
                    blob = png_encode(px, depth=4)
                    back = png_decode(blob)
                elif v == 2:
                    idx = ((did + 3 * xx + 5 * yy) % 16).astype(np.uint8)
                    j = np.arange(16)[:, None]
                    pal = ((5 * j + 11 * np.arange(3)[None, :] + did) % 256).astype(np.uint8)
                    trns = ((7 * np.arange(8)) % 256).astype(np.uint8)
                    blob = png_encode_palette(idx, pal, trns=trns, depth=4)
                    back = png_decode(blob)
                else:
                    val = (28 + (31 * did + 7 * (xx // 16) + 13 * (yy // 16)) % 199).astype(np.uint8)
                    rgb = np.repeat(val[:, :, None], 3, axis=2)
                    blob = jpeg_encode(rgb, subsampling="420", restart_interval=1)
                    back = jpeg_decode(blob)
                bh, bw, ch = back.shape
                sums = back.reshape(-1, ch).astype(np.int64).sum(axis=0)
                out.append(
                    {"media_id": did, "variant": names[v],
                     "width": bw, "height": bh, "channels": ch,
                     "sum_c0": int(sums[0]),
                     "sum_c1": int(sums[1]) if ch > 1 else 0,
                     "sum_c2": int(sums[2]) if ch > 2 else 0,
                     "sum_c3": int(sums[3]) if ch > 3 else 0}
                )
            yield pd.DataFrame(out, columns=cols)

    return (
        spark.range(0, 24)
        .repartition(8)
        .mapInPandas(
            run,
            schema=(
                "media_id long, variant string, width int, height int, "
                "channels int, sum_c0 long, sum_c1 long, sum_c2 long, "
                "sum_c3 long"
            ),
        )
    )


@register(
    "q97_jpeg_progressive",
    """
    WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 16)),
    dims AS (SELECT id, CAST(21 + id % 7 AS INT) AS w,
                    CAST(17 + id % 5 AS INT) AS h FROM ids),
    xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 28)),
    ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 22)),
    cells AS (
      SELECT d.id, d.w, d.h,
             SUM(28 + (31 * d.id + 7 * (xs.x // 16) + 13 * (ys.y // 16))
                 % 199) AS s
      FROM dims d
      JOIN xs ON xs.x < d.w
      JOIN ys ON ys.y < d.h
      GROUP BY d.id, d.w, d.h)
    SELECT id AS media_id,
           CAST(CASE WHEN id % 3 = 0 THEN 2 ELSE 0 END AS INT) AS restart_mcus,
           w AS width, h AS height,
           CAST(CASE WHEN id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels,
           CAST(s AS BIGINT) AS sum_c0,
           CAST(CASE WHEN id % 2 = 0 THEN 0 ELSE s END AS BIGINT) AS sum_c1,
           CAST(CASE WHEN id % 2 = 0 THEN 0 ELSE s END AS BIGINT) AS sum_c2
    FROM cells
    """,
)
def q97(spark, sf_dir):
    """REAL PROGRESSIVE JPEG (SOF2) decode, VALUE-ORACLED (the q94/q96
    pattern): per image — grey (even ids) or 4:2:0 color (odd ids),
    restart_interval=2 on every third id — flat 16x16 cells in closed
    modular form, encoded through the full successive-approximation
    scan script (DC first + refinement, band-split AC first scans,
    two AC refinement passes) and decoded back exactly (flat cells:
    DC-only blocks divide the flat-8 quant exactly; the AC scans
    collapse to multi-block EOBn runs, so the run-length machinery is
    ON the hash path).  The DuckDB oracle computes the same sums from
    the pixel formula.  Scale shape: embarrassingly parallel
    mapInPandas, no shuffle before the dimension-bounded projection."""
    import pandas as pd  # noqa: F811

    def run(batches):
        import numpy as np

        from ..functions.codecs import jpeg_decode, jpeg_encode_progressive

        cols = ["media_id", "restart_mcus", "width", "height", "channels",
                "sum_c0", "sum_c1", "sum_c2"]
        for pdf in batches:
            out = []
            for did in pdf["id"]:
                did = int(did)
                w, h = 21 + did % 7, 17 + did % 5
                ri = 2 if did % 3 == 0 else 0
                xx = np.arange(w)[None, :]
                yy = np.arange(h)[:, None]
                val = (28 + (31 * did + 7 * (xx // 16) + 13 * (yy // 16)) % 199).astype(np.uint8)
                if did % 2 == 0:
                    blob = jpeg_encode_progressive(val, restart_interval=ri)
                else:
                    rgb = np.repeat(val[:, :, None], 3, axis=2)
                    blob = jpeg_encode_progressive(
                        rgb, subsampling="420", restart_interval=ri
                    )
                back = jpeg_decode(blob)
                bh, bw, ch = back.shape
                sums = back.reshape(-1, ch).astype(np.int64).sum(axis=0)
                out.append(
                    {"media_id": did, "restart_mcus": ri,
                     "width": bw, "height": bh, "channels": ch,
                     "sum_c0": int(sums[0]),
                     "sum_c1": int(sums[1]) if ch > 1 else 0,
                     "sum_c2": int(sums[2]) if ch > 2 else 0}
                )
            yield pd.DataFrame(out, columns=cols)

    return (
        spark.range(0, 16)
        .repartition(8)
        .mapInPandas(
            run,
            schema=(
                "media_id long, restart_mcus int, width int, height int, "
                "channels int, sum_c0 long, sum_c1 long, sum_c2 long"
            ),
        )
    )


@register(
    "q98_avi_frames",
    """
    WITH ids AS (SELECT CAST(range AS BIGINT) AS id FROM range(0, 16)),
    dims AS (SELECT id, CAST(9 + id % 4 AS INT) AS nf,
                    CAST(13 + id % 5 AS INT) AS w,
                    CAST(7 + id % 3 AS INT) AS h,
                    CAST(2 + id % 3 AS INT) AS stride FROM ids),
    fs AS (SELECT CAST(range AS BIGINT) AS f FROM range(0, 13)),
    xs AS (SELECT CAST(range AS BIGINT) AS x FROM range(0, 18)),
    ys AS (SELECT CAST(range AS BIGINT) AS y FROM range(0, 10)),
    cs AS (SELECT UNNEST([0, 1, 2]) AS c),
    cells AS (
      SELECT d.id, d.w, d.h, d.stride, cs.c,
             COUNT(DISTINCT fs.f) FILTER (WHERE cs.c = 0) AS nsamp,
             SUM((d.id + 11 * fs.f + 3 * xs.x + 5 * ys.y + 29 * cs.c) % 256) AS s
      FROM dims d
      JOIN fs ON fs.f < d.nf AND fs.f % d.stride = 0
      JOIN xs ON xs.x < d.w
      JOIN ys ON ys.y < d.h
      CROSS JOIN cs
      GROUP BY 1, 2, 3, 4, 5)
    SELECT id AS media_id, w AS width, h AS height,
           CAST(MAX(nsamp) AS INT) AS n_frames,
           CAST(MAX(CASE WHEN c = 0 THEN s END) AS BIGINT) AS sum_r,
           CAST(MAX(CASE WHEN c = 1 THEN s END) AS BIGINT) AS sum_g,
           CAST(MAX(CASE WHEN c = 2 THEN s END) AS BIGINT) AS sum_b
    FROM cells GROUP BY 1, 2, 3
    """,
)
def q98(spark, sf_dir):
    """REAL VIDEO decode + frame sampling, VALUE-ORACLED: per id an
    uncompressed AVI (RIFF/DIB, bottom-up BGR, 4-byte stride — widths
    13..17 force stride padding) of nf frames whose pixels follow a
    closed modular form; the kernel round-trips REAL bytes through
    functions/codecs.py avi_encode/avi_decode, strides over the ACTUAL
    decoded frames (every (2+id%3)-th), and emits exact per-channel
    sums over the sampled frames; the DuckDB oracle computes the same
    sums straight from the formula restricted to f % stride = 0.  Any
    bug in RIFF walking, bottom-up row order, BGR swap, stride-pad
    handling, or sampling arithmetic breaks the hash.  Scale shape:
    embarrassingly parallel mapInPandas, no shuffle before the
    dimension-bounded projection."""
    import pandas as pd  # noqa: F811

    def run(batches):
        import numpy as np

        from ..functions.codecs import avi_decode, avi_encode

        cols = ["media_id", "width", "height", "n_frames",
                "sum_r", "sum_g", "sum_b"]
        for pdf in batches:
            out = []
            for did in pdf["id"]:
                did = int(did)
                nf, w, h = 9 + did % 4, 13 + did % 5, 7 + did % 3
                stride = 2 + did % 3
                f = np.arange(nf)[:, None, None, None]
                y = np.arange(h)[None, :, None, None]
                x = np.arange(w)[None, None, :, None]
                c = np.arange(3)[None, None, None, :]
                fr = ((did + 11 * f + 3 * x + 5 * y + 29 * c) % 256).astype(np.uint8)
                frames, fps = avi_decode(avi_encode(fr, fps=10))
                sampled = frames[::stride]
                sums = sampled.reshape(-1, 3).astype(np.int64).sum(axis=0)
                out.append(
                    {"media_id": did, "width": w, "height": h,
                     "n_frames": int(sampled.shape[0]),
                     "sum_r": int(sums[0]), "sum_g": int(sums[1]),
                     "sum_b": int(sums[2])}
                )
            yield pd.DataFrame(out, columns=cols)

    return (
        spark.range(0, 16)
        .repartition(8)
        .mapInPandas(
            run,
            schema=(
                "media_id long, width int, height int, n_frames int, "
                "sum_r long, sum_g long, sum_b long"
            ),
        )
    )
