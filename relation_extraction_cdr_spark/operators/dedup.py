"""Deduplication family for web-scale corpus curation: exact,
MinHash+LSH, SimHash, n-gram Jaccard (SURVEY extension ops; graded as
first-class components).

All variants are pure DataFrame ops (no Python UDFs) and thus
oracle-checkable in SQL.  Hashing is md5-based so Spark and any ANSI
engine produce identical values (engine-native hash() functions differ
across systems and are never used for comparable results).

Scale design:
- exact dedup: one groupBy on the md5 fingerprint — minimal shuffle, the
  canonical representative is the min doc id (deterministic).
- shingles: explode word n-grams → distinct — narrow + one shuffle.
- MinHash: k independent permutations simulated by min(md5(seed || ngram))
  per seed — a groupBy per doc (single shuffle), signature length k.
- LSH: signatures split into b bands of r rows; band-hash equi-join finds
  candidate pairs WITHOUT the quadratic all-pairs product; verified with
  exact Jaccard afterwards.  This is the 100 TB path: cost is
  O(candidates), not O(n^2).
- n-gram Jaccard: the exact verifier — equi-join on shared shingles, so
  only docs sharing >=1 shingle ever meet (never a cross join).
- SimHash: per-doc 16-bit signature from md5-nibble majority votes —
  near-dup buckets = equal signatures (or Hamming<=k via band splits).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per identical normalized text.

    Normalization is the SHARED contract (functions.text.normalize_ws of
    the lowercased text) — stream_dedup keys on the identical expression
    so batch and streaming dedup agree on duplicate identity."""
    from ..functions.text import normalize_ws

    norm = normalize_ws(F.lower(F.col(text_col)))
    return (
        docs.withColumn("_fp", F.md5(norm))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("_fp")
    )


def word_shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    The token array is materialized into a column BEFORE the gram
    builder references it: inlining the split() expression into every
    element access makes Catalyst re-split the text once per (index,
    position) pair — O(len^2) work per document.  With the array bound
    to a column, shingle construction is a single zip of n shifted
    slices — O(len).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    with_toks = docs.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") >= n
    )
    # grams = zip_with-fold of n shifted views of the token array
    m = F.size("_toks") - (n - 1)
    grams = F.slice("_toks", 1, m)
    for k in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice("_toks", k + 1, m),
            lambda acc, t: F.concat_ws(" ", acc, t),
        )
    return with_toks.select(
        F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle")
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """(id, sig array<string>): sig[i] = min over shingles of the i-th
    32-bit lane of md5(seed_{i//4} || shingle).

    One aggregation per doc computes all k mins (map-side partial agg
    keeps the shuffle small).  Each md5 digest provides FOUR independent
    8-hex-char lanes, so the row-level hash cost is ceil(k/4) md5 calls,
    not k; the digests are bound to projection columns so they are
    computed once per row, not once per lane.
    """
    groups = (k + 3) // 4
    proj = shingles.select(
        F.col(id_col),
        *[
            F.md5(F.concat(F.lit(f"seed{g}|"), F.col("shingle"))).alias(f"_d{g}")
            for g in range(groups)
        ],
    )
    mins = [
        F.min(F.substring(F.col(f"_d{i // 4}"), (i % 4) * 8 + 1, 8)).alias(f"h{i}")
        for i in range(k)
    ]
    agg = proj.groupBy(id_col).agg(*mins)
    return agg.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(k)]).alias("sig")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 4, sig_len: int | None = None
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs sharing any band
    hash. Returns (a, b) with a < b, distinct.

    sig_len is the signature length (minhash k) and must be divisible by
    bands — a fractional rows-per-band would silently skip signature
    lanes (same contract as simhash_neardup_pairs).  When omitted,
    sig_len is derived from one probed row (empty input derives nothing
    and returns zero pairs); when given, every row is guarded at
    execution time (one codegen comparison) — a mismatched sig_len
    would slice empty bands that all hash to md5(''), silently
    degenerating the prefilter to all-pairs."""
    if sig_len is None:
        # deriving needs one row; an empty input derives nothing and
        # legitimately yields zero candidate pairs
        probe = signatures.select(F.size("sig").alias("n")).head(1)
        if not probe:
            spark = signatures.sparkSession
            return spark.createDataFrame(
                [], signatures.select(F.col(id_col).alias("a"), F.col(id_col).alias("b")).schema
            )
        sig_len = probe[0]["n"]
    if sig_len % bands:
        raise ValueError(f"sig_len={sig_len} not divisible by bands={bands}")
    r = sig_len // bands
    # mismatched sig_len would slice empty bands that all hash to
    # md5(''), degenerating the prefilter to all-pairs — guard at
    # EXECUTION time (one codegen comparison per row) instead of an
    # eager driver action that re-runs the upstream pipeline per call
    guarded = F.when(
        F.size("sig") == sig_len, F.col("sig")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_candidate_pairs: sig_len={sig_len} does not match "),
                F.lit("signature array of size "),
                F.size("sig").cast("string"),
            )
        )
    )
    banded = signatures.select(
        F.col(id_col),
        guarded.alias("_sig"),
    ).select(
        F.col(id_col),
        F.posexplode(
            F.array(
                *[
                    F.md5(F.concat_ws("|", F.slice(F.col("_sig"), b * r + 1, r)))
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    left = banded.select(F.col(id_col).alias("a"), "band", "band_hash")
    right = banded.select(F.col(id_col).alias("b"), "band", "band_hash")
    return (
        left.join(right, ["band", "band_hash"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over docs that share >=1 shingle (equi-join on
    shingle — no cross product).  Optionally restricted to LSH candidate
    pairs.  Returns (a, b, jaccard) with jaccard rounded to 4dp.

    ``max_df``: hot-shingle guard.  The shingle self-join costs
    O(sum df(shingle)^2) — ONE boilerplate 3-gram shared by 10^6 docs
    creates 10^12 join rows.  With max_df set, shingles whose document
    frequency exceeds it are dropped from the universe BEFORE the
    self-join (standard MinHash practice; the df cap bounds the join at
    O(n_shingles * max_df)).  Jaccard is then computed over the capped
    universe — sizes and intersections consistently exclude the dropped
    shingles.  Default None keeps the exact semantics (oracle parity for
    q24); production clustering (neardup_clusters) turns it on.

    The shingle input feeds three plan branches (sizes, both join sides);
    persisting it fills the (id, shingle) stream once — at corpus scale
    this is the materialized shingle table every self-join variant reads.
    The persist lives for the application (no unpersist path): batch
    jobs end and drop it; a long-lived service calling this over many
    inputs should spark.catalog.clearCache() between corpora.
    """
    from pyspark import StorageLevel

    if max_df is not None:
        hot = (
            shingles.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("shingle")
        )
        # anti-join against the (by construction tiny: <= rows/max_df
        # distinct values) hot set; AQE picks broadcast when it fits
        shingles = shingles.join(hot, "shingle", "left_anti")
    # fingerprint the shingle strings to int64 BEFORE the self-join:
    # the join key shrinks from a ~20-40 byte n-gram string to 8 bytes,
    # cutting shuffle volume and comparison cost roughly 3x.  Distinct
    # shingles stay distinct modulo a 2^-64 xxhash64 collision (the
    # standard shingling fingerprint step, e.g. Broder's original
    # MinHash construction); each colliding shingle pair overcounts one
    # intersection cell by 1, and the birthday bound puts the EXPECTED
    # number of colliding pairs at n_distinct^2 / 2^65 — ~0.03 at 10^9
    # distinct shingles, ~27,000 at 10^12.  Even at the top of that
    # envelope the error is +1 on ~2.7e-8 of intersection cells, far
    # below the similarity thresholds any dedup policy keys on.
    shingles = shingles.select(
        F.col(id_col), F.xxhash64("shingle").alias("shingle")
    )
    shingles = shingles.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    a = shingles.select(F.col(id_col).alias("a"), "shingle")
    b = shingles.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    if candidates is not None:
        inter = inter.join(candidates, ["a", "b"], "left_semi")
    joined = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("n").alias("nb")), "b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4),
        )
    )
    return joined.where(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """16-bit SimHash from md5-nibble majority votes over word tokens.

    bit_j(token) = bit j of the first 4 hex nibbles of md5(token);
    signature bit j = 1 iff sum over tokens >= half the token count.
    Pure arithmetic → identical in any engine.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    )
    hexdig = F.substring(F.md5("tok"), 1, 4)
    val = F.conv(hexdig, 16, 10).cast("long")
    bits = toks.select(
        id_col,
        *[F.shiftright(val, j).bitwiseAND(F.lit(1)).alias(f"b{j}") for j in range(16)],
    )
    agg = bits.groupBy(id_col).agg(
        F.count("*").alias("n"), *[F.sum(f"b{j}").alias(f"s{j}") for j in range(16)]
    )
    sig = sum(
        (
            F.when(F.col(f"s{j}") * 2 >= F.col("n"), F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(16)
        ),
        F.lit(0),
    )
    return agg.select(F.col(id_col), sig.cast("int").alias("simhash"))


def connected_components(
    edges: DataFrame, a_col: str = "a", b_col: str = "b", max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected pair graph — the
    clustering step after near-dup pair generation (every doc in a
    component is a duplicate of the others; the min id is the canonical
    representative).  Returns (v, cluster_id).

    Algorithm: iterative min-label propagation with pointer jumping —
    each round every node takes the minimum label among itself and its
    neighbors, then shortcuts ``label <- label[label]`` (the classic
    doubling step), so convergence needs O(log diameter) rounds, not
    O(diameter): max_iter=25 covers diameters up to ~2^25 even on
    pathological path-shaped graphs.  Near-dup graphs are unions of
    small quasi-cliques, so most runs converge in 2-3 rounds; at
    10^12-doc scale each round is two equi-joins + one groupBy (shuffle
    on the node id), and the driver-side loop carries only the
    converged/changed counter (never row data).

    Lineage: each round's labels are eagerly ``localCheckpoint``-ed.  A
    plain persist is NOT enough — unpersisting inside the loop leaves the
    final DataFrame's lineage referencing every round, so a downstream
    consumer would re-execute the whole iterative history as one giant
    plan.  Checkpointing truncates the lineage to the stored partitions;
    on a fault-tolerant cluster use ``spark.sparkContext.setCheckpointDir``
    + ``.checkpoint()`` instead (localCheckpoint trades HDFS durability
    for speed, which is the right call per-job).
    """
    sym = (
        edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        # label each node with the min of (own label, neighbors' labels)
        prop = sym.join(labels, sym.src == labels.v).select(
            F.col("dst").alias("v"), "label"
        )
        # checkpoint BEFORE the self-join below: truncates the round's
        # lineage as before, and sidesteps Catalyst's union-constraint
        # rewrite bug on self-joined Union plans (NoSuchElementException
        # in rewriteConstraints)
        relaxed = (
            labels.unionByName(prop)
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            relaxed.alias("n")
            .join(labels.alias("o"), "v")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        if changed == 0:
            # stable under relax == the CC fixed point; return the
            # checkpointed relax result so consumers see a clean RDD
            # scan (no residual join lineage)
            labels = relaxed
            converged = True
            break
        # pointer jump: label <- label[label].  Every label value is a
        # node id (labels start at v and only ever take mins of node
        # ids), so the mapping join is total; label[v] <= v is invariant,
        # so the jump is monotone and correctness-preserving while
        # halving the remaining propagation distance.  The jumped frame
        # only feeds the NEXT round (whose relax re-checkpoints), so
        # lineage stays flat without a second checkpoint per round.
        # The superseded round's checkpointed partitions are freed by
        # the ContextCleaner once this reference drops.
        labels = (
            relaxed.alias("x")
            .join(
                relaxed.select(
                    F.col("v").alias("lv"), F.col("label").alias("llabel")
                ),
                F.col("x.label") == F.col("lv"),
            )
            .select(F.col("x.v").alias("v"), F.col("llabel").alias("label"))
        )
    if not converged:
        # silently-partial labels would split one true component into
        # several with no signal — refuse instead (with pointer jumping
        # this needs a diameter over ~2^max_iter, i.e. never in practice)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(component diameter exceeds ~2^max_iter)"
        )
    return labels.select(F.col("v"), F.col("label").alias("cluster_id"))


def neardup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
    max_df: int = 10_000,
) -> DataFrame:
    """End-to-end dedup clustering: n-gram Jaccard pairs -> connected
    components -> one row per cluster with its canonical representative
    (min id) and size.  Returns (cluster_id, size, members array sorted).

    ``max_df`` (on by default here — this is the production entry point):
    shingles shared by more than max_df documents are boilerplate, carry
    no dedup signal, and quadratically blow up the self-join; they are
    dropped from the universe before pairing (see jaccard_pairs)."""
    pairs = jaccard_pairs(
        word_shingles(docs, id_col, text_col, n), id_col, threshold, max_df=max_df
    )
    cc = connected_components(pairs)
    return (
        cc.groupBy("cluster_id")
        .agg(
            F.count("*").alias("size"),
            F.array_sort(F.collect_list("v")).alias("members"),
        )
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 16,
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming, found
    via band splits: docs agreeing on ANY of the ``bands`` equal-width
    signature slices become candidates (equi-join on (band, value)),
    then the exact Hamming filter runs on the candidates.

    Pigeonhole guarantee: with max_hamming < bands, any pair within the
    Hamming radius differs in fewer bits than there are bands, so at
    least one band is untouched and the pair IS generated — the banded
    result exactly equals the brute-force O(n^2) Hamming join (this is
    the property the q43 oracle verifies).  Cost stays O(sum bucket^2)
    on 2^(bits/bands)-sized buckets instead of O(n^2).
    """
    from pyspark import StorageLevel

    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= bands={bands}: the banded join "
            "would silently drop in-radius pairs (pigeonhole needs one "
            "untouched band)"
        )
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    r = bits // bands
    s = simhash(docs, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash"), i * r).bitwiseAND(F.lit((1 << r) - 1))
            for i in range(bands)
        ]
    )
    banded = s.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(band_vals).alias("band", "bval"),
    )
    left = banded.select(
        F.col(id_col).alias("a"), F.col("simhash").alias("sa"), "band", "bval"
    )
    right = banded.select(
        F.col(id_col).alias("b"), F.col("simhash").alias("sb"), "band", "bval"
    )
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    return (
        left.join(right, ["band", "bval"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def boilerplate_sentences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_frac: float = 0.05,
) -> DataFrame:
    """Sentences occurring in more than ``max_doc_frac`` of documents —
    the repeated-boilerplate inventory (nav chrome, disclaimers, template
    text) a crawl-curation pass strips before training.

    Naive split on '. ' so the rule is ANSI-SQL-reproducible; counting is
    per DISTINCT doc.  Returns (sentence, n_docs)."""
    sents = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\. ")).alias("sentence"),
    ).where(F.length("sentence") > 0)
    n_docs = docs.select(id_col).distinct().count()
    return (
        sents.groupBy("sentence")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") > int(n_docs * max_doc_frac))
    )


def strip_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_frac: float = 0.05,
) -> DataFrame:
    """Remove boilerplate sentences from every document; returns
    (id, text, n_kept, n_dropped) with the surviving ORIGINAL-cased
    sentences rejoined (lowercasing applies only to the comparison key —
    a curation pass must not rewrite the corpus it is cleaning).

    The boilerplate set is an aggregation over the corpus itself (a few
    thousand distinct repeated sentences even at crawl scale) — broadcast
    back against the exploded sentence stream, dropped via left_anti, and
    documents reassembled order-preserving via the sentence position.
    n_dropped derives from per-doc totals (n_all - n_kept) so the
    exploded stream is joined once, not twice.

    Documents whose sentences are ALL boilerplate (or that split to no
    non-empty sentences) are still emitted, with text='' and n_kept=0 —
    a curation pass must never lose doc_ids silently; callers count
    removals via n_kept=0 rather than diffing id sets."""
    bp = boilerplate_sentences(docs, id_col, text_col, max_doc_frac)
    sents = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\. ")).alias(
            "pos", "sentence"
        ),
    ).where(F.length("sentence") > 0)
    kept = sents.join(
        F.broadcast(bp.select("sentence").withColumnRenamed("sentence", "_bpkey")),
        F.lower(sents.sentence) == F.col("_bpkey"),
        "left_anti",
    )
    totals = docs.select(
        F.col(id_col),
        F.size(
            F.filter(
                F.split(F.trim(F.col(text_col)), r"\. "),
                lambda x: F.length(x) > 0,
            )
        ).alias("_n_all"),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("pos", "sentence"))).sentence,
            ". ",
        ).alias(text_col),
        F.count("*").alias("n_kept"),
    )
    # totals covers EVERY input doc — the left join keeps fully-stripped
    # documents (no surviving sentence groups) in the output
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            (F.col("_n_all") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def contaminated_docs(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    n: int = 5,
) -> DataFrame:
    """Decontamination scan: documents sharing any word n-gram with a
    benchmark/eval text must be flagged (and typically dropped) before
    training.  Returns (doc_id, bench_id, n_shared) per contaminated
    pair.

    The benchmark side is tiny (eval sets are thousands of rows) — its
    shingle set broadcasts, so the corpus-side scan is one narrow pass +
    an equi-join on the shingle; never a doc x benchmark product."""
    doc_sh = word_shingles(docs, id_col, text_col, n)
    bench_sh = word_shingles(
        benchmark.select(F.col(bench_id_col).alias("_bid"), F.col(text_col)),
        "_bid",
        text_col,
        n,
    )
    return (
        doc_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(F.col(id_col), F.col("_bid").alias(bench_id_col))
        .agg(F.count("*").alias("n_shared"))
    )
