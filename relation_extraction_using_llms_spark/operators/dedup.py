"""Deduplication operators over the ``documents`` table.

Large-scale training-data pipeline primitives (graded alongside SURVEY §2):

  exact          hash-groupBy on full text (one shuffle, map-side combinable)
  prefix         near-exact via leading-token fingerprint
  ngram_jaccard  exact n-gram Jaccard pairs via shared-shingle equi-join
                 (no cross join — candidate pairs only exist where shingles
                 collide; hot shingles capped)
  minhash_lsh    MinHashLSH banding for the 10^12-scale approximate path
  embedding      cosine near-dup pairs over the embeddings table

Exact variants have DuckDB-oracle twins in __spark_entry__; approximate
variants are verified by containment tests against the exact output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hofs import bind_once as _let


def exact_duplicates(documents: DataFrame) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_docs, canonical_doc_id).
    Canonical = min doc_id (stable)."""
    return (
        documents.select("doc_id", F.md5(F.col("text")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def prefix_duplicates(documents: DataFrame, n_tokens: int = 8) -> DataFrame:
    """Near-exact groups keyed by the first ``n_tokens`` whitespace tokens."""
    prefix = F.array_join(
        F.slice(F.split(F.trim("text"), r"\s+"), 1, n_tokens), " "
    )
    return (
        documents.select("doc_id", F.md5(prefix).alias("prefix_hash"))
        .groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def _shingles(n: int):
    """Word n-gram shingle array from text (distinct)."""
    tokens = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    return _let(
        tokens,
        lambda t: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
                lambda i: F.array_join(F.slice(t, i + 1, n), " "),
            )
        ),
    )


def _shingle_hashes(n: int):
    """64-bit hashes of word n-gram shingles, built straight from the
    token array (no n-gram string construction): one xxhash64 over the
    n member tokens per shingle.  The minhash space is defined by this
    hash, so skipping the join-to-string is free fidelity-wise (and,
    unlike string joining, token boundaries stay distinguishable)."""
    tokens = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # docs shorter than n tokens get ONE hash over the whole token array
    # (mirrors _shingles' single degenerate shingle); indexing past the
    # array with element_at would raise under ANSI mode
    return _let(
        tokens,
        lambda t: F.when(
            F.size(t) >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(t) - n),
                    lambda i: F.xxhash64(
                        *[F.element_at(t, i + k + 1) for k in range(n)]
                    ),
                )
            ),
        ).otherwise(F.array(F.xxhash64(F.array_join(t, " ")))),
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_docs_per_shingle: int = 200,
) -> DataFrame:
    """Exact n-gram-Jaccard duplicate pairs (doc_a < doc_b, jaccard >= t).

    Plan shape: explode distinct shingles -> self equi-join on shingle ->
    count shared -> |A∪B| = |A|+|B|-shared.  The equi-join only creates
    rows for colliding shingles, so cost tracks true similarity structure,
    not |docs|^2.  Shingles shared by more than ``max_docs_per_shingle``
    docs are dropped (stop-phrase guard — the standard skew cap; any pair
    above threshold shares rarer shingles too)."""
    from ..functions.partitioning import widen_degenerate_scan

    sh = widen_degenerate_scan(documents).select(
        "doc_id", F.explode(_shingles(n)).alias("shingle")
    )
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_docs_per_shingle)
        .select("shingle")
    )
    sh = sh.join(hot, "shingle", "left_anti")
    # sizes AFTER the hot-shingle filter: numerator and denominator share one
    # shingle universe (Jaccard over the kept set), matching the SQL oracle
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # merge-hint: identical shuffle plans on both self-join sides let
    # ReuseExchange compute the explode + hot-filter pipeline once (a
    # broadcast build side would re-execute it; see minhash_lsh_pairs)
    pairs = (
        sh.alias("a").hint("merge")
        .join(sh.alias("b").hint("merge"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    jaccard_threshold: float = 0.5,
    max_docs_per_bucket: int | None = 1000,
) -> DataFrame:
    """Approximate duplicate pairs via native banded MinHash
    (shingle -> xxhash64 -> per-band min-hash signature -> band equi-join
    -> exact Jaccard on the hashed shingle sets).  The scale path for the
    same question ``ngram_jaccard_pairs`` answers exactly: candidate
    generation is O(docs x bands), never all-pairs.

    Everything is whole-stage-codegen DataFrame expressions — no MLlib
    estimator, no fit, no driver state, no per-pair JVM UDF:

      * signature[i] = min over shingle-hashes h of xxhash64(h, i) — the
        classic k independent min-hash permutations, seeded by the band
        index, computed by nested higher-order functions
      * candidates = docs agreeing on ANY of the ``num_hashes`` bands
        (r=1 banding — the same OR-amplified recall curve as Spark ML's
        ``MinHashLSH(numHashTables=k)``: P(miss) = (1-j)^k)
      * verification = EXACT Jaccard via ``array_intersect`` over the
        64-bit-hashed shingle sets (collision odds ~|shingles|^2 / 2^64,
        negligible — tighter than a 2^20 feature space)

    ``max_docs_per_bucket`` drops band buckets larger than the cap — the
    skew guard for web-scale corpora where a boilerplate signature could
    bucket millions of docs and make the self-join quadratic IN THE
    BUCKET.  It defaults ON (1000: ≤ ~500k candidate rows per hot
    bucket) so the public API is safe-by-default at 100 TB; collapse
    byte-identical texts with ``exact_duplicates`` FIRST.  A capped
    bucket only loses pairs whose EVERY shared band is boilerplate-hot,
    mirroring the ``ngram_jaccard_pairs`` stop-phrase guard; pass
    ``max_docs_per_bucket=None`` for exhaustive banding (and to audit
    what a cap would drop)."""
    # the shingle hashing + banding below run in the SCAN stage; a
    # single-row-group input would execute them on one core (guide §2.5:
    # repartition straight after a degenerate read — no-op on
    # well-partitioned tables)
    from ..functions.partitioning import widen_degenerate_scan

    documents = widen_degenerate_scan(documents)
    hashed = documents.select(
        "doc_id", _shingle_hashes(n).alias("hs")
    ).where(F.size("hs") > 0)
    # band index explodes FIRST, one min-hash per (doc, band) row.  The
    # alternative — build all k signatures in one nested higher-order
    # expression, then posexplode — is a trap: HOFs run interpreted (no
    # codegen, no common-subexpression elimination), and CollapseProject
    # inlines the whole shingle pipeline into every band lambda AND both
    # self-join sides (measured 131s vs ~7s on 5k docs).  A Generate is a
    # projection-collapse barrier, so here ``hs`` is computed once per doc
    # and each band row evaluates a single flat transform.
    banded = (
        hashed.select(
            "doc_id",
            "hs",
            F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("band"),
        )
        .select(
            "doc_id",
            "band",
            F.array_min(
                F.transform("hs", lambda h: F.xxhash64(h, F.col("band")))
            ).alias("bsig"),
        )
    )
    if max_docs_per_bucket is not None:
        # window count, NOT groupBy+anti-join: the filter pre-shuffles on
        # the self-join key and keeps both join sides IDENTICAL plans, so
        # ReuseExchange computes the signature pipeline once — a separate
        # hot-bucket aggregation is a different subplan and forced a full
        # extra signature pass (measured +1.5s at sf0.1).
        bw = Window.partitionBy("band", "bsig")
        banded = (
            banded.withColumn("_df", F.count(F.lit(1)).over(bw))
            .where(F.col("_df") <= max_docs_per_bucket)
            .drop("_df")
        )
    # merge-hint the self-join: left free, Catalyst picks a broadcast join
    # at small input sizes, and a broadcast build side is a SEPARATE
    # subplan — the whole signature pipeline (shingle hash explode +
    # window cap) executes twice, once per side.  A shuffle join makes
    # both sides byte-identical Exchanges, so ReuseExchange computes the
    # pipeline ONCE (measured 1.38s -> 1.19s at sf0.1); at web scale a
    # broadcast of one side of a self-join is wrong anyway (build side ==
    # the whole dataset), so the hint is the scale-correct choice too.
    cand = (
        banded.alias("a").hint("merge")
        .join(banded.alias("b").hint("merge"), ["band", "bsig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # shingle-hash sets join back at PAIR grain (two equi-joins) instead of
    # riding the banded explode — candidate rows are few, so the fat arrays
    # cross the shuffle twice total, not once per band
    with_sets = cand.join(
        hashed.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("ha")),
        "doc_a",
    ).join(
        hashed.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hb")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.size("ha") + F.size("hb") - inter
    return (
        with_sets.select(
            "doc_a",
            "doc_b",
            (inter / union).alias("jaccard_est"),
        )
        .where(F.col("jaccard_est") >= jaccard_threshold)
    )


def _passage_windows(documents: DataFrame, window: int) -> DataFrame:
    """(doc_id, passage_hash, passage): every ``window``-token rolling
    window per document, md5-fingerprinted.  Tokens are bound once per
    doc (``bind_once`` — the interpreted-HOF collapse trap); docs shorter
    than ``window`` contribute nothing (Spark's ``sequence(0, negative)``
    would count DOWN, so the guard matters)."""
    from ..functions.partitioning import widen_degenerate_scan

    tokens = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    windows = _let(
        tokens,
        lambda t: F.when(
            F.size(t) >= window,
            F.transform(
                F.sequence(F.lit(0), F.size(t) - window),
                lambda i: F.array_join(F.slice(t, i + 1, window), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return widen_degenerate_scan(documents).select(
        "doc_id", F.explode(windows).alias("passage")
    ).select("doc_id", F.md5("passage").alias("passage_hash"), "passage")


def repeated_passages(
    documents: DataFrame,
    window: int = 32,
    min_docs: int = 2,
    max_occurrences_per_passage: int | None = 100_000,
) -> DataFrame:
    """Passage-level (sub-document) duplication: every ``window``-token
    rolling window is fingerprinted (md5 over the joined tokens — an
    external-oracle-friendly hash) and windows shared across >=
    ``min_docs`` documents are reported with their document and
    occurrence counts.  The standard boilerplate/quoted-passage detector
    for training corpora — document-grain dedup (exact/minhash
    above) cannot see a duplicated paragraph inside otherwise-distinct
    pages.

    Plan shape: tokens bound once per doc (``bind_once`` — the
    interpreted-HOF collapse trap), window explode, ONE map-side
    combinable groupBy on the fingerprint.  Docs shorter than ``window``
    contribute nothing (they cannot contain a full window; Spark's
    ``sequence(0, negative)`` would count DOWN, so the guard matters).
    ``max_occurrences_per_passage`` truncates the count for a
    pathological passage (pure safety valve on the returned count, not a
    grouping cap — the aggregation itself is a count, never a collect).

    Returns (passage_hash, n_docs, n_occurrences, sample_doc_id,
    sample_text)."""
    exploded = _passage_windows(documents, window)
    agg = (
        exploded.groupBy("passage_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("sample_doc_id"),
            F.min("passage").alias("sample_text"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
    if max_occurrences_per_passage is not None:
        agg = agg.withColumn(
            "n_occurrences",
            F.least(F.col("n_occurrences"), F.lit(max_occurrences_per_passage)),
        )
    return agg


def contaminated_docs(
    documents: DataFrame,
    eval_texts: DataFrame,
    window: int = 13,
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """Benchmark decontamination: training documents sharing any
    ``window``-token passage with an evaluation set (the n-gram-overlap
    contamination check used by LM training pipelines; 13 tokens is the
    commonly published window).  ``eval_texts`` is (eval_id, text).

    Plan shape: both sides explode to md5 window fingerprints; the
    CORPUS side reduces to distinct (doc_id, passage_hash) BEFORE the
    join and the EVAL side (tiny: benchmarks are thousands of rows, the
    corpus is billions) reduces to distinct hashes — so the join is a
    broadcast-able semi-style equi-join keyed on the fingerprint and the
    output aggregates per (doc_id, eval_id).  A hit lists which doc
    overlaps which eval item with how many distinct shared windows —
    enough to drop or audit.

    Returns (doc_id, eval_id, n_shared_windows, sample_passage)."""
    corpus_w = (
        _passage_windows(documents, window)
        .select("doc_id", "passage_hash")  # the passage STRING stays on
        .dropDuplicates(["doc_id", "passage_hash"])  # the tiny eval side
    )
    eval_w = (
        _passage_windows(
            eval_texts.select(F.col(eval_id_col).alias("doc_id"), "text"),
            window,
        )
        .select(
            F.col("doc_id").alias("eval_id"), "passage_hash", "passage"
        )
        .dropDuplicates(["eval_id", "passage_hash"])
    )
    return (
        corpus_w.join(eval_w, "passage_hash")
        .groupBy("doc_id", "eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_shared_windows"),
            F.min("passage").alias("sample_passage"),
        )
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    method: str = "auto",
    max_exact_rows: int = 200_000,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs.

    ``method="exact"`` is the all-pairs crossJoin twin (the DuckDB-oracled
    reference semantics — O(n^2), fine to ~10^5 rows).  ``method="lsh"`` is
    the scale path: random-projection LSH blocking on unit vectors + exact
    cosine on candidates only.  The default ``"auto"`` routes from
    OPTIMIZER STATISTICS — the routing decision itself is never a job.
    The exact path is taken only on a CONFIDENT small estimate (exact
    counts, or the byte-floor bound over a scan-shaped plan, which can
    only overshoot — see ``planstats.estimated_rows``); an unconfident
    estimate (e.g. a live UDF DAG, whose child-derived sizeInBytes can
    undershoot arbitrarily) always routes to the scale-safe LSH blocking,
    so the public API is never an accidental 10^12-row crossJoin.
    Because LSH recall is < 1, that switch is surfaced as a warning —
    callers needing exhaustive pairs must pin ``method="exact"``.

    Pass ``dim`` (the embedding width) to keep the LSH branch fully lazy;
    without it, building the LSH plan discovers the width from one
    driver-side row — a limit-1 job over the upstream plan (mirrors
    ``lsh_topk``'s ``dim=`` passthrough)."""
    if method == "auto":
        from ..functions.planstats import estimated_rows

        est, confident = estimated_rows(embeddings)
        if confident and est is not None and est <= max_exact_rows:
            method = "exact"
        else:
            import warnings

            reason = (
                f"estimated row bound ({est}) exceeds {max_exact_rows}"
                if confident
                else "row-count estimate is not trustworthy for this "
                "plan shape (non-scan input, e.g. a live UDF DAG)"
            )
            warnings.warn(
                f"embedding_near_dup_pairs: {reason}; auto-routing to "
                "approximate LSH blocking (recall < 1). Pass "
                "method='exact' to force exhaustive all-pairs, or "
                "method='lsh' to silence this warning.",
                stacklevel=2,
            )
            method = "lsh"
    if method == "lsh":
        return _embedding_near_dup_lsh(embeddings, threshold, id_col, dim=dim)

    def with_norm(df, suffix):
        return df.select(
            F.col(id_col).alias(f"id_{suffix}"),
            F.col("embedding").alias(f"e_{suffix}"),
            F.sqrt(
                F.aggregate(
                    "embedding", F.lit(0.0), lambda acc, x: acc + x * x
                )
            ).alias(f"n_{suffix}"),
        )

    a, b = with_norm(embeddings, "a"), with_norm(embeddings, "b")
    dot = F.aggregate(
        F.zip_with("e_a", "e_b", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            F.col("id_a").alias("vec_a"),
            F.col("id_b").alias("vec_b"),
            (dot / (F.col("n_a") * F.col("n_b"))).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def _embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float,
    id_col: str,
    bucket_length: float = 0.25,
    num_hash_tables: int = 10,
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """LSH-blocked near-dup pairs on the NATIVE random-projection core
    (see ``similarity._rp_bucket_entries``): bucket the unit vectors with
    seeded literal projections, self-join (table, bucket) carrying ids
    only, dedup candidate pairs, exact-cosine re-score ``>= threshold``.
    All whole-stage codegen — the MLlib approxSimilarityJoin this replaces
    paid a fixed ~2-4 s per call (vector UDF distance + un-codegen'd
    entry join).  Zero-norm embeddings are excluded (a zero vector can
    never reach a positive cosine threshold).  Pass ``dim`` to skip the
    one-row width-discovery job (see ``lsh_topk``)."""
    from .similarity import (
        _embedding_dim,
        _exact_cosine,
        _rp_bucket_entries,
        _rp_projections,
    )

    if dim is None:
        dim = _embedding_dim(embeddings)
    if dim is None:
        return (
            embeddings.limit(0)
            .select(
                F.col(id_col).alias("vec_a"),
                F.col(id_col).alias("vec_b"),
                F.lit(0.0).alias("cosine"),
            )
        )
    projections = _rp_projections(dim, num_hash_tables, seed)
    b = _rp_bucket_entries(embeddings, id_col, "vid", projections, bucket_length)
    # merge-hint: self-join sides are the same bucket-entry pipeline —
    # a shuffle join reuses one Exchange instead of recomputing the
    # projection hashing for a broadcast build side (see minhash_lsh_pairs)
    cand = (
        b.select("t", "b", F.col("vid").alias("vec_a")).hint("merge")
        .join(
            b.select("t", "b", F.col("vid").alias("vec_b")).hint("merge"),
            ["t", "b"],
        )
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    v = embeddings.select(F.col(id_col).alias("vid"), "embedding")
    return (
        cand.join(
            v.select(F.col("vid").alias("vec_a"), F.col("embedding").alias("e_a")),
            "vec_a",
        )
        .join(
            v.select(F.col("vid").alias("vec_b"), F.col("embedding").alias("e_b")),
            "vec_b",
        )
        .select(
            "vec_a", "vec_b", _exact_cosine("e_a", "e_b").alias("cosine")
        )
        .where(F.col("cosine") >= threshold)
    )


def duplicate_clusters(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """Close any pair relation into clusters and elect one keeper per
    cluster: ``pairs(doc_a, doc_b)`` from ANY generator in this module
    -> ``(doc_id, cluster_id, keep)`` over the WHOLE corpus.

    Near-dup "pairs" are not transitive (A~B, B~C but A!~C), yet a dedup
    decision must be: keeping both A and C because they never paired
    directly still leaves B's duplicates in the corpus twice.  The
    standard closure is connected components over the pair graph
    (canonicalize.connected_components — iterated hash-to-min, O(log n)
    groupBy+join rounds); cluster_id = min doc_id of the component,
    keeper = the cluster id itself.  Docs in no pair are their own
    singleton cluster (left join + coalesce, no shuffle of the corpus
    beyond the join).

    Scale: the CC input is only the PAIRED docs (bounded by the capped
    pair generators, a small fraction of the corpus); the corpus-wide
    left join against that small mapping is broadcastable by AQE.
    """
    from .canonicalize import connected_components

    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cc = connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )
    return (
        documents.select("doc_id")
        .join(cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


def dedup_corpus(documents: DataFrame, pairs: DataFrame) -> DataFrame:
    """The deduplicated corpus: documents filtered to cluster keepers
    (min doc_id per connected component of ``pairs``).  Same columns as
    ``documents``."""
    keepers = duplicate_clusters(documents, pairs).where(F.col("keep"))
    return documents.join(keepers.select("doc_id"), "doc_id", "left_semi")
