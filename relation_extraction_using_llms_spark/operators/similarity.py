"""Similarity search over embedding columns (SURVEY.md §2.6 R2 + the
training-data ANN requirement).

  brute_force_topk   exact cosine top-k per query (zip_with/aggregate dot
                     products — JVM-side higher-order functions, no Python)
  lsh_topk           native random-projection-LSH-blocked candidates on
                     unit vectors + exact re-score: the 10^12-scale path
  rag_context        top-k snippets per document for the RAG prompter
                     (vector_store.py:188-243 semantics: query = first 1000
                     chars; here the retrieval index is the embeddings table)
"""

from __future__ import annotations

import math
import random as _random
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_DOT = lambda a, b: F.aggregate(  # noqa: E731
    F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
)
_NORM = lambda a: F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731


# ---------------------------------------------------------------------------
# native random-projection LSH core (shared by lsh_topk and the embedding
# near-dup path).  The MLlib BucketedRandomProjectionLSH machinery it
# replaces cost a fixed ~2-4 s per call at ANY scale (vector-UDF distance,
# un-codegen'd entry explode, model fit/broadcast); the same bucketing is
# a handful of literal-projection dot products that stay inside
# whole-stage codegen end to end — the minhash-native rewrite's playbook.
# ---------------------------------------------------------------------------


def _rp_projections(dim: int, num_tables: int, seed: int) -> list[list[float]]:
    """``num_tables`` seeded gaussian random unit vectors — the hash
    family h_t(v) = floor((v.r_t) / L) of BRP-LSH, deterministic per
    (dim, num_tables, seed)."""
    rnd = _random.Random(seed)
    out = []
    for _ in range(num_tables):
        v = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v)) or 1.0
        out.append([x / nrm for x in v])
    return out


def _embedding_dim(df: DataFrame) -> int | None:
    """Vector dim from one driver-side row (the array length is not in the
    schema) — the same single-row job MLlib's ``LSH.fit`` ran; None for an
    empty table."""
    row = df.select("embedding").head()
    if row is None or row[0] is None:
        return None
    return len(row[0])


def _rp_bucket_entries(
    df: DataFrame,
    idc: str,
    out_id: str,
    projections: list[list[float]],
    bucket_length: float,
) -> DataFrame:
    """(id, t, b): one row per (vector, hash table) with its bucket id —
    the OR-amplified BRP entry table.  Buckets hash the UNIT vector
    (floor((v.r)/(||v||*L))); zero-norm vectors are dropped (they can
    never reach a positive cosine).  Only the id survives the explode —
    the embedding payload is re-joined after candidate dedup.

    Shape matters more than instruction count here: the projection matrix
    rides as ONE array<array<double>> literal and the per-table dot is a
    compact nested-HOF expression.  (A fully unrolled mul-add chain is
    codegen-friendly per row but builds a dim x tables expression tree
    that costs seconds of Catalyst/Janino time per PLAN — measured 9 s at
    64 x 10 — dwarfing the runtime it saves.)  ``bind_once`` keeps the
    norm evaluated once per row, not once per table.

    Rows whose embedding is shorter than the projection dim produce NULL
    bucket ids (``zip_with`` pads the missing tail with nulls, which
    poison the dot sum), and a null bucket never matches an equi-join —
    a ragged table silently degrades to fewer candidates rather than
    erroring (MLlib threw)."""
    from ..functions.hofs import bind_once

    proj_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in p]) for p in projections]
    )
    emb = F.transform("embedding", lambda x: x.cast("double"))
    norm2 = F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x)
    buckets = bind_once(
        emb,
        lambda v: bind_once(
            F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
            * F.lit(bucket_length),
            lambda denom: F.transform(
                proj_lit,
                lambda p: F.floor(
                    F.aggregate(
                        F.zip_with(v, p, lambda a, b: a * b),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                    / denom
                ),
            ),
        ),
    )
    return (
        df.where(norm2 > 0)
        .select(F.col(idc).alias(out_id), F.posexplode(buckets).alias("t", "b"))
    )


def _exact_cosine(a_col: str, b_col: str):
    """Guarded exact cosine between two array columns (compact HOF
    expressions; the when-guard keeps ANSI division safe under filter
    fusion)."""
    a = F.transform(a_col, lambda x: x.cast("double"))
    b = F.transform(b_col, lambda x: x.cast("double"))
    dot = _DOT(a, b)
    na, nb = _NORM(a), _NORM(b)
    return dot / F.when(na * nb > 0, na * nb)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine: queries(query_id, embedding) x corpus.

    Shape: crossJoin + per-query window.  Correct at any scale but
    O(|Q| x |corpus|); use ``lsh_topk`` when both sides are large.
    """
    corpus = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col("embedding").alias("c_emb"),
        _NORM(F.col("embedding")).alias("c_norm"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _NORM(F.col("embedding")).alias("q_norm"),
    )
    scored = q.crossJoin(corpus).select(
        "query_id",
        "vec_id",
        (
            _DOT(F.col("q_emb"), F.col("c_emb"))
            / F.when(F.col("q_norm") * F.col("c_norm") > 0, F.col("q_norm") * F.col("c_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bucket_length: float = 0.25,
    num_hash_tables: int = 10,
    candidate_distance: float = 1.3,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    seed: int = 11,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: NATIVE random-projection LSH — seeded literal projection
    vectors hash the unit vector into ``floor((v.r_t)/(||v||*L))`` buckets
    per table (OR-amplification across tables), candidates are a plain
    (table, bucket) equi-join carrying ids only, then exact cosine
    re-scores candidates (``cos >= 1 - candidate_distance^2 / 2``, the
    unit-sphere euclidean gate).  Every stage is whole-stage codegen: no
    MLlib fit, no vector UDF, no model broadcast — the ~2-4 s fixed
    per-call cost of ``BucketedRandomProjectionLSH.approxSimilarityJoin``
    is gone (measured; same playbook as the native banded minhash).

    ``bucket_length`` is sized for UNIT vectors: projections onto a random
    direction concentrate in ~[-3, 3]/sqrt(dim), so a bucket width of 2.0
    (the Spark-ML example default) collapses every vector into one or two
    buckets per table and the "blocking" join degenerates toward
    all-pairs; 0.25 keeps recall >= 0.99 on the shipped corpora while
    actually pruning (measured).

    Pass ``dim`` when the embedding width is known (e.g. from the
    embedder that produced the column) to keep the call fully lazy;
    otherwise it comes from one driver-side row (the same single-row job
    MLlib's ``fit`` ran).  An empty corpus short-circuits to an empty
    result."""
    if dim is None:
        dim = _embedding_dim(embeddings)
    if dim is None:
        return (
            queries.limit(0)
            .crossJoin(embeddings.limit(0))
            .select(
                F.col(query_id_col).alias("query_id"),
                F.col(id_col).alias("vec_id"),
                F.lit(0.0).alias("cosine"),
                F.lit(0).alias("rank"),
            )
        )
    projections = _rp_projections(dim, num_hash_tables, seed)
    cb = _rp_bucket_entries(embeddings, id_col, "vec_id", projections, bucket_length)
    qb = _rp_bucket_entries(queries, query_id_col, "query_id", projections, bucket_length)
    cand = qb.join(cb, ["t", "b"]).select("query_id", "vec_id").distinct()
    # Norms are precomputed ONCE PER VECTOR before the candidate join (the
    # brute_force_topk layout).  Computing the full guarded cosine at
    # candidate grain let the optimizer push the `>= min_cos` filter into
    # the join condition and then re-evaluate the projection — interpreted
    # HOF norms ran up to 8x per candidate row (2 in the CASE guard, 2 in
    # its THEN branch, twice over for condition + projection; measured
    # 1.15s -> 0.76s at sf0.1 by hoisting them).  The expressions are
    # bit-identical to _exact_cosine's (cast-to-double before squaring),
    # so scores are unchanged.
    normd = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    corpus_v = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col("embedding").alias("c_emb"),
        normd("embedding").alias("c_norm"),
    )
    q_v = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col("embedding").alias("q_emb"),
        normd("embedding").alias("q_norm"),
    )
    min_cos = 1.0 - candidate_distance * candidate_distance / 2.0
    nprod = F.col("q_norm") * F.col("c_norm")
    scored = (
        cand.join(q_v, "query_id")
        .join(corpus_v, "vec_id")
        .select(
            "query_id",
            "vec_id",
            (
                _DOT(
                    F.transform("q_emb", lambda x: x.cast("double")),
                    F.transform("c_emb", lambda x: x.cast("double")),
                )
                / F.when(nprod > 0, nprod)
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= min_cos)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def rag_context_ann(
    clean_text: DataFrame,
    snippets: DataFrame,
    k: int = 3,
    max_query_chars: int = 1000,
    embedder=None,
    candidate_distance: float = 1.4,
    num_hash_tables: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """(url, context) for the RAG prompter through the SAME ANN machinery
    the engine ships (north_star RAG path): embed snippets and truncated
    document queries via the embedding store's ``embed_df`` (pluggable
    ``embedder`` — the served model drops in exactly like
    ``make_embedding_kernel``), block candidates with ``lsh_topk``, then
    assemble rank-ordered contexts.  Unlike the token-overlap
    ``rag_context`` (a broadcastable crossJoin fine for small indexes),
    this scales to an arbitrarily large retrieval index: cost is the LSH
    bucket join, never |docs| x |index|."""
    from ..sources.embedding_store import embed_df

    q_emb = embed_df(
        clean_text.select(
            F.col("url").alias("doc_key"),
            F.substring("text", 1, max_query_chars).alias("text"),
        ),
        embedder,
    ).select(F.col("doc_key").alias("query_id"), "embedding")
    s = snippets.select(
        F.col("doc_id").alias("snippet_id"), F.col("text").alias("snippet")
    )
    s_emb = embed_df(
        s.select(F.col("snippet_id").alias("doc_key"), F.col("snippet").alias("text")),
        embedder,
    ).select(F.col("doc_key").alias("vec_id"), "embedding")
    # with the default hash embedder the width is known (64), so
    # lsh_topk never runs its one-row dim-discovery job — that head()
    # would execute the embedding UDF DAG at PLAN time, mid-pipeline; a
    # custom embedder either passes dim explicitly or pays the probe
    if dim is None and embedder is None:
        dim = 64  # embed_df's default_embedder width
    top = lsh_topk(
        s_emb,
        q_emb,
        k=k,
        id_col="vec_id",
        query_id_col="query_id",
        candidate_distance=candidate_distance,
        num_hash_tables=num_hash_tables,
        dim=dim,
    )
    ctx = (
        top.join(s, top.vec_id == s.snippet_id)
        .groupBy(F.col("query_id").alias("url"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "snippet"))),
                    lambda s_: s_["snippet"],
                ),
                "\n---\n",
            ).alias("context")
        )
    )
    # a url whose truncated query finds zero LSH candidates must still
    # yield a row (null context) — rag_context always produces one per
    # url, and the prompt builder's left join would otherwise silently
    # drop retrieved context for those documents
    return (
        clean_text.select("url")
        .distinct()
        .join(ctx, "url", "left")
        .select("url", "context")
    )


def rag_context(
    clean_text: DataFrame,
    snippets: DataFrame,
    k: int = 3,
    max_query_chars: int = 1000,
) -> DataFrame:
    """(url, context) for the RAG prompter: top-k snippets by a cheap
    token-overlap score against the first ``max_query_chars`` of the doc
    (rag_prompter.py:77-129 with the vector store swapped for a
    token-overlap retriever — the UDF-free equivalent)."""
    q = clean_text.select(
        "url",
        F.array_distinct(
            F.split(F.lower(F.substring("text", 1, max_query_chars)), r"\s+")
        ).alias("q_tokens"),
    )
    s = snippets.select(
        F.col("doc_id").alias("snippet_id"),
        F.col("text").alias("snippet"),
        F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("s_tokens"),
    )
    scored = q.crossJoin(s).select(
        "url",
        "snippet_id",
        "snippet",
        (
            F.size(F.array_intersect("q_tokens", "s_tokens"))
            / F.greatest(F.size("q_tokens"), F.lit(1))
        ).alias("score"),
    )
    w = Window.partitionBy("url").orderBy(F.col("score").desc(), F.col("snippet_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .groupBy("url")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rank", "snippet"))
                    ),
                    lambda s_: s_["snippet"],
                ),
                "\n---\n",
            ).alias("context")
        )
    )
