"""Validity of the approximate / scale-path operators against their exact
counterparts, plus connected-components correctness on adversarial graphs."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_connected_components_chain_and_star(spark):
    from relation_extraction_using_llms_spark.operators.canonicalize import (
        connected_components,
    )

    # chain a0-a1-...-a9 (worst case for label propagation), star s-h1..h5,
    # two singleton-ish pairs
    edges = (
        [(f"a{i}", f"a{i+1}") for i in range(9)]
        + [("s", f"h{i}") for i in range(5)]
        + [("x1", "x2"), ("y1", "y2")]
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    comp = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert len({comp[f"a{i}"] for i in range(10)}) == 1
    assert comp["a0"] == "a0"
    assert len({comp["s"], *[comp[f"h{i}"] for i in range(5)]}) == 1
    assert comp["x1"] == comp["x2"] and comp["y1"] == comp["y2"]
    assert comp["x1"] != comp["y1"]


def test_canonical_mapping_groups_shared_forms(spark):
    from relation_extraction_using_llms_spark.operators.canonicalize import (
        canonical_mapping,
    )

    rows = [
        ("E1", ["abc", "shared"]),
        ("E2", ["shared", "def"]),
        ("E3", ["def"]),
        ("E4", ["zzz"]),
    ]
    cat = spark.createDataFrame(rows, "entity_id string, exact_forms array<string>")
    m = {r["entity_id"]: r["canonical_id"] for r in canonical_mapping(cat).collect()}
    # E1-E2 share 'shared', E2-E3 share 'def' -> one component
    assert m["E1"] == m["E2"] == m["E3"] == "E1"
    assert "E4" not in m  # singleton: no alias edges, identity downstream


def test_minhash_candidates_cover_exact_pairs(spark, sf_dir):
    from relation_extraction_using_llms_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.6).collect()
    }
    approx = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, n=3, jaccard_threshold=0.5).collect()
    }
    assert exact, "corpus should contain near-duplicate pairs at 0.6"
    missed = exact - approx
    # LSH at a lower threshold must recover (nearly) all exact pairs
    assert len(missed) / len(exact) <= 0.05, (len(missed), len(exact))


def test_lsh_topk_recall_vs_brute_force(spark, sf_dir):
    from relation_extraction_using_llms_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10).collect()
    approx = lsh_topk(emb, queries, k=10).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_embedding_near_dup_lsh_matches_exact(spark, sf_dir):
    """The LSH-blocked embedding dedup path recovers the exact all-pairs
    result at high threshold, and auto-routing picks the exact twin on
    small inputs (identical output)."""
    from relation_extraction_using_llms_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(emb, 0.9, method="exact").collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(emb, 0.9, method="lsh").collect()
    }
    auto = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(emb, 0.9).collect()
    }
    assert auto == exact  # small input -> exact twin
    assert lsh <= exact  # blocking can only lose pairs, never invent
    if exact:
        assert len(lsh) / len(exact) >= 0.9, (len(lsh), len(exact))


def test_ngram_jaccard_hot_shingle_denominator(spark):
    """Jaccard uses the post-hot-filter shingle universe for BOTH the
    shared count and the per-doc sizes (the oracle's kept-set semantics)."""
    from relation_extraction_using_llms_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    rows = [(1, "a b c d e f"), (2, "a b c d e g")] + [
        (i, "a b c") for i in range(3, 213)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # shingle 'a b c' is shared by 212 docs > 200 -> dropped; kept sets are
    # {bcd,cde,def} vs {bcd,cde,deg}: jaccard = 2/(3+3-2) = 0.5.
    # Pre-filter sizes (4,4) would give 2/6 = 0.333 and miss the 0.4 cut.
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, n=3, threshold=0.4, max_docs_per_shingle=200
        ).collect()
    }
    assert pairs.get((1, 2)) == 0.5


def test_zero_norm_embeddings_excluded_not_null(spark):
    """Zero-norm embeddings must be dropped before L2 normalization in every
    LSH path (x / NULL would poison the feature arrays), never crash."""
    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )
    from relation_extraction_using_llms_spark.operators.similarity import lsh_topk

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0]), (4, [0.9, 0.1, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_dup_pairs(emb, threshold=0.9, method="lsh").collect()
    ids = {(r["vec_a"], r["vec_b"]) for r in pairs}
    assert (0, 2) in ids
    assert all(1 not in p for p in ids)
    q = emb.select(F.col("vec_id").alias("query_id"), "embedding")
    lsh = lsh_topk(emb, q, k=3).collect()
    assert all(r["vec_id"] != 1 and r["query_id"] != 1 for r in lsh)
    assert all(r["cosine"] is not None for r in lsh)


def test_embedding_auto_routing_warns_on_lsh(spark):
    """auto -> LSH silently reduces recall; the switch must warn."""
    import warnings

    from relation_extraction_using_llms_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = spark.range(40).selectExpr(
        "id AS vec_id", "array(cast(id AS double), 1.0) AS embedding"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        embedding_near_dup_pairs(emb, threshold=0.99, max_exact_rows=10)
        assert any("auto-routing" in str(w.message) for w in rec)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        embedding_near_dup_pairs(emb, threshold=0.99, max_exact_rows=100)
        assert not any("auto-routing" in str(w.message) for w in rec)


def test_embedding_auto_mode_stays_lazy(spark):
    """embedding_near_dup_pairs method='auto' must route from plan
    statistics, never by running a job (mirror of
    test_resolve_auto_mode_stays_lazy): building the pairs DataFrame over
    a poisoned upstream DAG must not execute it.  A UDF-backed plan has
    no trustworthy row estimate (child-derived sizeInBytes can
    undershoot), so auto must take the scale-safe LSH route — with
    ``dim=`` passed, that stays fully lazy too (no one-row
    width-discovery job)."""
    import warnings

    from relation_extraction_using_llms_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    def boom(batches):
        raise RuntimeError("upstream DAG executed during planning")
        yield  # pragma: no cover

    poisoned = spark.range(4).mapInPandas(
        boom, schema="vec_id long, embedding array<double>"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        pairs = embedding_near_dup_pairs(poisoned, threshold=0.99, dim=2)
    # unconfident estimate -> must NOT take the O(n^2) exact crossJoin
    assert any("auto-routing" in str(w.message) for w in rec)
    with pytest.raises(Exception, match="upstream DAG executed"):
        pairs.count()


def test_estimated_rows_confidence(spark, tmp_path):
    """estimated_rows: confident for parquet scans, Range and
    createDataFrame plans (rows can't multiply, bytes are real); NOT
    confident for Python-map/join nodes, whose child-derived sizeInBytes
    can undershoot a row-multiplying upstream arbitrarily."""
    import pandas as pd

    from relation_extraction_using_llms_spark.functions.planstats import (
        estimated_rows,
    )

    p = str(tmp_path / "t")
    spark.range(321).selectExpr("cast(id AS string) AS url").write.mode(
        "overwrite"
    ).parquet(p)
    est, conf = estimated_rows(spark.read.parquet(p))
    assert conf and est == 321

    est, conf = estimated_rows(
        spark.range(40).selectExpr("id AS vec_id", "id * 2 AS y")
    )
    assert conf and est is not None and est >= 40

    # createDataFrame arrives as a LogicalRDD: stats genuinely unknown
    est, conf = estimated_rows(
        spark.createDataFrame([(1, "a")], "id long, s string")
    )
    assert est is None and not conf

    def explode9000(batches):
        for b in batches:
            yield pd.concat([b] * 9000)

    mapped = spark.range(4).mapInPandas(explode9000, schema="id long")
    est, conf = estimated_rows(mapped)
    assert not conf  # whatever the number says, it cannot be trusted


def test_estimated_rows_exact_for_committed_stage(spark, tmp_path):
    """A materialized parquet stage gets an EXACT footer row count (no
    compression-ratio heuristic), including under project/filter; any
    multiplying node falls back to the byte heuristic."""
    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.functions.planstats import (
        _parquet_scan_rows,
        estimated_rows,
    )

    p = str(tmp_path / "t")
    spark.range(1234).selectExpr(
        "cast(id AS string) AS url", "'x' AS head_mention"
    ).write.mode("overwrite").parquet(p)
    scan = spark.read.parquet(p)
    assert _parquet_scan_rows(scan) == 1234
    assert estimated_rows(scan) == (1234, True)
    assert _parquet_scan_rows(scan.select("url")) == 1234
    assert _parquet_scan_rows(scan.where(F.col("url") > "")) == 1234
    joined = scan.join(scan.select("url").distinct(), "url")
    assert _parquet_scan_rows(joined) is None


def test_bind_once_identity_and_nesting(spark):
    """bind_once is semantically the identity let-binding: body(value)."""
    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.functions.hofs import bind_once

    df = spark.range(5).select(
        "id",
        bind_once(F.col("id") * 2, lambda v: v + 1).alias("x"),
        bind_once(
            F.sequence(F.lit(1), F.col("id") + 1),
            lambda arr: F.size(arr) + F.element_at(arr, 1),
        ).alias("y"),
        bind_once(
            F.split(F.lit("a b c"), " "),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.size(t) - 2),
                lambda i: F.concat(F.element_at(t, i + 1), F.element_at(t, i + 2)),
            ),
        ).alias("sh"),
    )
    rows = df.orderBy("id").collect()
    assert [r["x"] for r in rows] == [1, 3, 5, 7, 9]
    assert [r["y"] for r in rows] == [2, 3, 4, 5, 6]
    assert all(list(r["sh"]) == ["ab", "bc"] for r in rows)


def test_minhash_short_documents_no_crash(spark):
    """Documents shorter than the shingle width must not crash (ANSI
    element_at past the token array) and identical short docs still pair
    via the degenerate whole-text hash."""
    from relation_extraction_using_llms_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    rows = [(1, "one two"), (2, "one two"), (3, "one"), (4, ""),
            (5, "alpha beta gamma delta"), (6, "alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             minhash_lsh_pairs(docs, jaccard_threshold=0.9).collect()}
    assert (1, 2) in pairs
    assert (5, 6) in pairs


def test_resolve_auto_mode_stays_lazy(spark):
    """Building the resolved DataFrame over a poisoned upstream DAG must
    not execute it: resolution starts no job until an action runs."""
    import pytest

    from relation_extraction_using_llms_spark.operators.linking import (
        resolve_in_document,
    )

    def boom(batches):
        raise RuntimeError("upstream DAG executed during planning")
        yield  # pragma: no cover

    pred_schema = (
        "url string, technique string, model string, pred_index int,"
        " head_mention string, tail_mention string, relation_type string,"
        " confidence double, head_id string, tail_id string"
    )
    poisoned = spark.range(4).mapInPandas(boom, schema=pred_schema)
    membership = spark.createDataFrame([("u", "E1")], "url string, entity_id string")
    catalog = spark.createDataFrame(
        [("E1", "name", ["name"], ["name"], ["name"], "ord")],
        "entity_id string, canonical_name string, common_mentions array<string>,"
        " exact_forms array<string>, first20 array<string>, created_ord string",
    )
    resolved = resolve_in_document(
        poisoned, membership_df=membership, catalog_df=catalog
    )  # must not raise: no job during planning
    with pytest.raises(Exception, match="upstream DAG executed"):
        resolved.count()  # the DAG is live — executing it must hit the poison


def test_banded_dedup_bucket_caps_bound_candidates(spark, sf_dir):
    """Safe-by-default skew guards: a boilerplate-heavy corpus (many docs
    sharing every band signature) must produce a BOUNDED candidate set
    when the bucket cap is on — quadratic blowup inside one hot bucket is
    the 100 TB failure mode — while genuinely similar pairs outside hot
    buckets survive.  On the shipped corpus the default cap must be
    invisible (identical pairs with and without it)."""
    from relation_extraction_using_llms_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    boiler = [(i, "subscribe to our newsletter terms and conditions apply")
              for i in range(60)]
    real = [(100, "the quick brown fox jumps over the lazy dog today"),
            (101, "the quick brown fox jumps over the lazy dog today")]
    docs = spark.createDataFrame(boiler + real, "doc_id long, text string")

    capped = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(
        docs, jaccard_threshold=0.9, max_docs_per_bucket=10).collect()}
    assert (100, 101) in capped
    assert all(a >= 100 for a, _ in capped), capped  # hot bucket dropped
    uncapped = minhash_lsh_pairs(
        docs, jaccard_threshold=0.9, max_docs_per_bucket=None
    ).count()
    assert uncapped >= 60 * 59 / 2  # the blowup the cap prevents

    # shipped corpus: default cap (1000) changes nothing
    shipped = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with_cap = {(r["doc_a"], r["doc_b"])
                for r in minhash_lsh_pairs(shipped).collect()}
    no_cap = {(r["doc_a"], r["doc_b"])
              for r in minhash_lsh_pairs(shipped, max_docs_per_bucket=None).collect()}
    assert with_cap == no_cap


def test_duplicate_clusters_transitive_closure(spark):
    """Near-dup pairs are not transitive; the cluster operator must close
    them: A~B, B~C (no A~C pair) -> one cluster keeping min(A,B,C), and
    unpaired docs stay singleton keepers."""
    from relation_extraction_using_llms_spark.operators.dedup import (
        dedup_corpus,
        duplicate_clusters,
    )

    docs = spark.createDataFrame(
        [(i, "s", f"text {i}") for i in range(1, 7)],
        "doc_id long, source string, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r for r in duplicate_clusters(docs, pairs).collect()}
    assert len(got) == 6
    assert {got[i]["cluster_id"] for i in (1, 2, 3)} == {1}
    assert got[4]["cluster_id"] == 4 and got[4]["keep"]
    assert {got[i]["cluster_id"] for i in (5, 6)} == {5}
    assert [i for i in got if got[i]["keep"]] == [1, 4, 5]
    kept = sorted(r["doc_id"] for r in dedup_corpus(docs, pairs).collect())
    assert kept == [1, 4, 5]


def test_widen_degenerate_scan_gate(spark, tmp_path):
    """The scan-parallelism guard fires only on (few-partition AND
    provably-small) inputs: a single-file parquet scan widens to the
    cluster's default parallelism; an input already at >= parallelism/4
    partitions is returned untouched (same plan object semantics — no
    shuffle added)."""
    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.functions.partitioning import (
        widen_degenerate_scan,
    )

    one = str(tmp_path / "one")
    spark.range(500).select(
        "id", F.concat(F.lit("text "), F.col("id").cast("string")).alias("text")
    ).coalesce(1).write.parquet(one)
    narrow = spark.read.parquet(one)
    assert narrow.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    widened = widen_degenerate_scan(narrow)
    assert widened.rdd.getNumPartitions() == target
    assert widened.count() == narrow.count() == 500

    wide = narrow.repartition(target)
    assert widen_degenerate_scan(wide) is wide  # no-op, not even a copy


def test_lsh_topk_cosine_matches_exact_formulation(spark):
    """The norm-hoisted rescore must equal the _exact_cosine expression
    bit-for-bit: same cast-to-double tree, norms merely precomputed per
    side (this is the invariant that kept r7's hoist result-identical)."""
    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.operators.similarity import (
        _exact_cosine,
        lsh_topk,
    )

    rows = [(i, [float((i * 7 + j * 3) % 11) / 11.0 for j in range(8)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in lsh_topk(emb, q, k=40, dim=8, candidate_distance=2.0).collect()
    }
    ref = {
        (r["query_id"], r["vec_id"]): r["cosine"]
        for r in q.select(F.col("query_id"), F.col("embedding").alias("q_emb"))
        .crossJoin(
            emb.select(F.col("vec_id"), F.col("embedding").alias("c_emb"))
        )
        .select("query_id", "vec_id", _exact_cosine("q_emb", "c_emb").alias("cosine"))
        .collect()
    }
    assert got, "lsh produced no rows"
    for k, v in got.items():
        assert v == ref[k], f"cosine drifted for {k}: {v} != {ref[k]}"
