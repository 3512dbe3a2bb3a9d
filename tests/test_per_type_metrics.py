"""Q7 per-type metrics and Q11/Q12 detailed match records vs the reference
MetricsCalculator on identical matched sets."""

from __future__ import annotations

from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from relation_extraction_using_llms_spark.sources import synthetic
from tests.ref_oracle import ref_module, require_reference


@pytest.fixture(scope="module")
def ref():
    """The reference types, exact matcher, metrics and parser modules."""
    require_reference()
    return SimpleNamespace(
        types=ref_module("pipeline.types"),
        exact=ref_module("pipeline.evaluation.matchers.exact_matcher"),
        metrics=ref_module("pipeline.evaluation.metrics"),
        parser=ref_module("pipeline.parsing.parser"),
    )


def test_per_type_metrics_parity(ref, spark, sf_dir):
    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        full_catalog,
    )
    from relation_extraction_using_llms_spark.operators.gold_normalize import (
        gold_entities,
        gold_relations,
    )
    from relation_extraction_using_llms_spark.operators.linking import (
        resolve_in_document,
    )
    from relation_extraction_using_llms_spark.operators.matching import (
        evaluate_details_df,
        gold_bundle,
    )
    from relation_extraction_using_llms_spark.operators.metrics import (
        per_type_metrics,
    )
    from relation_extraction_using_llms_spark.functions.extraction import (
        clean_text_df,
        extract_record,
    )
    from relation_extraction_using_llms_spark.functions.parsing import (
        parsed_triples_df,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import (
        pages_df,
        stub_responses_df,
    )
    from pyspark.sql import functions as F

    rows = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()[:40]
    corpus = [synthetic.gen_doc(r["doc_id"], r["text"], r["lang"]) for r in rows]
    urls = [d["url"] for d in corpus]

    pages = pages_df(spark, sf_dir).where(F.col("url").isin(urls)).cache()
    clean = clean_text_df(pages).select("url", "text")
    responses = stub_responses_df(spark, sf_dir, ["IO"], ["stub-large"]).where(
        F.col("url").isin(urls)
    )
    triples = parsed_triples_df(responses.join(clean, "url"))
    ents = gold_entities(pages)
    resolved = resolve_in_document(
        triples, ents.select("url", "entity_id"), full_catalog(ents)
    )
    bundle = gold_bundle(gold_relations(pages), ents)
    details = evaluate_details_df(
        resolved, bundle, strategies=["exact"], with_types=True,
        combos=[("IO", "stub-large")],
    )
    ours = {
        (r["url"], r["rel_type"]): r
        for r in per_type_metrics(details).collect()
    }

    # reference side
    resolved_rows = {}
    for r in resolved.collect():
        resolved_rows.setdefault(r["url"], []).append(r)
    calc = ref.metrics.MetricsCalculator()
    n_checked = 0
    for doc in corpus:
        ids = {e["id"] for e in doc["entities"]}
        gold_obj = ref.types.GoldRelations(
            doc_id=doc["url"],
            entities=[],
            relations=sorted(
                [
                    ref.types.Relation(
                        id=r["id"], head_id=r["head_id"], tail_id=r["tail_id"],
                        type=r["type"], novel=r["novel"],
                    )
                    for r in doc["relations"]
                    if r["head_id"] in ids and r["tail_id"] in ids
                ],
                key=lambda r: r.id,
            ),
            title="", body="", file_path="",
        )
        preds = [
            ref.parser.ParsedRelation(
                head_mention=r["head_mention"], tail_mention=r["tail_mention"],
                relation_type=r["relation_type"], head_id=r["head_id"],
                tail_id=r["tail_id"],
            )
            for r in sorted(resolved_rows.get(doc["url"], []), key=lambda r: r["pred_index"])
        ]
        m = ref.exact.ExactMatcher(match_type=True)
        tp, fp, fn, _ = m.match(preds, gold_obj, match_type=True)
        want = calc._calculate_per_type_metrics(tp, fp, fn)
        got_types = {k[1] for k in ours if k[0] == doc["url"]}
        assert got_types == set(want), doc["url"]
        for rel_type, wm in want.items():
            row = ours[(doc["url"], rel_type)]
            assert row["tp"] == wm["true_positives"]
            assert row["fp"] == wm["false_positives"]
            assert row["fn"] == wm["false_negatives"]
            assert row["precision"] == pytest.approx(wm["precision"])
            assert row["recall"] == pytest.approx(wm["recall"])
            assert row["f1_score"] == pytest.approx(wm["f1_score"])
            n_checked += 1
    assert n_checked > 40
