"""Differential parity: our response parser/validator vs the REAL reference
ResponseParser/RelationValidator on identical stub-model responses."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from relation_extraction_using_llms_spark.functions import parsing as rp
from relation_extraction_using_llms_spark.functions.textnorm import (
    confidence_score,
    mention_in_text,
)
from relation_extraction_using_llms_spark.sources import synthetic
from tests.ref_oracle import ref_module, require_reference


@pytest.fixture(scope="module")
def ref():
    """The reference parser and validator modules."""
    require_reference()
    return SimpleNamespace(
        parser=ref_module("pipeline.parsing.parser"),
        validator=ref_module("pipeline.parsing.validator"),
    )


HAND_CASES = [
    '[{"head_mention": "TP53", "tail_mention": "cancer", "relation_type": "Association"}]',
    '```json\n[{"head_mention": "a", "tail_mention": "b", "relation_type": "Bind"}]\n```',
    '```\n[{"head_mention": "a", "tail_mention": "b", "relation_type": "Bind"}]\n```',
    'Here you go:\n[{"head_mention": "x", "tail_mention": "y", "relation_type": "Conversion"}] done',
    '{"relations": [{"head_mention": "p", "tail_mention": "q", "relation_type": "Comparison"}]}',
    '{"head_mention": "solo", "tail_mention": "obj", "relation_type": "Association"}',
    "TP53 -> breast cancer: Positive_Correlation\nBRCA1 -> ovarian cancer: Association",
    "no relations here at all",
    "",
    '[{"head_mention": "", "tail_mention": "b", "relation_type": "Bind"}]',  # empty head dropped
    '[{"head_mention": "a", "tail_mention": "b"}]',  # missing type dropped
    '[{"head_mention": "esc\\"aped", "tail_mention": "br]acket", "relation_type": "Bind"}]',
    '[ {"head_mention": "a", "tail_mention": "b", "relation_type": "Bind"}',  # unbalanced
    'prefix {"relations": [{"head_mention": "n", "tail_mention": "m", "relation_type": "Bind"}]} suffix',
    '[{"head_mention": "dup", "tail_mention": "d2", "relation_type": "Bind", "confidence": 0.9}]',
]


def _ref_parse(ref, response: str):
    p = ref.parser.ResponseParser(entity_map=None, validate=False)
    parsed = p.parse(response, doc_id="t")
    return [
        (r.head_mention, r.tail_mention, r.relation_type) for r in parsed.relations
    ]


@pytest.mark.parametrize("resp", HAND_CASES)
def test_parse_matches_reference(ref, resp):
    ours = [
        (t["head_mention"], t["tail_mention"], t["relation_type"])
        for t in rp.parse_response(resp)[0]
    ]
    assert ours == _ref_parse(ref, resp)


def test_parse_matches_reference_on_stub_corpus(ref):
    """Every stub-model response shape parses identically to the reference."""
    import pyarrow.parquet as pq

    docs = pq.read_table("/root/testdata/sf0.001/documents.parquet").to_pylist()[:120]
    n_nonempty = 0
    for row in docs:
        doc = synthetic.gen_doc(row["doc_id"], row["text"], row["lang"])
        for tech in synthetic.TECHNIQUES:
            for model in synthetic.MODELS:
                resp = synthetic.gen_response(doc, tech, model)
                ours = [
                    (t["head_mention"], t["tail_mention"], t["relation_type"])
                    for t in rp.parse_response(resp)[0]
                ]
                assert ours == _ref_parse(ref, resp), resp
                n_nonempty += bool(ours)
    assert n_nonempty > 200  # corpus exercises non-trivial parses


def test_validator_matches_reference(ref):
    v = ref.validator.RelationValidator()
    texts = [
        "The TP53 gene binds BRCA1 in breast cancer tissue.",
        "Complex phrase with many words appearing here and there today.",
        "",
    ]
    mentions = [
        "TP53",
        "tp53",
        "TP53 gene",
        "BRCA-1",
        "missing",
        "breast cancer tissue",
        "many words appearing here and somewhere else entirely",  # >3 words, 60% overlap path
        "words many appearing wrong order here",
        "",
        "   ",
        "binds.",
    ]
    for text in texts:
        for m in mentions:
            for strict in (False, True):
                assert mention_in_text(m, text, strict) == v._find_mention_in_text(
                    m, text, strict
                ), (m, text, strict)


def test_confidence_matches_reference(ref):
    v = ref.validator.RelationValidator()
    text = "The TP53 gene binds BRCA1 in breast cancer tissue."
    cases = [
        ("TP53", "BRCA1"),
        ("tp53", "brca1"),
        ("TP53", "missing"),
        ("missing", "absent"),
        ("breast cancer", "gene"),
    ]
    for head, tail in cases:
        Rel = ref.parser.ParsedRelation
        rel = Rel(head_mention=head, tail_mention=tail, relation_type="Bind")
        (out,) = v.assign_confidence_scores([rel], text)
        assert confidence_score(head, tail, text) == pytest.approx(out.confidence)


def test_parsed_triples_df(spark, sf_dir):
    from relation_extraction_using_llms_spark.functions.extraction import clean_text_df
    from relation_extraction_using_llms_spark.sources.synthetic import (
        pages_df,
        stub_responses_df,
    )

    pages = pages_df(spark, sf_dir)
    clean = clean_text_df(pages).select("url", "text")
    responses = stub_responses_df(spark, sf_dir, techniques=["IO"], models=["stub-large"])
    joined = responses.join(clean, "url")
    triples = rp.parsed_triples_df(joined)
    rows = triples.limit(2000).collect()
    assert rows
    assert all(r["head_mention"] and r["tail_mention"] and r["relation_type"] for r in rows)
    assert all(r["confidence"] is not None for r in rows)
    # pred_index preserves parse order per (url, technique, model)
    seen = {}
    for r in rows:
        key = (r["url"], r["technique"], r["model"])
        assert r["pred_index"] == seen.get(key, -1) + 1 or r["pred_index"] == 0
        seen[key] = max(seen.get(key, -1), r["pred_index"])


def test_validation_df_matches_fused_parser(spark, sf_dir):
    """The isolated X5/X6 operator (validation_df) must assign the same
    confidence the fused parse-then-validate path does, row for row."""
    from relation_extraction_using_llms_spark.functions.extraction import clean_text_df
    from relation_extraction_using_llms_spark.sources.synthetic import (
        pages_df,
        stub_responses_df,
    )
    from pyspark.sql import functions as F

    clean = clean_text_df(pages_df(spark, sf_dir)).select("url", "text")
    responses = stub_responses_df(
        spark, sf_dir, techniques=["IO"], models=["stub-large"]
    )
    joined = responses.join(clean, "url")
    fused = rp.parsed_triples_df(joined).select(
        "url", "technique", "model", "pred_index",
        F.col("confidence").alias("fused_confidence"),
    )
    raw = rp.parsed_triples_df(
        joined.withColumn("text", F.lit(None).cast("string"))
    ).select("url", "technique", "model", "pred_index",
             "head_mention", "tail_mention")
    isolated = rp.validation_df(raw.join(clean, "url"))
    cmp = isolated.join(fused, ["url", "technique", "model", "pred_index"])
    rows = cmp.collect()
    assert rows
    for r in rows:
        assert r["confidence"] == pytest.approx(r["fused_confidence"]), r
        # flags are internally consistent with the formula
        expect = 0.5
        expect += 0.2 if r["head_strict"] else 0.0
        expect += 0.2 if r["tail_strict"] else 0.0
        expect += 0.1 if (r["head_ok"] and r["tail_ok"]) else 0.0
        assert r["confidence"] == pytest.approx(min(1.0, expect)), r
