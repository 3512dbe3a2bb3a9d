"""End-to-end differential parity of resolution + matching + metrics vs the
REAL reference implementation on identical stub responses.

This is the P/R >= 0.95 gate from BASELINE.json evidenced as exact
count-level parity per document for the strategies whose kernels the
reference can execute in this environment (exact, fuzzy, text, jaccard —
token/levenshtein/jaro_winkler need rapidfuzz/jellyfish, absent here for
the reference too)."""

from __future__ import annotations

from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from relation_extraction_using_llms_spark.sources import synthetic
from tests.ref_oracle import ref_module, reference_present, require_reference

TECHNIQUES = ["IO", "CoT"]
MODELS = ["stub-small"]
STRATEGIES = ["exact", "fuzzy", "text", "jaccard"]
N_DOCS = 50


@pytest.fixture(scope="module")
def ref():
    """The reference modules the parity tests compare against."""
    require_reference()
    return SimpleNamespace(
        types=ref_module("pipeline.types"),
        parser=ref_module("pipeline.parsing.parser"),
        entity_map=ref_module("pipeline.data.entity_map"),
        exact=ref_module("pipeline.evaluation.matchers.exact_matcher"),
        fuzzy=ref_module("pipeline.evaluation.matchers.fuzzy_matcher_adapter"),
        text=ref_module("pipeline.evaluation.text_matcher"),
        jaccard=ref_module("pipeline.evaluation.matchers.jaccard_matcher"),
        metrics=ref_module("pipeline.evaluation.metrics"),
    )


@pytest.fixture(scope="module")
def corpus(sf_dir):
    rows = pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()[:N_DOCS]
    return [synthetic.gen_doc(r["doc_id"], r["text"], r["lang"]) for r in rows]


def _ref_gold_obj(ref, doc):
    ids = {e["id"] for e in doc["entities"]}
    entities = [
        ref.types.Entity(
            id=e["id"],
            type=e["type"],
            mentions=[
                ref.types.Mention(
                    text=m, passage_index=0, passage_offset=0, char_offset=0, length=len(m)
                )
                for m in e["mentions"]
            ],
        )
        for e in doc["entities"]
    ]
    relations = [
        ref.types.Relation(
            id=r["id"],
            head_id=r["head_id"],
            tail_id=r["tail_id"],
            type=r["type"],
            novel=r["novel"],
        )
        for r in doc["relations"]
        if r["head_id"] in ids and r["tail_id"] in ids
    ]
    # insertion (document) order == our packed numeric rel-ordinal order;
    # NOT lexicographic (R10 must come after R2)
    import re

    relations.sort(key=lambda r: int(re.search(r"(\d+)$", r.id).group(1)))
    return ref.types.GoldRelations(
        doc_id=doc["url"], entities=entities, relations=relations,
        title="", body="", file_path="",
    )


@pytest.fixture(scope="module")
def ref_entity_map(ref, corpus):
    m = ref.entity_map.GlobalEntityMap()
    m.build_from_gold_relations(
        [_ref_gold_obj(ref, d) for d in sorted(corpus, key=lambda d: d["url"])]
    )
    return m


@pytest.fixture(scope="module")
def ref_predictions(ref, corpus, ref_entity_map):
    """Reference path: parse + validate + resolve each stub response."""
    from relation_extraction_using_llms_spark.functions.extraction import extract_record

    out = {}
    for doc in corpus:
        _, _, _, text = extract_record(doc["html"])
        doc_ids = {e["id"] for e in doc["entities"]}
        for tech in TECHNIQUES:
            for model in MODELS:
                resp = synthetic.gen_response(doc, tech, model)
                parser = ref.parser.ResponseParser(
                    entity_map=ref_entity_map, validate=True
                )
                parsed = parser.parse(
                    resp, doc_id=doc["url"], source_text=text,
                    document_entity_ids=doc_ids,
                )
                out[(doc["url"], tech, model)] = parsed
    return out


@pytest.fixture(scope="module")
def spark_eval(spark, sf_dir, corpus):
    """Our Spark path end-to-end: pages -> text -> responses -> triples ->
    resolve -> match counts."""
    from relation_extraction_using_llms_spark.functions.extraction import clean_text_df
    from relation_extraction_using_llms_spark.functions.parsing import parsed_triples_df
    from relation_extraction_using_llms_spark.operators.entity_catalog import full_catalog
    from relation_extraction_using_llms_spark.operators.gold_normalize import (
        gold_entities,
        gold_relations,
    )
    from relation_extraction_using_llms_spark.operators.linking import (
        resolve_in_document,
    )
    from relation_extraction_using_llms_spark.operators.matching import (
        evaluate_counts_df,
        gold_bundle,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import (
        pages_df,
        stub_responses_df,
    )

    urls = sorted(d["url"] for d in corpus)
    pages = pages_df(spark, sf_dir).where(F_isin_url(urls)).cache()
    clean = clean_text_df(pages).select("url", "text")
    responses = stub_responses_df(spark, sf_dir, TECHNIQUES, MODELS).where(
        F_isin_url(urls)
    )
    triples = parsed_triples_df(responses.join(clean, "url"))
    ents = gold_entities(pages)
    resolved = resolve_in_document(
        triples, ents.select("url", "entity_id"), full_catalog(ents)
    )
    bundle = gold_bundle(gold_relations(pages), ents)
    combos = [(t, m) for t in TECHNIQUES for m in MODELS]
    counts = evaluate_counts_df(
        resolved, bundle, strategies=STRATEGIES, combos=combos
    )
    resolved_rows = resolved.collect()
    counts_rows = counts.collect()
    return {"resolved": resolved_rows, "counts": counts_rows}


def F_isin_url(urls):
    from pyspark.sql import functions as F

    return F.col("url").isin(urls)


def test_resolution_parity(ref, spark_eval, ref_predictions):
    ours = {}
    for r in spark_eval["resolved"]:
        ours.setdefault((r["url"], r["technique"], r["model"]), []).append(r)
    n_checked = 0
    n_resolved = 0
    for key, parsed in ref_predictions.items():
        mine = sorted(ours.get(key, []), key=lambda r: r["pred_index"])
        assert len(mine) == len(parsed.relations), key
        for our_rel, ref_rel in zip(mine, parsed.relations):
            assert our_rel["head_mention"] == ref_rel.head_mention
            assert our_rel["tail_mention"] == ref_rel.tail_mention
            assert our_rel["head_id"] == ref_rel.head_id, (key, ref_rel.head_mention)
            assert our_rel["tail_id"] == ref_rel.tail_id, (key, ref_rel.tail_mention)
            n_checked += 1
            n_resolved += ref_rel.head_id is not None
    assert n_checked > 100
    assert 0 < n_resolved  # cascade resolves a real share


def _ref_match(ref, strategy, parsed, gold_obj, with_types):
    if strategy == "exact":
        m = ref.exact.ExactMatcher(match_type=with_types)
    elif strategy == "fuzzy":
        m = ref.fuzzy.FuzzyMatcherAdapter(match_type=with_types)
    elif strategy == "text":
        m = ref.text.TextRelationMatcher()
        return m.match(parsed.relations, gold_obj, match_type=with_types)
    elif strategy == "jaccard":
        m = ref.jaccard.JaccardMatcher(match_type=with_types)
    return m.match(parsed.relations, gold_obj, match_type=with_types)


def test_match_counts_parity(ref, spark_eval, ref_predictions, corpus):
    by_key = {
        (r["url"], r["technique"], r["model"], r["strategy"], r["with_types"]): r
        for r in spark_eval["counts"]
    }
    gold_objs = {d["url"]: _ref_gold_obj(ref, d) for d in corpus}
    n = 0
    for (url, tech, model), parsed in ref_predictions.items():
        for strategy in STRATEGIES:
            for wt in (True, False):
                tp, fp, fn, sem = _ref_match(ref, strategy, parsed, gold_objs[url], wt)
                row = by_key[(url, tech, model, strategy, wt)]
                got = (row["tp"], row["fp"], row["fn"], row["n_semantic"])
                want = (len(tp), len(fp), len(fn), len(sem))
                assert got == want, (url, tech, model, strategy, wt, got, want)
                sem_sum = sum(s for _, _, s in sem)
                assert row["semantic_sum"] == pytest.approx(sem_sum), (url, strategy)
                assert row["n_gold"] == len(gold_objs[url].relations)
                assert row["n_pred"] == len(parsed.relations)
                n += 1
    assert n == len(ref_predictions) * len(STRATEGIES) * 2


def test_metrics_parity(ref, spark, spark_eval, ref_predictions, corpus):
    """Q1-Q6 parity vs the reference MetricsCalculator (networkx GED)."""
    import pandas as pd

    from relation_extraction_using_llms_spark.operators.matching import EVAL_COUNTS_SCHEMA
    from relation_extraction_using_llms_spark.operators.metrics import (
        eval_per_doc,
    )
    from relation_extraction_using_llms_spark.schemas import PREDICTED

    counts_df = spark.createDataFrame(
        pd.DataFrame([r.asDict() for r in spark_eval["counts"]]), EVAL_COUNTS_SCHEMA
    )
    pred_df = spark.createDataFrame(
        pd.DataFrame([r.asDict() for r in spark_eval["resolved"]]), PREDICTED
    )
    gold_rows = [
        {
            "url": d["url"],
            "rel_id": r.id,
            "head_id": r.head_id,
            "tail_id": r.tail_id,
            "rel_type": r.type,
            "novel": r.novel,
        }
        for d in corpus
        for r in _ref_gold_obj(ref, d).relations
    ]
    from relation_extraction_using_llms_spark.schemas import GOLD_RELATIONS

    gold_df = spark.createDataFrame(pd.DataFrame(gold_rows), GOLD_RELATIONS)
    per_doc = {
        (r["url"], r["technique"], r["model"], r["strategy"], r["with_types"]): r
        for r in eval_per_doc(counts_df, pred_df, gold_df).collect()
    }

    calc = ref.metrics.MetricsCalculator()
    gold_objs = {d["url"]: _ref_gold_obj(ref, d) for d in corpus}
    for (url, tech, model), parsed in ref_predictions.items():
        for strategy in ["exact", "jaccard"]:
            tp, fp, fn, sem = _ref_match(ref, strategy, parsed, gold_objs[url], True)
            want = calc.calculate_metrics(
                tp, fp, fn, gold_objs[url].relations, parsed.relations
            )
            row = per_doc[(url, tech, model, strategy, True)]
            for ours_col, ref_key in [
                ("precision", "precision"),
                ("recall", "recall"),
                ("f1_score", "f1_score"),
                ("exact_match_rate", "exact_match_rate"),
                ("omission_rate", "omission_rate"),
                ("hallucination_rate", "hallucination_rate"),
                ("redundancy_rate", "redundancy_rate"),
                ("graph_edit_distance", "graph_edit_distance"),
            ]:
                assert row[ours_col] == pytest.approx(want[ref_key]), (
                    url,
                    strategy,
                    ours_col,
                )


def test_gold_iteration_order_12_relations():
    """Greedy matching is order-dependent: with 12 gold relations the
    reference iterates in insertion order (R2 before R10).  Our packed
    ordering is the numeric rel-ordinal — assignment-level parity here;
    lexicographic ordering (the round-1 bug) would assign R10 instead.
    The reference matcher's half runs where its checkout is present."""
    from relation_extraction_using_llms_spark.operators.matching import run_strategy

    # entity id -> (type, mention, mention length)
    ents = {
        "A": ("GeneOrGeneProduct", "alpha", 5),
        "B": ("GeneOrGeneProduct", "beta", 4),
        **{
            f"F{k}": ("ChemicalEntity", f"unrelated-filler-{k}", 10)
            for k in range(10)
        },
    }
    # (rel_id, head_id, tail_id, type, novel) in insertion order
    rels = []
    fill = iter(range(10))
    for k in range(12):
        if k in (2, 10):  # duplicate-content golds: score ties for any pred
            rels.append((f"R{k}", "A", "B", "Association", "No"))
        else:
            rels.append((f"R{k}", f"F{next(fill)}", "A", "Comparison", "No"))

    golds = [
        {
            "rel_id": rel_id, "head_id": head, "tail_id": tail,
            "rel_type": rel_type,
            "head_mentions": [ents[head][1]],
            "tail_mentions": [ents[tail][1]],
        }
        # numeric/insertion order — what packed_eval_input emits
        for rel_id, head, tail, rel_type, _ in rels
    ]
    preds = [
        {
            "pred_index": 0, "head_mention": "alpha", "tail_mention": "beta",
            "relation_type": "Association", "head_id": "A", "tail_id": "B",
        }
    ]
    ours = run_strategy("text", preds, golds, True)
    got = [d["gold"]["rel_id"] for d in ours if d["kind"] == "tp"]
    assert got == ["R2"]

    # regression guard: lexicographic gold order (R10 < R2) picks the wrong one
    lex = run_strategy("text", preds, sorted(golds, key=lambda g: g["rel_id"]), True)
    assert [d["gold"]["rel_id"] for d in lex if d["kind"] == "tp"] == ["R10"]

    if not reference_present():
        return
    ref_types = ref_module("pipeline.types")
    ref_text = ref_module("pipeline.evaluation.text_matcher")
    gold_obj = ref_types.GoldRelations(
        doc_id="u",
        entities=[
            ref_types.Entity(
                id=eid, type=etype, mentions=[ref_types.Mention(m, 0, 0, 0, n)],
            )
            for eid, (etype, m, n) in ents.items()
        ],
        relations=[ref_types.Relation(*r) for r in rels],
        title="", body="", file_path="",
    )
    pred = ref_types.ParsedRelation(
        head_mention="alpha", tail_mention="beta", relation_type="Association",
        head_id="A", tail_id="B", confidence=1.0,
    )
    ref_tp, _, _, _ = ref_text.TextRelationMatcher().match(
        [pred], gold_obj, match_type=True
    )
    assert len(ref_tp) == 1 and ref_tp[0].id == "R2"  # insertion order wins


def test_packed_eval_input_orders_golds_numerically(spark):
    """packed_eval_input sorts the gold array by numeric rel ordinal."""
    from relation_extraction_using_llms_spark.operators.matching import (
        packed_eval_input,
    )

    gold_rows = [
        ("u", f"R{k}", f"H{k}", f"T{k}", "Association", [f"h{k}"], [f"t{k}"])
        for k in (0, 2, 10, 11, 1)
    ]
    bundle = spark.createDataFrame(
        gold_rows,
        "url string, rel_id string, head_id string, tail_id string,"
        " rel_type string, head_mentions array<string>, tail_mentions array<string>",
    )
    preds = spark.createDataFrame(
        [("u", "IO", "m", 0, "h0", "t0", "Association", "H0", "T0")],
        "url string, technique string, model string, pred_index int,"
        " head_mention string, tail_mention string, relation_type string,"
        " head_id string, tail_id string",
    )
    row = packed_eval_input(preds, bundle, [("IO", "m")]).collect()[0]
    assert [g["rel_id"] for g in row["golds"]] == ["R0", "R1", "R2", "R10", "R11"]


def test_match_classification_parity(ref, spark, tmp_path):
    """Q11 differential: classify_matches equals the real DocumentLogger
    cascade — including the cross-row case where a duplicate prediction
    whose own kind is FP classifies as exact_match because its tuple
    appears among the document's true-positive gold tuples."""
    ref_logger_mod = ref_module("pipeline.evaluation.document_logger")
    from pathlib import Path

    from relation_extraction_using_llms_spark.operators.matching import (
        EVAL_DETAILS_SCHEMA,
        classify_matches,
        run_strategy,
    )

    mk = lambda h, t, ty, hid, tid, i: ref.types.ParsedRelation(  # noqa: E731
        head_mention=h, tail_mention=t, relation_type=ty,
        head_id=hid, tail_id=tid, confidence=1.0,
    )
    preds_ref = [
        mk("alpha", "beta", "Association", "A", "B", 0),
        mk("alpha2", "beta2", "Association", "A", "B", 1),   # dup tuple -> FP kind
        mk("alpha3", "beta3", "Bind", "A", "B", 2),          # type differs -> partial
        mk("gamma", "delta", "Association", "C", "D", 3),    # no gold -> halluc
        mk("ghost", "phantom", "Association", None, None, 4),  # unresolved
    ]
    ents = [
        ref.types.Entity(id=i, type="GeneOrGeneProduct",
                         mentions=[ref.types.Mention(i.lower(), 0, 0, 0, 1)])
        for i in ["A", "B", "C", "D"]
    ]
    gold_obj = ref.types.GoldRelations(
        doc_id="u",
        entities=ents,
        relations=[ref.types.Relation("R0", "A", "B", "Association", "No")],
        title="", body="", file_path="",
    )
    tp, fp, fn, sem = ref.exact.ExactMatcher(match_type=True).match(
        preds_ref, gold_obj, match_type=True
    )
    er = ref.types.EvaluationResult(
        doc_id="u", strategy="exact",
        true_positives=tp, false_positives=fp, false_negatives=fn,
        partial_matches=[(p, g) for p, g, s in sem if 0.5 <= s < 0.95],
        semantic_matches=sem,
    )
    logger = ref_logger_mod.DocumentLogger(output_dir=Path(tmp_path))
    ref_status = {
        r["head_mention"]: r["status"]
        for r in logger._classify_relations(preds_ref, er)
    }

    # our side: same doc through run_strategy -> details rows -> classify
    preds = [
        {"pred_index": i, "head_mention": p.head_mention,
         "tail_mention": p.tail_mention, "relation_type": p.relation_type,
         "head_id": p.head_id, "tail_id": p.tail_id}
        for i, p in enumerate(preds_ref)
    ]
    golds = [
        {"rel_id": "R0", "head_id": "A", "tail_id": "B",
         "rel_type": "Association", "head_mentions": ["a"], "tail_mentions": ["b"]}
    ]
    details = run_strategy("exact", preds, golds, True)
    rows = []
    for d in details:
        p, g = d["pred"] or {}, d["gold"] or {}
        rows.append(
            ("u", "IO", "m", "exact", True, d["kind"],
             p.get("head_mention"), p.get("tail_mention"), p.get("relation_type"),
             p.get("head_id"), p.get("tail_id"),
             g.get("rel_id"), g.get("head_id"), g.get("tail_id"),
             g.get("rel_type"), float(d["score"]))
        )
    det_df = spark.createDataFrame(rows, EVAL_DETAILS_SCHEMA)
    ours = {
        r["pred_head"]: r["status"] for r in classify_matches(det_df).collect()
    }
    assert ours == ref_status, (ours, ref_status)
    assert set(ref_status.values()) == {
        "exact_match", "partial_match", "hallucination", "unresolved"
    }
    assert ref_status["alpha2"] == "exact_match"  # FP kind, exact status


def test_discover_combos_warns_on_live_dag(spark):
    """Omitting combos= over a non-materialized prediction plan re-executes
    the upstream DAG for a metadata read — the API must warn; a scan-shaped
    input stays silent."""
    import warnings

    import pandas as pd

    from relation_extraction_using_llms_spark.operators.matching import (
        _discover_combos,
    )

    def emit(batches):
        for b in batches:
            yield pd.DataFrame({"technique": ["IO"], "model": ["m"]})

    live = spark.range(1).mapInPandas(emit, schema="technique string, model string")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        combos = _discover_combos(live)
    assert combos == [("IO", "m")]
    assert any("combos" in str(w.message) for w in rec)

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [("IO", "m")], "technique string, model string"
        ).write.parquet(f"{d}/p")
        with warnings.catch_warnings(record=True) as rec:
            warnings.simplefilter("always")
            combos = _discover_combos(spark.read.parquet(f"{d}/p"))
        assert combos == [("IO", "m")]
        assert not any("combos" in str(w.message) for w in rec)
