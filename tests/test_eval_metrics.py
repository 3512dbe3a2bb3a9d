"""``eval_per_doc``'s redundancy rate (Q5) and graph edit distance (Q6)
against a pure-Python definition on hand-built rows, and the number of
Spark jobs the whole per-document table costs."""

from __future__ import annotations

import pytest

from tests.spark_jobs import jobs_in

# "cot" has no prediction at all: its gold documents still count their
# whole gold graph, as a document without predictions for any combo does
COMBOS = [("io", "m1"), ("react", "m1"), ("cot", "m1")]
URLS = ["both", "gold_only", "pred_only", "neither"]

# (url, technique, model, head_id, tail_id, relation_type)
PREDS = [
    # reversed duplicate pair, an exact duplicate, a null relation_type twice
    ("both", "io", "m1", "A", "B", "treats"),
    ("both", "io", "m1", "B", "A", "treats"),
    ("both", "io", "m1", "A", "B", "treats"),
    ("both", "io", "m1", "A", "C", None),
    ("both", "io", "m1", "C", "A", None),
    ("both", "io", "m1", "B", "C", "causes"),
    # unresolved predictions: skipped as keys and edges, still counted
    ("both", "io", "m1", None, "B", "treats"),
    ("both", "io", "m1", "A", None, "treats"),
    ("both", "react", "m1", "A", "B", "treats"),
    ("both", "react", "m1", "D", "E", "treats"),
    ("pred_only", "io", "m1", "X", "Y", "binds"),
    ("pred_only", "io", "m1", "Y", "X", "binds"),
    ("pred_only", "io", "m1", None, None, None),
    ("pred_only", "react", "m1", None, "Y", "binds"),
]

# (url, head_id, tail_id); a duplicated gold edge collapses
GOLD = [
    ("both", "A", "B"),
    ("both", "A", "B"),
    ("both", "C", "A"),
    ("both", "B", "D"),
    ("gold_only", "G", "H"),
    ("gold_only", "H", "I"),
]


def _expected():
    """{(url, technique, model): (redundancy_rate, graph_edit_distance)}"""
    out = {}
    gold_edges = {}
    for url, h, t in GOLD:
        gold_edges.setdefault(url, set()).add((h, t))
    for url in URLS:
        for tech, model in COMBOS:
            rows = [p for p in PREDS if p[:3] == (url, tech, model)]
            keys = [
                "".join(x for x in (min(h, t), max(h, t), rt) if x is not None)
                for *_, h, t, rt in rows
                if h is not None and t is not None
            ]
            redundancy = (len(keys) - len(set(keys))) / len(rows) if rows else 0.0
            pe = {(h, t) for *_, h, t, _rt in rows if h is not None and t is not None}
            ge = gold_edges.get(url, set())
            pn = {n for e in pe for n in e}
            gn = {n for e in ge for n in e}
            out[(url, tech, model)] = (redundancy, float(len(pe ^ ge) + len(pn ^ gn)))
    return out


@pytest.fixture(scope="module")
def eval_inputs(spark):
    from relation_extraction_using_llms_spark.operators.matching import (
        EVAL_COUNTS_SCHEMA,
    )

    counts = spark.createDataFrame(
        [
            (url, tech, model, strategy, wt, 0, 0, 0, 0, 0, 0.0, 0, 0)
            for url in URLS
            for tech, model in COMBOS
            for strategy in ("exact", "text")
            for wt in (True, False)
        ],
        EVAL_COUNTS_SCHEMA,
    )
    preds = spark.createDataFrame(
        PREDS,
        "url string, technique string, model string, head_id string,"
        " tail_id string, relation_type string",
    )
    gold = spark.createDataFrame(GOLD, "url string, head_id string, tail_id string")
    return counts, preds, gold


def test_redundancy_and_ged_match_python_definition(eval_inputs):
    from relation_extraction_using_llms_spark.operators.metrics import eval_per_doc

    counts, preds, gold = eval_inputs
    rows = eval_per_doc(counts, preds, gold).collect()
    expected = _expected()
    assert len(rows) == counts.count()
    for r in rows:
        want = expected[(r["url"], r["technique"], r["model"])]
        assert (r["redundancy_rate"], r["graph_edit_distance"]) == pytest.approx(
            want
        ), r
    # spot-check the definition itself on the hand-built document
    assert expected[("both", "io", "m1")] == (3 / 8, 5.0)
    assert expected[("gold_only", "io", "m1")] == (0.0, 5.0)
    assert expected[("pred_only", "io", "m1")] == (1 / 3, 4.0)
    assert expected[("neither", "react", "m1")] == (0.0, 0.0)
    assert expected[("both", "cot", "m1")] == (0.0, 7.0)


def test_without_triples_the_metrics_are_zero(eval_inputs):
    from relation_extraction_using_llms_spark.operators.metrics import eval_per_doc

    counts, preds, _ = eval_inputs
    no_gold = {
        (r["url"], r["technique"], r["model"]): r["graph_edit_distance"]
        for r in eval_per_doc(counts, preds).collect()
    }
    assert set(no_gold.values()) == {0.0}
    bare = eval_per_doc(counts).collect()
    assert {(r["redundancy_rate"], r["graph_edit_distance"]) for r in bare} == {
        (0.0, 0.0)
    }


def test_eval_per_doc_job_budget(spark, eval_inputs):
    """The per-document table is the counts plus one aggregate per side:
    a handful of jobs, not one per distinct, union and outer join."""
    from relation_extraction_using_llms_spark.operators.metrics import eval_per_doc

    counts, preds, gold = eval_inputs
    assert jobs_in(spark, lambda: eval_per_doc(counts, preds, gold).collect()) <= 6
