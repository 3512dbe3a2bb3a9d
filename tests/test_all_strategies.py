"""End-to-end smoke across ALL nine matching strategies + ensemble, and
invariant checks that don't need the reference (which can't run
token/levenshtein/jaro_winkler/sbert here)."""

from __future__ import annotations

import pytest

from relation_extraction_using_llms_spark.operators.matching import (
    ALL_STRATEGIES,
    run_strategy,
)


@pytest.fixture(scope="module")
def eval_counts(spark, sf_dir):
    from relation_extraction_using_llms_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from relation_extraction_using_llms_spark.sources.stub_model import make_stub_model
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    cfg = PipelineConfig(
        techniques=["ReAct"],
        models=["stub-large"],
        strategies=ALL_STRATEGIES,
        with_types_variants=(True, False),
    )
    pages = pages_df(spark, sf_dir).limit(80)
    stages = run_pipeline(spark, pages, cfg, model_fn=make_stub_model(sf_dir))
    return stages["counts"].collect()


def test_every_strategy_produces_counts(eval_counts):
    by_strategy = {}
    for r in eval_counts:
        by_strategy.setdefault(r["strategy"], []).append(r)
    assert set(by_strategy) == set(ALL_STRATEGIES)
    for strategy, rows in by_strategy.items():
        assert len(rows) == 80 * 2, strategy  # 80 docs x 2 type variants
        total_tp = sum(r["tp"] for r in rows)
        assert total_tp > 0, strategy


def test_count_invariants(eval_counts):
    for r in eval_counts:
        # every prediction lands in exactly one bucket
        assert r["tp"] + r["fp"] + r["n_semantic"] == r["n_pred"], r
        # gold accounting: consumed + FN covers all gold for consuming
        # strategies; for exact/fuzzy partial-matches don't consume gold
        if r["strategy"] == "exact":
            # matched gold tracked by TUPLE (matcher.py): duplicate gold
            # tuples all leave the FN set when one matches
            assert r["tp"] + r["fn"] <= r["n_gold"], r
        elif r["strategy"] == "fuzzy":
            assert r["tp"] + r["fn"] == r["n_gold"], r
        else:
            assert r["tp"] + r["n_semantic"] + r["fn"] == r["n_gold"], r
        assert r["semantic_sum"] >= 0.0


def test_all_strategies_consistency_zero_violations(spark, sf_dir):
    """The driver-facing derived oracle must certify ZERO violations: every
    prediction classified exactly once against INDEPENDENTLY derived
    n_pred, gold never over-consumed, UDF-reported counts agreeing with
    the matcher-input snapshots, and no url dropped from the output."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["all_strategies_consistency"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(ALL_STRATEGIES)
    for r in rows:
        assert r["pred_sum_violations"] == 0, r
        assert r["gold_bound_violations"] == 0, r
        assert r["reported_count_violations"] == 0, r
        assert r["missing_urls"] == 0, r
        assert r["gold_exact_urls"] <= r["n_urls"], r


def test_strategy_ordering_sanity(eval_counts):
    """Looser kernels should not find fewer matches than exact-ID matching
    in aggregate (they match on text, which the stub corrupts less than
    resolution loses)."""
    tp = {}
    for r in eval_counts:
        if r["with_types"]:
            tp[r["strategy"]] = tp.get(r["strategy"], 0) + r["tp"]
    assert tp["text"] >= tp["exact"] * 0.8
    assert tp["jaccard"] > 0 and tp["token"] > 0
    assert tp["levenshtein"] > 0 and tp["jaro_winkler"] > 0
    assert tp["ensemble"] > 0 and tp["sbert"] > 0


def test_run_strategy_empty_inputs():
    for strategy in ALL_STRATEGIES:
        assert run_strategy(strategy, [], [], True) == []
        golds = [
            {
                "rel_id": "R0",
                "head_id": "A",
                "tail_id": "B",
                "rel_type": "Bind",
                "head_mentions": ["alpha"],
                "tail_mentions": ["beta"],
            }
        ]
        out = run_strategy(strategy, [], golds, True)
        assert [d["kind"] for d in out] == ["fn"], strategy
        preds = [
            {
                "pred_index": 0,
                "head_mention": "alpha",
                "tail_mention": "beta",
                "relation_type": "Bind",
                "head_id": "A",
                "tail_id": "B",
            }
        ]
        out2 = run_strategy(strategy, preds, golds, True)
        kinds = sorted(d["kind"] for d in out2)
        assert kinds == ["tp"], (strategy, out2)


def test_custom_embedding_kernel_injects_into_sbert(spark):
    """make_embedding_kernel is the served-model injection point: swapping
    the embedder must change sbert outcomes without touching operator code,
    both in the pure kernel path and through the Spark UDF closure."""
    from relation_extraction_using_llms_spark.operators.matching import (
        evaluate_counts_df,
        make_embedding_kernel,
        run_strategy,
    )

    preds = [{
        "pred_index": 0, "head_mention": "alpha", "tail_mention": "beta",
        "relation_type": "Association", "head_id": "H", "tail_id": "T",
    }]
    golds = [{
        "rel_id": "R1", "head_id": "H2", "tail_id": "T2",
        "rel_type": "Association",
        "head_mentions": ["gamma"], "tail_mentions": ["delta"],
    }]
    base = run_strategy("sbert", preds, golds, True)
    assert not any(d["kind"] == "tp" for d in base)  # hash-embed: no match

    everything_matches = make_embedding_kernel(lambda t: [1.0, 0.0])
    injected = run_strategy(
        "sbert", preds, golds, True, kernels={"sbert": everything_matches}
    )
    assert any(d["kind"] in ("tp", "semantic") for d in injected)

    pred_df = spark.createDataFrame(
        [("u1", "IO", "m", 0, "alpha", "beta", "Association", "H", "T")],
        "url string, technique string, model string, pred_index int,"
        " head_mention string, tail_mention string, relation_type string,"
        " head_id string, tail_id string",
    )
    bundle = spark.createDataFrame(
        [("u1", "R1", "H2", "T2", "Association", ["gamma"], ["delta"])],
        "url string, rel_id string, head_id string, tail_id string,"
        " rel_type string, head_mentions array<string>,"
        " tail_mentions array<string>",
    )
    kw = dict(strategies=["sbert"], with_types_variants=(True,),
              combos=[("IO", "m")])
    plain = evaluate_counts_df(pred_df, bundle, **kw).collect()[0]
    swapped = evaluate_counts_df(
        pred_df, bundle, kernels={"sbert": everything_matches}, **kw
    ).collect()[0]
    assert plain["tp"] + plain["n_semantic"] == 0
    assert swapped["tp"] + swapped["n_semantic"] >= 1


def test_embedding_kernel_cache_evicts_partially():
    """Hitting the cache cap must evict only the oldest half, so a working
    set slightly above the cap keeps a useful hit rate (a full clear()
    would thrash to ~0%)."""
    from relation_extraction_using_llms_spark.operators.matching import (
        make_embedding_kernel,
    )

    calls = []

    def embed(t):
        calls.append(t)
        return [float(len(t)), 1.0]

    kernel = make_embedding_kernel(embed, cache_size=8)
    pairs = [(f"aa{i}", f"bb{i}") for i in range(9)]
    for a, b in pairs:  # 9th insert triggers eviction of the oldest 4
        kernel(a, b)
    n_first = len(calls)
    for a, b in pairs[4:]:  # the newest half must still be cached
        kernel(a, b)
    assert len(calls) == n_first  # zero extra embed calls (clear() -> +8)


def test_ensemble_kernel_override_applies():
    """kernels={'ensemble': ...} must replace the default member mix."""
    from relation_extraction_using_llms_spark.operators.matching import (
        make_embedding_kernel,
        run_strategy,
    )

    preds = [{
        "pred_index": 0, "head_mention": "alpha", "tail_mention": "beta",
        "relation_type": "Association", "head_id": "H", "tail_id": "T",
    }]
    golds = [{
        "rel_id": "R1", "head_id": "H2", "tail_id": "T2",
        "rel_type": "Association",
        "head_mentions": ["gamma"], "tail_mentions": ["delta"],
    }]
    base = run_strategy("ensemble", preds, golds, True)
    assert not any(d["kind"] in ("tp", "semantic") for d in base)
    injected = run_strategy(
        "ensemble", preds, golds, True,
        kernels={"ensemble": make_embedding_kernel(lambda t: [1.0])},
    )
    assert any(d["kind"] in ("tp", "semantic") for d in injected)


def test_match_details_consistency_zero_mismatches(spark, sf_dir):
    """The details↔counts reconciliation oracle must certify ZERO
    mismatches: the Q12 detail records aggregate exactly to the per-doc
    tp/fp/fn/n_semantic from the independent count-based matcher run, and
    no detail group lacks a per-doc row."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["match_details_consistency"](
        spark, sf_dir
    ).collect()
    assert rows, "reconciliation must cover at least one combo"
    for r in rows:
        assert r["tp_mismatches"] == 0, r
        assert r["fp_mismatches"] == 0, r
        assert r["fn_mismatches"] == 0, r
        assert r["semantic_mismatches"] == 0, r
        assert r["orphan_detail_groups"] == 0, r
        assert r["total_tp"] == r["total_tp_details"], r
        assert r["total_fp"] == r["total_fp_details"], r
        assert r["total_fn"] == r["total_fn_details"], r
        assert r["total_semantic"] == r["total_semantic_details"], r


def test_combo_pred_map_order_ignores_arrival_order():
    """Predictions sharing a pred_index (and a None mention) come out in
    the same order whatever order collect_list gathered them in."""
    import random

    from relation_extraction_using_llms_spark.operators.matching import _combo_pred_map

    def pred(i, head, tail, rel):
        return {"pred_index": i, "head_mention": head, "tail_mention": tail,
                "relation_type": rel, "head_id": None, "tail_id": None}

    preds = [
        pred(0, "b", "x", "Bind"), pred(0, "a", "y", "Bind"), pred(0, "a", "x", "Assoc"),
        pred(0, None, "x", "Bind"), pred(1, "a", None, None), pred(1, "a", "x", "Bind"),
    ]
    want = None
    rng = random.Random(7)
    for _ in range(20):
        rows = [{"technique": "IO", "model": "m", "p": p} for p in preds]
        rng.shuffle(rows)
        got = _combo_pred_map(rows)[("IO", "m")]
        want = want or got
        assert got == want
    assert [(p["pred_index"], p["head_mention"], p["tail_mention"]) for p in want] == [
        (0, None, "x"), (0, "a", "x"), (0, "a", "y"), (0, "b", "x"),
        (1, "a", None), (1, "a", "x"),
    ]
