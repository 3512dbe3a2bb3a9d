"""Per-document evaluation metrics (SURVEY.md §2.10, Q1-Q12).

All formulas from pipeline/evaluation/metrics.py and evaluator.py:243-267,
expressed as built-in column expressions over the match-counts table —
whole-stage-codegen territory, no Python.  Redundancy (Q5) and graph edit
distance (Q6) need the triples themselves: one aggregate per (url, combo)
over the predictions and one per url over the gold relations collect each
document's edge set, and both metrics are set arithmetic on those arrays,
joined back on (url, combo).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMBO = ["technique", "model"]
EVAL_KEY = ["url", *COMBO, "strategy", "with_types"]


def _safe_div(num, den):
    return F.when(den > 0, num / den).otherwise(F.lit(0.0))


def per_doc_metrics(counts_df: DataFrame) -> DataFrame:
    """counts -> P/R/F1, exact-match/omission/hallucination rates, fuzzy
    P/R/F1 (Q1-Q4, Q8-Q10).

    Fuzzy metrics treat every semantic match as correct (evaluator.py:
    252-261: fuzzy_tp = tp + partials + high-semantic = tp + n_semantic).
    ``bertscore`` = mean semantic-match score (evaluator.py:263-267).
    """
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    n_gold, n_pred = F.col("n_gold"), F.col("n_pred")
    precision = _safe_div(tp, tp + fp)
    recall = _safe_div(tp, tp + fn)
    f1 = _safe_div(2 * precision * recall, precision + recall)
    fuzzy_tp = tp + F.col("n_semantic")
    fuzzy_fp = fp - F.col("n_semantic")
    fuzzy_p = _safe_div(fuzzy_tp, fuzzy_tp + fuzzy_fp)
    fuzzy_r = _safe_div(fuzzy_tp, fuzzy_tp + fn)
    return counts_df.select(
        *EVAL_KEY,
        "tp",
        "fp",
        "fn",
        "n_semantic",
        "n_partial",
        "n_gold",
        "n_pred",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1_score"),
        _safe_div(tp, n_gold).alias("exact_match_rate"),
        _safe_div(fn, n_gold).alias("omission_rate"),
        _safe_div(fp, n_pred).alias("hallucination_rate"),
        fuzzy_p.alias("fuzzy_precision"),
        fuzzy_r.alias("fuzzy_recall"),
        _safe_div(2 * fuzzy_p * fuzzy_r, fuzzy_p + fuzzy_r).alias("fuzzy_f1"),
        _safe_div(F.col("semantic_sum"), F.col("n_semantic")).alias("bertscore"),
    )


def per_type_metrics(details_df: DataFrame) -> DataFrame:
    """Q7 (metrics.py:162-218): P/R/F1 per relation type from labeled match
    records.  TP/FN types come from the gold relation, FP types from the
    prediction."""
    typed = details_df.select(
        "url",
        *COMBO,
        "strategy",
        "with_types",
        "kind",
        F.when(F.col("kind") == "fp", F.col("pred_type"))
        .otherwise(F.col("gold_type"))
        .alias("rel_type"),
    ).where(F.col("kind").isin("tp", "fp", "fn"))
    agg = typed.groupBy("url", *COMBO, "strategy", "with_types", "rel_type").agg(
        F.sum(F.when(F.col("kind") == "tp", 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("kind") == "fp", 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("kind") == "fn", 1).otherwise(0)).alias("fn"),
    )
    p = _safe_div(F.col("tp"), F.col("tp") + F.col("fp"))
    r = _safe_div(F.col("tp"), F.col("tp") + F.col("fn"))
    return agg.select(
        "url",
        *COMBO,
        "strategy",
        "with_types",
        "rel_type",
        "tp",
        "fp",
        "fn",
        p.alias("precision"),
        r.alias("recall"),
        _safe_div(2 * p * r, p + r).alias("f1_score"),
    )


def _nodes(edges):
    """Distinct endpoints of an array of (head_id, tail_id) edge structs."""
    return F.array_distinct(
        F.concat(
            F.transform(edges, lambda e: e["head_id"]),
            F.transform(edges, lambda e: e["tail_id"]),
        )
    )


def _sym_diff_size(p, g):
    """|P ⊕ G| = |P| + |G| - 2|P ∩ G| over two set-valued arrays."""
    return F.size(p) + F.size(g) - 2 * F.size(F.array_intersect(p, g))


def eval_per_doc(
    counts_df: DataFrame,
    pred_df: DataFrame | None = None,
    gold_rel_df: DataFrame | None = None,
) -> DataFrame:
    """Full per-document EvaluationResult table: metric expressions over
    counts, plus redundancy (Q5) and graph edit distance (Q6) when the
    triples are provided (0.0 otherwise).

    Q5 (metrics.py:76-105): duplicates over (head_id, tail_id, type),
    counting the reverse direction as a duplicate; predictions lacking ids
    are skipped but stay in the denominator.

    Q6 (metrics.py:107-160): |pred_nodes ⊕ gold_nodes| +
    |pred_edges ⊕ gold_edges| on the directed (head -> tail) graphs.
    Duplicate edges collapse (DiGraph semantics); prediction edges and
    nodes come from id-resolved predictions only.

    Both are per-document set arithmetic: one aggregate per side collects
    each document's (small) edge set, and the sizes of the sets and of
    their intersection give the symmetric differences — no distincts,
    unions or outer joins.  A side with no rows for a document is the
    empty set.
    """
    key = ["url", *COMBO]
    out = per_doc_metrics(counts_df)
    columns = out.columns
    if pred_df is None:
        return out.select(
            *columns,
            F.lit(0.0).alias("redundancy_rate"),
            F.lit(0.0).alias("graph_edit_distance"),
        )
    resolved = F.col("head_id").isNotNull() & F.col("tail_id").isNotNull()
    pair_key = F.when(
        resolved,
        F.concat_ws(
            "",
            F.least("head_id", "tail_id"),
            F.greatest("head_id", "tail_id"),
            F.col("relation_type"),
        ),
    )
    preds = pred_df.groupBy(*key).agg(
        F.count(F.lit(1)).alias("_n"),
        F.count(pair_key).alias("_keyed"),
        F.size(F.collect_set(pair_key)).alias("_distinct"),
        F.collect_set(F.when(resolved, F.struct("head_id", "tail_id"))).alias(
            "_pred_edges"
        ),
    )
    out = out.join(preds, key, "left")
    redundancy = _safe_div(F.col("_keyed") - F.col("_distinct"), F.col("_n"))
    if gold_rel_df is None:
        ged = F.lit(0.0)
    else:
        gold = gold_rel_df.groupBy("url").agg(
            F.collect_set(F.struct("head_id", "tail_id")).alias("_gold_edges")
        )
        out = out.join(gold, "url", "left")
        p = F.coalesce("_pred_edges", F.array())
        g = F.coalesce("_gold_edges", F.array())
        ged = (
            _sym_diff_size(p, g) + _sym_diff_size(_nodes(p), _nodes(g))
        ).cast("double")
    return out.select(
        *columns,
        redundancy.alias("redundancy_rate"),
        ged.alias("graph_edit_distance"),
    )
