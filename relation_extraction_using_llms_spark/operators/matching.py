"""Prediction↔gold matching — the 9 strategies (SURVEY.md §2.9).

All strategies share a greedy sequential bipartite skeleton: predictions in
parse order, each scored against every not-yet-matched gold relation, argmax
wins if above threshold; unmatched gold -> FN.  The semantics are
order-dependent (a gold consumed by an earlier prediction is unavailable to
later ones), which forces per-document Python.  Plan shape: preds and golds
are packed into per-(url, combo) arrays JVM-side (collect_list with map-side
partial aggregation), then a ``mapInPandas`` runs the greedy matcher per
row — fat Arrow batches of independent rows instead of one tiny batch per
document group (measured ~2x faster and near-linear core scaling vs the
cogrouped-applyInPandas formulation).  Documents are independent: no
cross-document keys, no skew (the heaviest doc bounds a row, not a
partition).

Strategy semantics mirror (not copy):
  exact        pipeline/evaluation/matcher.py:19-179 (ID equality)
  fuzzy        pipeline/evaluation/fuzzy_matcher.py:22-151 (SequenceMatcher on IDs)
  text         pipeline/evaluation/text_matcher.py:24-386
  jaccard      matchers/jaccard_matcher.py:59-253
  token        matchers/token_matcher.py:63-242
  levenshtein  matchers/levenshtein_matcher.py:62-236
  jaro_winkler matchers/jaro_winkler_matcher.py:55-210
  sbert        matchers/sbert_matcher.py (cosine kernel; embedder pluggable)
  ensemble     matchers/ensemble_matcher.py (weighted member kernels)
"""

from __future__ import annotations

import hashlib
import itertools
import math
from collections.abc import Iterable
from functools import lru_cache

import pandas as pd

from ..functions import simkernels as K
from ..functions.textnorm import norm_ws, seq_ratio, text_similarity

# ---------------------------------------------------------------------------
# kernels
# ---------------------------------------------------------------------------


@lru_cache(maxsize=65536)
def _hash_embed(text: str, dim: int = 64) -> list[float]:
    """Deterministic bag-of-ngrams hashed embedding — the stand-in for the
    served sbert/OpenAI embedding models (absent in this environment).  The
    matcher plumbing (embed-once, cosine kernel) is real; swap this function
    for a served-model call in deployment."""
    vec = [0.0] * dim
    t = norm_ws(text)
    for n in (3, 4):
        for i in range(len(t) - n + 1):
            h = int.from_bytes(hashlib.md5(t[i : i + n].encode()).digest()[:4], "big")
            vec[h % dim] += 1.0
    norm = math.sqrt(sum(v * v for v in vec)) or 1.0
    return [v / norm for v in vec]


@lru_cache(maxsize=262144)
def _cosine_similarity(t1: str, t2: str) -> float:
    if not t1 or not t2:
        return 0.0
    n1, n2 = norm_ws(t1), norm_ws(t2)
    if n1 == n2:
        return 1.0
    a, b = _hash_embed(t1), _hash_embed(t2)
    return max(0.0, sum(x * y for x, y in zip(a, b)))


TEXT_KERNELS = {
    "text": text_similarity,
    "jaccard": K.jaccard_similarity,
    "token": K.token_similarity,
    "levenshtein": K.levenshtein_similarity,
    "jaro_winkler": K.jaro_winkler_similarity,
    "sbert": _cosine_similarity,
    "bertscore": _cosine_similarity,
}

DEFAULT_THRESHOLDS = {
    # matchers/registry.py:160-217
    "exact": 1.0,
    "text": 0.7,  # fuzzy_threshold governs when use_bertscore=False
    "fuzzy": 0.7,
    "jaccard": 0.7,
    "token": 0.7,
    "levenshtein": 0.7,
    "jaro_winkler": 0.7,
    "sbert": 0.7,
    "bertscore": 0.85,
    "ensemble": 0.7,
}

ALL_STRATEGIES = list(DEFAULT_THRESHOLDS)


def ensemble_kernel(members=("text", "jaccard", "levenshtein"), weights=None):
    ks = [TEXT_KERNELS[m] for m in members]
    ws = weights or [1.0] * len(ks)
    total = sum(ws)
    ws = [w / total for w in ws]

    def kernel(t1: str, t2: str) -> float:
        return sum(w * k(t1, t2) for w, k in zip(ws, ks))

    return kernel


# ---------------------------------------------------------------------------
# pure-python match cores.
# preds: list of dicts (head_mention, tail_mention, relation_type, head_id,
#        tail_id); golds: list of dicts (rel_id, head_id, tail_id, rel_type,
#        head_mentions: list[str], tail_mentions: list[str]).
# Return: list of detail dicts {kind: tp|semantic|fp|fn, pred, gold, score}.
# ---------------------------------------------------------------------------


def match_exact(preds: list[dict], golds: list[dict], match_type: bool) -> list[dict]:
    """ID-equality greedy matching (matcher.py:19-179).  Bidirectional;
    partial (entities match, type differs) -> semantic score 0.5; FN = gold
    whose tuple was never TP-matched (partials do NOT consume gold)."""

    def tup(h, t, ty):
        return (h, t, ty if match_type else None)

    def tuples_eq(p, g):
        fwd = p[0] == g[0] and p[1] == g[1]
        rev = p[0] == g[1] and p[1] == g[0]
        ty_ok = p[2] is None or g[2] is None or p[2] == g[2]
        return (fwd or rev) and ty_ok

    matched: set = set()
    details: list[dict] = []
    for p in preds:
        if not p.get("head_id") or not p.get("tail_id"):
            details.append({"kind": "fp", "pred": p, "gold": None, "score": 0.0})
            continue
        ptup = tup(p["head_id"], p["tail_id"], p["relation_type"])
        hit = None
        partial = None
        for g in golds:
            gtup = tup(g["head_id"], g["tail_id"], g["rel_type"])
            if tuples_eq(ptup, gtup):
                if gtup not in matched:
                    matched.add(gtup)
                    hit = g
                    break
            elif match_type and (
                (p["head_id"] == g["head_id"] and p["tail_id"] == g["tail_id"])
                or (p["head_id"] == g["tail_id"] and p["tail_id"] == g["head_id"])
            ):
                partial = g  # last one wins (matcher.py:73-75)
        if hit is not None:
            details.append({"kind": "tp", "pred": p, "gold": hit, "score": 1.0})
        elif partial is not None:
            details.append({"kind": "semantic", "pred": p, "gold": partial, "score": 0.5})
        else:
            details.append({"kind": "fp", "pred": p, "gold": None, "score": 0.0})
    for g in golds:
        if tup(g["head_id"], g["tail_id"], g["rel_type"]) not in matched:
            details.append({"kind": "fn", "pred": None, "gold": g, "score": 0.0})
    return details


def _id_sim(a: str | None, b: str | None) -> float:
    if not a or not b:
        return 0.0
    na, nb = a.lower().strip(), b.lower().strip()
    if na == nb:
        return 1.0
    return seq_ratio(na, nb)


def match_fuzzy_ids(
    preds: list[dict], golds: list[dict], match_type: bool, threshold: float = 0.7
) -> list[dict]:
    """SequenceMatcher-on-IDs greedy matching (fuzzy_matcher.py:22-151).
    Partials (type differs) carry score 0.5 via the adapter
    (fuzzy_matcher_adapter.py:96-104); they do not consume gold."""
    matched_idx: set[int] = set()
    details: list[dict] = []
    for p in preds:
        if not p.get("head_id") or not p.get("tail_id"):
            details.append({"kind": "fp", "pred": p, "gold": None, "score": 0.0})
            continue
        best_idx = None
        best_sim = 0.0
        partial = None
        for idx, g in enumerate(golds):
            if idx in matched_idx:
                continue
            hs, ts = _id_sim(p["head_id"], g["head_id"]), _id_sim(p["tail_id"], g["tail_id"])
            rhs, rts = _id_sim(p["head_id"], g["tail_id"]), _id_sim(p["tail_id"], g["head_id"])
            fwd = hs >= threshold and ts >= threshold
            rev = rhs >= threshold and rts >= threshold
            if not (fwd or rev):
                continue
            sim = (hs + ts) / 2.0 if fwd else (rhs + rts) / 2.0
            if (not match_type) or p["relation_type"] == g["rel_type"]:
                if sim > best_sim:
                    best_sim, best_idx = sim, idx
            else:
                if partial is None or sim > best_sim:
                    partial, best_sim = g, sim
        if best_idx is not None:
            matched_idx.add(best_idx)
            details.append({"kind": "tp", "pred": p, "gold": golds[best_idx], "score": best_sim})
        elif partial is not None:
            details.append({"kind": "semantic", "pred": p, "gold": partial, "score": 0.5})
        else:
            details.append({"kind": "fp", "pred": p, "gold": None, "score": 0.0})
    for idx, g in enumerate(golds):
        if idx not in matched_idx:
            details.append({"kind": "fn", "pred": None, "gold": g, "score": 0.0})
    return details


def _gold_text_pairs(g: dict) -> list[tuple[str, str]]:
    """All (head_mention, tail_mention) combinations of a gold relation
    (text_matcher.py:54-103); entity ids as fallback surface forms."""
    heads = g.get("head_mentions") or [g["head_id"]]
    tails = g.get("tail_mentions") or [g["tail_id"]]
    return [(h, t) for h in heads for t in tails]


def _pair_score(kernel, p, gh, gt, gtype, match_type) -> float:
    """Forward/reverse weighted score for one mention combination
    (text_matcher.py:218-276 weighting: 0.4/0.4/0.2 with type, 0.5/0.5
    entity-only)."""
    hs, ts = kernel(p["head_mention"], gh), kernel(p["tail_mention"], gt)
    rhs, rts = kernel(p["head_mention"], gt), kernel(p["tail_mention"], gh)
    tm = 1.0 if (not match_type) or (p["relation_type"] or "").upper() == (gtype or "").upper() else 0.0
    if match_type:
        fwd = 0.4 * hs + 0.4 * ts + 0.2 * tm
        rev = 0.4 * rhs + 0.4 * rts + 0.2 * tm
    else:
        fwd = 0.5 * hs + 0.5 * ts
        rev = 0.5 * rhs + 0.5 * rts
    return max(fwd, rev)


def match_text(
    preds: list[dict], golds: list[dict], match_type: bool, threshold: float = 0.7
) -> list[dict]:
    """The default 'text' strategy (text_matcher.py:282-386): best gold by
    max over mention combinations; >=0.70 + type match -> TP, else semantic;
    both consume the gold."""
    usable = [g for g in golds if _gold_text_pairs(g)]
    matched: set[str] = set()
    details: list[dict] = []
    for p in preds:
        best_g = None
        best_score = 0.0
        for g in usable:
            if g["rel_id"] in matched:
                continue
            score = max(
                (
                    _pair_score(text_similarity, p, gh, gt, g["rel_type"], match_type)
                    for gh, gt in _gold_text_pairs(g)
                ),
                default=0.0,
            )
            if score > best_score:
                best_score, best_g = score, g
        if best_g is not None and best_score >= threshold:
            matched.add(best_g["rel_id"])
            type_ok = (not match_type) or (
                (p["relation_type"] or "").upper() == (best_g["rel_type"] or "").upper()
            )
            if best_score >= 0.70 and type_ok:
                details.append({"kind": "tp", "pred": p, "gold": best_g, "score": best_score})
            else:
                details.append({"kind": "semantic", "pred": p, "gold": best_g, "score": best_score})
        else:
            details.append({"kind": "fp", "pred": p, "gold": None, "score": best_score})
    for g in golds:
        if g["rel_id"] not in matched:
            details.append({"kind": "fn", "pred": None, "gold": g, "score": 0.0})
    return details


def _family_pair_score(kernel, p, gh, gt, gtype, match_type) -> float:
    """jaccard-family weighting (jaccard_matcher.py:196-221): with type
    0.35/0.35/0.3; entity-only 0.6*avg + 0.4*max."""
    hs, ts = kernel(p["head_mention"], gh), kernel(p["tail_mention"], gt)
    rhs, rts = kernel(p["head_mention"], gt), kernel(p["tail_mention"], gh)
    if match_type:
        tm = 1.0 if (p["relation_type"] or "").upper() == (gtype or "").upper() else 0.0
        fwd = 0.35 * hs + 0.35 * ts + 0.3 * tm
        rev = 0.35 * rhs + 0.35 * rts + 0.3 * tm
    else:
        fwd = 0.6 * ((hs + ts) / 2.0) + 0.4 * max(hs, ts)
        rev = 0.6 * ((rhs + rts) / 2.0) + 0.4 * max(rhs, rts)
    return max(fwd, rev)


def match_family(
    preds: list[dict],
    golds: list[dict],
    kernel,
    match_type: bool,
    threshold: float = 0.7,
) -> list[dict]:
    """Shared skeleton of jaccard/token/levenshtein/jaro_winkler/sbert/
    bertscore/ensemble (jaccard_matcher.py:148-253): TP iff best score >=
    threshold AND type matches (when required); else semantic; both consume."""
    usable = [g for g in golds if _gold_text_pairs(g)]
    matched: set[str] = set()
    details: list[dict] = []
    for p in preds:
        best_g = None
        best_score = 0.0
        for g in usable:
            if g["rel_id"] in matched:
                continue
            score = max(
                (
                    _family_pair_score(kernel, p, gh, gt, g["rel_type"], match_type)
                    for gh, gt in _gold_text_pairs(g)
                ),
                default=0.0,
            )
            if score > best_score:
                best_score, best_g = score, g
        if best_g is not None and best_score >= threshold:
            matched.add(best_g["rel_id"])
            type_ok = (not match_type) or (
                (p["relation_type"] or "").upper() == (best_g["rel_type"] or "").upper()
            )
            if type_ok:
                details.append({"kind": "tp", "pred": p, "gold": best_g, "score": best_score})
            else:
                details.append({"kind": "semantic", "pred": p, "gold": best_g, "score": best_score})
        else:
            details.append({"kind": "fp", "pred": p, "gold": None, "score": best_score})
    for g in golds:
        if g["rel_id"] not in matched:
            details.append({"kind": "fn", "pred": None, "gold": g, "score": 0.0})
    return details


def make_embedding_kernel(embed_fn, cache_size: int = 262144):
    """Text-similarity kernel from any ``text -> vector`` embedding
    function — THE injection point for a served embedding model (sbert /
    bertscore, reference sbert_matcher.py:73-268, bertscore_matcher.py:
    27-547).  Pass the result via ``kernels={"sbert": kernel}`` to
    ``evaluate_counts_df`` / ``evaluate_details_df`` / ``run_strategy``;
    no operator code changes needed.  The kernel is pair-cached (surface
    forms repeat massively) and must stay pure: same texts -> same score.
    Plain dict cache, not lru_cache — the kernel ships to executors inside
    a UDF closure and lru_cache wrappers of local functions do not
    pickle."""
    cache: dict = {}

    def kernel(t1: str, t2: str) -> float:
        if not t1 or not t2:
            return 0.0
        key = (t1, t2)
        got = cache.get(key)
        if got is not None:
            return got
        if norm_ws(t1) == norm_ws(t2):
            score = 1.0
        else:
            a, b = embed_fn(t1), embed_fn(t2)
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(y * y for y in b))
            score = max(0.0, dot / (na * nb)) if na > 0 and nb > 0 else 0.0
        if len(cache) >= cache_size:
            # evict the oldest half (dict preserves insertion order) — a
            # full clear() would thrash a working set slightly above the
            # cap to a ~0% hit rate on every executor batch.  max(1, ...)
            # keeps degenerate cache_size <= 1 bounded (half of 1 rounds
            # to 0 evictions, which would grow without limit).
            for k in list(itertools.islice(cache, max(1, cache_size // 2))):
                del cache[k]
        cache[key] = score
        return score

    return kernel


def run_strategy(
    strategy: str,
    preds: list[dict],
    golds: list[dict],
    match_type: bool,
    threshold: float | None = None,
    kernels: dict | None = None,
) -> list[dict]:
    """``kernels`` overrides the similarity kernel per strategy name (e.g.
    a served embedding model wrapped by ``make_embedding_kernel`` for
    sbert / bertscore, or a whole replacement ensemble).  Overrides apply
    to the kernel-family strategies (jaccard, token, levenshtein,
    jaro_winkler, sbert, bertscore, ensemble); exact / fuzzy / text have
    fixed reference semantics and ignore them.  Unlisted strategies keep
    their defaults."""
    thr = DEFAULT_THRESHOLDS.get(strategy, 0.7) if threshold is None else threshold
    if strategy == "exact":
        return match_exact(preds, golds, match_type)
    if strategy == "fuzzy":
        return match_fuzzy_ids(preds, golds, match_type, thr)
    if strategy == "text":
        return match_text(preds, golds, match_type, thr)
    if strategy == "ensemble":
        kernel = (kernels or {}).get("ensemble") or ensemble_kernel()
        return match_family(preds, golds, kernel, match_type, thr)
    kernel = (kernels or {}).get(strategy) or TEXT_KERNELS[strategy]
    return match_family(preds, golds, kernel, match_type, thr)


# ---------------------------------------------------------------------------
# Spark surface: cogrouped applyInPandas keyed by url.
# ---------------------------------------------------------------------------

_PRED_COLS = [
    "url",
    "technique",
    "model",
    "pred_index",
    "head_mention",
    "tail_mention",
    "relation_type",
    "head_id",
    "tail_id",
]

EVAL_COUNTS_SCHEMA = (
    "url string, technique string, model string, strategy string,"
    " with_types boolean, tp int, fp int, fn int, n_semantic int,"
    " n_partial int, semantic_sum double, n_gold int, n_pred int"
)

EVAL_DETAILS_SCHEMA = (
    "url string, technique string, model string, strategy string,"
    " with_types boolean, kind string, pred_head string, pred_tail string,"
    " pred_type string, pred_head_id string, pred_tail_id string,"
    " gold_rel_id string, gold_head_id string, gold_tail_id string,"
    " gold_type string, score double"
)


def gold_bundle(gold_relations_df, gold_entities_df):
    """One row per gold relation with head/tail surface-form arrays —
    the input the text-family matchers need (convert_gold_relation_to_text,
    text_matcher.py:54-103)."""
    from pyspark.sql import functions as F

    ents = gold_entities_df.select(
        "url",
        "entity_id",
        F.transform("mentions", lambda m: m["text"]).alias("texts"),
    )
    return (
        gold_relations_df.alias("r")
        .join(
            ents.alias("h"),
            (F.col("r.url") == F.col("h.url")) & (F.col("r.head_id") == F.col("h.entity_id")),
            "left",
        )
        .join(
            ents.alias("t"),
            (F.col("r.url") == F.col("t.url")) & (F.col("r.tail_id") == F.col("t.entity_id")),
            "left",
        )
        .select(
            "r.url",
            "r.rel_id",
            "r.head_id",
            "r.tail_id",
            "r.rel_type",
            F.col("h.texts").alias("head_mentions"),
            F.col("t.texts").alias("tail_mentions"),
        )
    )


def _discover_combos(pred_df) -> list[tuple[str, str]]:
    """Tiny driver-side metadata read (distinct combo list) — not a data
    collect; callers should pass ``combos`` explicitly in pipelines.
    The result is small, but producing it EXECUTES the upstream plan —
    over a live UDF DAG (no trustworthy stats) that means running e.g.
    the whole parse stage once extra, so warn there."""
    from ..functions.planstats import estimated_rows

    _, confident = estimated_rows(pred_df)
    if not confident:
        import warnings

        warnings.warn(
            "combos not provided and the prediction plan is not a "
            "materialized scan: discovering the combo list executes the "
            "upstream DAG once extra. Pass combos=[(technique, model), "
            "...] explicitly (pipelines always do).",
            stacklevel=3,
        )
    rows = pred_df.select("technique", "model").distinct().collect()  # driver-metadata collect
    return [(r["technique"], r["model"]) for r in rows]


def packed_eval_input(pred_df, gold_bundle_df, combos):
    """One row per url with ALL combos' predictions in one flat array
    (``combo_preds: array<struct<technique, model, p>>``) plus the gold
    array — ONE url-grain shuffle for the prediction side (the former
    two-level (url, combo) -> url collect_list re-shuffled the same bytes
    twice; measured −0.15 s at sf0.1).  Per-combo grouping and
    pred_index ordering happen Python-side in ``_combo_pred_map`` —
    ``pred_index`` is unique per (url, combo) (parse order), so the sort
    is exactly the old ``array_sort(collect_list(pred_struct))`` order.
    Each url's gold array still crosses the shuffle exactly once.

    Missing (url, combo) pairs are synthesized Python-side from the
    ``combos`` list (needed by the failed-doc filter, aggregator.py:46-91);
    urls with no gold carry an empty golds array."""
    from pyspark.sql import functions as F

    pred_struct = F.struct(
        "pred_index", "head_mention", "tail_mention", "relation_type",
        "head_id", "tail_id",
    )
    preds_packed = pred_df.groupBy("url").agg(
        F.collect_list(
            F.struct("technique", "model", pred_struct.alias("p"))
        ).alias("combo_preds")
    )
    # Golds iterate in document/insertion order (the reference matchers'
    # contract).  rel_ids are "R<k>" strings — lexicographic array_sort puts
    # R10 before R2, so lead the sort struct with the numeric suffix.
    rel_ord = F.coalesce(
        F.regexp_extract("rel_id", r"(\d+)$", 1).cast("int"), F.lit(0)
    )
    gold_struct = F.struct(
        rel_ord.alias("rel_ord"), "rel_id", "head_id", "tail_id", "rel_type",
        "head_mentions", "tail_mentions",
    )
    golds_packed = gold_bundle_df.groupBy("url").agg(
        F.array_sort(F.collect_list(gold_struct)).alias("golds")
    )
    return preds_packed.join(golds_packed, "url", "full_outer")


_PRED_ORDER = ("pred_index", "head_mention", "tail_mention", "relation_type", "head_id", "tail_id")


def _pred_order(p: dict) -> tuple:
    """Sort key over the whole packed prediction struct, nulls first: the
    order of the former JVM ``array_sort`` over ``struct(pred_index, ...)``,
    and deterministic even when ``pred_index`` repeats."""
    return tuple((p[k] is not None, p[k]) for k in _PRED_ORDER)


def _combo_pred_map(raw) -> dict[tuple, list[dict]]:
    """Group the flat (technique, model, p) array by combo and order each
    combo's predictions by parse order (``_pred_order``), whatever order
    ``collect_list`` gathered them in."""
    out: dict[tuple, list[dict]] = {}
    for c in raw if raw is not None else []:
        d = c.asDict() if hasattr(c, "asDict") else dict(c)
        p = d["p"]
        out.setdefault((d["technique"], d["model"]), []).append(
            p.asDict() if hasattr(p, "asDict") else dict(p)
        )
    for preds in out.values():
        preds.sort(key=_pred_order)
    return out


def _row_golds(raw) -> list[dict]:
    out = []
    for g in raw if raw is not None else []:
        d = g.asDict() if hasattr(g, "asDict") else dict(g)
        hm, tm = d.get("head_mentions"), d.get("tail_mentions")
        d["head_mentions"] = [] if hm is None else list(hm)
        d["tail_mentions"] = [] if tm is None else list(tm)
        out.append(d)
    return out


def _match_walk(pdf, combos, strategies, wt_variants, thresholds, kernels):
    """The per-url match walk over one ``packed_eval_input`` batch: each
    url's golds, then each combo's predictions, then ``run_strategy`` per
    strategy x with_types variant.  Yields
    ((url, technique, model, strategy, with_types), preds, golds, details)."""
    for url, combo_raw, graw in zip(pdf["url"], pdf["combo_preds"], pdf["golds"]):
        golds = _row_golds(graw)
        by_combo = _combo_pred_map(combo_raw)
        for tech, model in combos:
            preds = by_combo.get((tech, model), [])
            for strategy in strategies:
                for wt in wt_variants:
                    details = run_strategy(
                        strategy, preds, golds, wt, thresholds.get(strategy), kernels
                    )
                    yield (url, tech, model, strategy, wt), preds, golds, details


def evaluate_counts_df(
    pred_df,
    gold_bundle_df,
    strategies: Iterable[str] = ("exact", "text", "jaccard"),
    with_types_variants: Iterable[bool] = (True, False),
    combos: list[tuple[str, str]] | None = None,
    thresholds: dict | None = None,
    kernels: dict | None = None,
):
    """Per-(url, combo, strategy, with_types) match counts.

    Prediction order inside each packed array is parse order (pred_index
    leads the struct, so array_sort orders by it); gold order is numeric
    rel-ordinal (insertion) order — both deterministic, matching the greedy
    matchers' iteration contract (SURVEY.md §7.3 risk 2).

    ``kernels``: per-strategy similarity-kernel overrides (see
    ``make_embedding_kernel``) — how a served sbert/bertscore embedder
    plugs in; it is shipped to executors inside the UDF closure."""
    strategies = list(strategies)
    wt_variants = list(with_types_variants)
    thresholds = thresholds or {}
    if combos is None:
        combos = _discover_combos(pred_df)
    work = packed_eval_input(pred_df.select(*_PRED_COLS), gold_bundle_df, combos)

    def fn(batches):
        for pdf in batches:
            out = []
            for key, preds, golds, details in _match_walk(
                pdf, combos, strategies, wt_variants, thresholds, kernels
            ):
                sem = [d for d in details if d["kind"] == "semantic"]
                out.append(
                    (
                        *key,
                        sum(1 for d in details if d["kind"] == "tp"),
                        sum(1 for d in details if d["kind"] == "fp"),
                        sum(1 for d in details if d["kind"] == "fn"),
                        len(sem),
                        sum(1 for d in sem if 0.5 <= d["score"] < 0.95),
                        float(sum(d["score"] for d in sem)),
                        len(golds),
                        len(preds),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "url", "technique", "model", "strategy", "with_types",
                    "tp", "fp", "fn", "n_semantic", "n_partial",
                    "semantic_sum", "n_gold", "n_pred",
                ],
            )

    return work.mapInPandas(fn, schema=EVAL_COUNTS_SCHEMA)


def classify_matches(details_df):
    """Q11 — the reference logger's 4-way per-prediction classification
    (document_logger.py:104-186): each prediction is labeled by SET
    membership over the document's whole evaluation result, not by its own
    match kind — exact_match if its (head, tail, type) tuple appears among
    the true-positive gold tuples (either direction), else partial_match
    if its entity pair appears among the semantic-match pairs, else
    hallucination if among the false-positive tuples, preceded by
    unresolved when entity linking failed.  Pure joins against
    symmetric-closed key sets — no Python."""
    from pyspark.sql import functions as F

    keys = ["url", "technique", "model", "strategy", "with_types"]
    base = details_df.where(F.col("kind").isin("tp", "semantic", "fp")).select(
        *keys, "kind", "pred_head", "pred_tail", "pred_type",
        "pred_head_id", "pred_tail_id",
    )

    def sym(df, a, b, extra=None):
        cols = [*keys, F.col(a).alias("x"), F.col(b).alias("y")] + (
            [F.col(extra).alias("z")] if extra else []
        )
        rev = [*keys, F.col(b).alias("x"), F.col(a).alias("y")] + (
            [F.col(extra).alias("z")] if extra else []
        )
        return df.select(*cols).unionByName(df.select(*rev)).distinct()

    def keyed(df, flag):
        out = df.withColumn(flag, F.lit(True))
        for k in keys:
            out = out.withColumnRenamed(k, f"k_{k}")
        return out

    tp_set = keyed(
        sym(
            details_df.where(F.col("kind") == "tp"),
            "gold_head_id", "gold_tail_id", "gold_type",
        ),
        "is_tp",
    )
    # partial = the evaluator's score window over semantic matches
    # (evaluator.py:175-186: 0.5 <= score < 0.95)
    partial_set = keyed(
        sym(
            details_df.where(
                (F.col("kind") == "semantic")
                & (F.col("score") >= 0.5)
                & (F.col("score") < 0.95)
                & F.col("pred_head_id").isNotNull()
                & F.col("pred_tail_id").isNotNull()
            ),
            "pred_head_id", "pred_tail_id",
        ),
        "is_partial",
    )
    fp_set = keyed(
        sym(
            details_df.where(
                (F.col("kind") == "fp")
                & F.col("pred_head_id").isNotNull()
                & F.col("pred_tail_id").isNotNull()
            ),
            "pred_head_id", "pred_tail_id", "pred_type",
        ),
        "is_fp",
    )

    def flag_join(cur, right, value_conds):
        cond = F.lit(True)
        for k in keys:
            cond = cond & (cur[k] == right[f"k_{k}"])
        for a, b in value_conds:
            cond = cond & (cur[a] == right[b])
        joined = cur.join(right, cond, "left")
        return joined.drop(*[f"k_{k}" for k in keys], "x", "y", "z")

    out = flag_join(
        base, tp_set, [("pred_head_id", "x"), ("pred_tail_id", "y"), ("pred_type", "z")]
    )
    out = flag_join(out, partial_set, [("pred_head_id", "x"), ("pred_tail_id", "y")])
    out = flag_join(
        out, fp_set, [("pred_head_id", "x"), ("pred_tail_id", "y"), ("pred_type", "z")]
    )
    status = (
        F.when(
            F.col("pred_head_id").isNull() | F.col("pred_tail_id").isNull(),
            "unresolved",
        )
        .when(F.col("is_tp"), "exact_match")
        .when(F.col("is_partial"), "partial_match")
        .when(F.col("is_fp"), "hallucination")
        .otherwise("unknown")
    )
    return out.select(
        *keys, "pred_head", "pred_tail", "pred_type",
        "pred_head_id", "pred_tail_id", status.alias("status"),
    )


def evaluate_details_df(
    pred_df,
    gold_bundle_df,
    strategies: Iterable[str] = ("exact", "text", "jaccard"),
    with_types: bool = True,
    combos: list[tuple[str, str]] | None = None,
    thresholds: dict | None = None,
    kernels: dict | None = None,
):
    """Per-prediction/gold detailed match records (evaluator.py:269-361,
    document_exporter.py) — also the input for per-type metrics (Q7).
    ``kernels`` as in ``evaluate_counts_df``."""
    strategies = list(strategies)
    thresholds = thresholds or {}
    if combos is None:
        combos = _discover_combos(pred_df)
    work = packed_eval_input(pred_df.select(*_PRED_COLS), gold_bundle_df, combos)
    cols = [f.split()[0] for f in EVAL_DETAILS_SCHEMA.split(",")]

    def fn(batches):
        for pdf in batches:
            rows = []
            for key, _, _, details in _match_walk(
                pdf, combos, strategies, (with_types,), thresholds, kernels
            ):
                for d in details:
                    p, g = d["pred"] or {}, d["gold"] or {}
                    rows.append(
                        (
                            *key,
                            d["kind"],
                            p.get("head_mention"), p.get("tail_mention"),
                            p.get("relation_type"), p.get("head_id"),
                            p.get("tail_id"),
                            g.get("rel_id"), g.get("head_id"),
                            g.get("tail_id"), g.get("rel_type"),
                            float(d["score"]),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return work.mapInPandas(fn, schema=EVAL_DETAILS_SCHEMA)
