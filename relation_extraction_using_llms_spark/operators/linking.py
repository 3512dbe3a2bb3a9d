"""Entity linking: mention -> entity_id (SURVEY.md §2.8, L1/L2).

Reference cascade (pipeline/parsing/entity_resolver.py:26-118), per mention:
  1. exact case-insensitive equality against any stored surface form
     (entity_map.py:88-133 fuzzy=False)
  2. normalized equality vs canonical_name / common_mentions
  3. best fuzzy score >= 0.7 over {SequenceMatcher ratio, core-term Jaccard,
     containment bonus 0.85} against canonical + top-10 common mentions
  4. for mentions >10 chars: >=60% core-term coverage against the first 20
     stored mentions, score 0.7*coverage + 0.3*ratio, threshold 0.7
Ties at every step resolve to the earliest-created entity (the reference
iterates its dict in insertion order).

Spark architecture: ``resolve_in_document`` applies the reference's own
search-space pruning (entity_resolver.py:52-62) — a mention's candidates
are its document's gold entities — and scores each distinct (mention,
entity) pair once with the pure-Python cascade kernel below; a JVM-side
min picks each (url, mention)'s winner.  The catalog columns the kernel
reads come from ``entity_catalog.full_catalog``.
"""

from __future__ import annotations

import pandas as pd

from ..functions.textnorm import core_terms, norm_full, seq_ratio

# The reference cascade's score threshold (entity_resolver.py), and the
# number of chunks a hot entity's mentions are salted into before scoring.
_FUZZY_THRESHOLD = 0.7
_MENTION_SALT = 64

# ---------------------------------------------------------------------------
# cascade kernel (pure python).  entity rows: dicts with entity_id,
# canonical_name, common_mentions (top-10), exact_forms (set of lowered
# stripped surface forms), first20 (first 20 stored mention texts),
# created_ord (creation-order key).
# ---------------------------------------------------------------------------


def _similarity_score(mention: str, ent: dict) -> float:
    """Step-3 scoring (entity_resolver.py:164-228)."""
    m_norm = norm_full(mention)
    m_terms = core_terms(mention)
    best = 0.0
    candidates = []
    if ent.get("canonical_name"):
        candidates.append(ent["canonical_name"])
    candidates.extend((ent.get("common_mentions") or [])[:10])
    for cand in candidates:
        c_norm = norm_full(cand)
        best = max(best, seq_ratio(m_norm, c_norm))
        c_terms = core_terms(cand)
        if m_terms and c_terms:
            best = max(best, len(m_terms & c_terms) / len(m_terms | c_terms))
        if m_norm and c_norm and (m_norm in c_norm or c_norm in m_norm):
            best = max(best, 0.85)
    return best


def _partial_match_score(mention: str, ent: dict) -> float:
    """Step-4 scoring (entity_resolver.py:230-296): best over first 20
    stored mentions with >=60% core-term coverage."""
    m_norm = norm_full(mention)
    m_terms = core_terms(mention)
    if not m_terms:
        return 0.0
    best = 0.0
    for stored in (ent.get("first20") or [])[:20]:
        s_terms = core_terms(stored)
        if not s_terms:
            continue
        coverage = len(m_terms & s_terms) / len(m_terms)
        if coverage >= 0.6:
            score = coverage * 0.7 + seq_ratio(m_norm, norm_full(stored)) * 0.3
            if score > best:
                best = score
    return best


def resolve_mention_py(
    mention: str, entities: list[dict], fuzzy_threshold: float = _FUZZY_THRESHOLD
) -> str | None:
    """Full cascade over candidate entities sorted by created_ord."""
    mention = (mention or "").strip()
    if not mention or not entities:
        return None
    # callers pass entities pre-sorted by created_ord; re-sort only if needed
    ordered = entities
    if any(
        (entities[i].get("created_ord") or "") > (entities[i + 1].get("created_ord") or "")
        for i in range(len(entities) - 1)
    ):
        ordered = sorted(entities, key=lambda e: e.get("created_ord") or "")
    m_lower = mention.lower().strip()
    # 1. exact surface-form equality
    for ent in ordered:
        if m_lower in (ent.get("exact_forms") or ()):  # lowered+stripped forms
            return ent["entity_id"]
    # 2. normalized equality vs canonical + common mentions
    m_norm = norm_full(mention)
    for ent in ordered:
        if m_norm == norm_full(ent.get("canonical_name") or ""):
            return ent["entity_id"]
        for cm in ent.get("common_mentions") or []:
            if m_norm == norm_full(cm):
                return ent["entity_id"]
    # 3. fuzzy best-score (strictly-greater keeps earliest on ties)
    best, best_score = None, 0.0
    for ent in ordered:
        score = _similarity_score(mention, ent)
        if score > best_score and score >= fuzzy_threshold:
            best_score, best = score, ent
    if best is not None:
        return best["entity_id"]
    # 4. partial match for long mentions
    if len(mention) > 10:
        best, best_score = None, 0.0
        for ent in ordered:
            score = _partial_match_score(mention, ent)
            if score > best_score:
                best_score, best = score, ent
        if best is not None and best_score >= fuzzy_threshold:
            return best["entity_id"]
    return None


def _pair_candidates_py(mention: str, ent: dict) -> list:
    """All (stage, score) cascade qualifications of one (mention, entity)
    pair.  The per-(url, mention) winner is the min of
    (stage, -score, created_ord, entity_id) over its document's pairs —
    exactly ``resolve_mention_py``'s staged precedence: any stage-1 hit
    beats all stage-2, fuzzy ties resolve to the earliest-created entity."""
    m = (mention or "").strip()
    if not m:
        return []
    if m.lower() in (ent.get("exact_forms") or ()):
        return [(1, 1.0)]
    m_norm = norm_full(m)
    if m_norm == norm_full(ent.get("canonical_name") or ""):
        return [(2, 1.0)]
    for cm in ent.get("common_mentions") or []:
        if m_norm == norm_full(cm):
            return [(2, 1.0)]
    out = []
    s3 = _similarity_score(m, ent)
    if s3 >= _FUZZY_THRESHOLD:
        out.append((3, s3))
    if len(m) > 10:
        s4 = _partial_match_score(m, ent)
        if s4 >= _FUZZY_THRESHOLD:
            out.append((4, s4))
    return out


def resolve_in_document(pred_df, membership_df, catalog_df):
    """Fill head_id/tail_id on predictions via the cascade against each
    document's candidate entities.

    ``membership_df`` holds (url, entity_id): the document's gold entities,
    its candidates.  ``catalog_df`` is entity-grain (``full_catalog``'s
    canonical_name, common_mentions, exact_forms, first20, created_ord).
    The layout:

      1. distinct (url, mention) + per-url entity MEMBERSHIP (ids only)
      2. distinct (mention, entity_id) candidate pairs: Zipfian mention
         repetition collapses here — each pair is scored ONCE per corpus,
         not once per containing document
      3. entity metadata (the fat part) joins at ENTITY grain, mentions
         salted into <= ``_MENTION_SALT`` chunks per entity, so hot-entity
         metadata crosses the wire once per chunk, never once per document
      4. a vectorized Arrow UDF runs the full cascade per pair, emitting
         only the (stage, score, created_ord) QUALIFICATION rows — a tiny
         relation that joins back to mention sites before the
         membership restriction
      5. the per-(url, mention) winner is a JVM-side min over
         struct(stage, -score, created_ord, entity_id) — the cascade
         precedence with fully deterministic tie-breaks

    Semantics match ``resolve_mention_py`` per (url, mention) over
    candidates ordered by (created_ord, entity_id).  The call is lazy: it
    starts no Spark job.
    """
    from pyspark.sql import functions as F

    mentions = (
        pred_df.select("url", F.col("head_mention").alias("mention"))
        .unionByName(pred_df.select("url", F.col("tail_mention").alias("mention")))
        .where(F.trim(F.coalesce(F.col("mention"), F.lit(""))) != "")
        .distinct()
    )
    membership = membership_df.select("url", "entity_id")
    meta = catalog_df.select(
        "entity_id", "canonical_name", "common_mentions", "exact_forms",
        "first20", "created_ord",
    )
    # Distinct (mention, entity) pairs: collect_set dedups inside the
    # entity-grain aggregation (mention strings dropped to (mention,
    # entity_id) before the shuffle; no separate distinct pass).
    chunked = (
        mentions.join(membership, "url")
        .select("mention", "entity_id")
        .withColumn("salt", F.pmod(F.xxhash64("mention"), F.lit(_MENTION_SALT)))
        .groupBy("entity_id", "salt")
        .agg(F.collect_set("mention").alias("mentions"))
    )
    work = chunked.join(meta, "entity_id")

    def score_fn(batches):
        for pdf in batches:
            rows = []
            for eid, mlist, canonical, commons, forms, f20, ordk in zip(
                pdf["entity_id"], pdf["mentions"], pdf["canonical_name"],
                pdf["common_mentions"], pdf["exact_forms"], pdf["first20"],
                pdf["created_ord"],
            ):
                ent = {
                    "entity_id": eid,
                    "canonical_name": canonical,
                    "common_mentions": [] if commons is None else list(commons),
                    "exact_forms": set() if forms is None else set(forms),
                    "first20": [] if f20 is None else list(f20),
                }
                for m in [] if mlist is None else list(mlist):
                    for stage, score in _pair_candidates_py(m, ent):
                        rows.append((m, eid, stage, -float(score), ordk))
            yield pd.DataFrame(
                rows,
                columns=["mention", "entity_id", "stage", "neg_score", "created_ord"],
            )

    scored = work.mapInPandas(
        score_fn,
        schema=(
            "mention string, entity_id string, stage int, neg_score double,"
            " created_ord string"
        ),
    )
    # Winner per site: qualifications (small — only pairs that passed some
    # cascade stage) join back to mention sites FIRST, then the result is
    # membership-restricted — the fat site x entity relation never carries
    # mention strings through a second shuffle.
    winners = (
        mentions.join(scored, "mention")
        .join(membership, ["url", "entity_id"], "left_semi")
        .groupBy("url", "mention")
        .agg(
            F.min(
                F.struct("stage", "neg_score", "created_ord", "entity_id")
            ).alias("w")
        )
        .select("url", "mention", F.col("w.entity_id").alias("entity_id"))
    )
    mention_maps = winners.groupBy("url").agg(
        F.map_from_entries(
            F.collect_list(F.struct("mention", "entity_id"))
        ).alias("mention_ids")
    )
    from ..schemas import PREDICTED

    out = (
        pred_df.drop("head_id", "tail_id")
        .join(mention_maps, "url", "left")
        .withColumn("head_id", F.element_at("mention_ids", F.col("head_mention")))
        .withColumn("tail_id", F.element_at("mention_ids", F.col("tail_mention")))
    )
    return out.select(*[f.name for f in PREDICTED.fields])
