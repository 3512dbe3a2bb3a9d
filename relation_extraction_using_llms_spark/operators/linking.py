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

Spark architecture — two paths sharing the same cascade kernel:

* ``resolve_in_document``: the reference's own search-space pruning
  (entity_resolver.py:52-62) — candidates are the document's gold entities.
  Distinct (url, mention) pairs join packed per-url candidate arrays and a
  ``mapInPandas`` resolves each pair once; ids fan back via two hash joins.

* ``resolve_global_lsh``: the 10^12-scale path when no document hint
  exists — MinHash-LSH over token shingles blocks candidate
  (mention, entity-form) pairs, then the exact cascade kernel re-scores
  candidates only (north_star: "blocked candidate generation +
  similarity scoring").  Never a full catalog scan.
"""

from __future__ import annotations

import pandas as pd

from ..functions.textnorm import core_terms, norm_full, seq_ratio

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
    mention: str, entities: list[dict], fuzzy_threshold: float = 0.7
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


# ---------------------------------------------------------------------------
# catalog enrichment: the columns the cascade needs, built scalably.
# ---------------------------------------------------------------------------


def _bounded_first_k(df, key_cols, order_col, value_col, k, out_col, salt_buckets=64):
    """First-k values per key by order_col, two-phase (salted) so hot keys
    never concentrate on one task: per (key, salt) take k, then merge the
    <= salt_buckets*k survivors per key.  north_rule skew mitigation."""
    from pyspark.sql import functions as F

    pair = F.struct(F.col(order_col).alias("o"), F.col(value_col).alias("v"))
    phase1 = (
        df.withColumn("_salt", F.pmod(F.hash(F.col(order_col)), F.lit(salt_buckets)))
        .groupBy(*key_cols, "_salt")
        .agg(F.slice(F.array_sort(F.collect_list(pair)), 1, k).alias("vals"))
    )
    return (
        phase1.groupBy(*key_cols)
        .agg(
            F.slice(
                F.array_sort(F.flatten(F.collect_list("vals"))), 1, k
            ).alias("vals")
        )
        .select(*key_cols, F.transform("vals", lambda s: s["v"]).alias(out_col))
    )


def linking_catalog(gold_entities_df, catalog_df):
    """catalog + exact_forms + first20 + created_ord, all via salted
    two-phase aggregates (no unbounded collect per entity)."""
    from pyspark.sql import functions as F

    occ = gold_entities_df.select(
        "url", "entity_id", F.posexplode("mentions").alias("pos", "m")
    ).select(
        "url",
        "entity_id",
        # \x01 separator: keeps string order identical to struct(url, pos)
        # for prefix urls / urls with sub-'#' chars (see full_catalog)
        F.concat(F.col("url"), F.lit("\x01"), F.format_string("%09d", "pos")).alias("ord"),
        F.col("m.text").alias("text"),
    )
    exact_forms = (
        occ.select("entity_id", F.lower(F.trim("text")).alias("form"))
        .distinct()
        .groupBy("entity_id")
        .agg(F.collect_set("form").alias("exact_forms"))
    )
    first20 = _bounded_first_k(
        occ, ["entity_id"], "ord", "text", 20, "first20"
    )
    created = occ.groupBy("entity_id").agg(F.min("ord").alias("created_ord"))
    return (
        catalog_df.join(exact_forms, "entity_id", "left")
        .join(first20, "entity_id", "left")
        .join(created, "entity_id", "left")
    )


# ---------------------------------------------------------------------------
# path 1: document-pruned resolution (reference semantics).
# ---------------------------------------------------------------------------

_ENT_COLS = [
    "url",
    "entity_id",
    "canonical_name",
    "common_mentions",
    "exact_forms",
    "first20",
    "created_ord",
]


def doc_candidates(gold_entities_df, linking_catalog_df):
    """(url, entity rows): each document's entity ids joined with their
    global catalog rows — the reference's document_entity_ids pruning."""
    return gold_entities_df.select("url", "entity_id").join(
        linking_catalog_df, "entity_id"
    ).select(*_ENT_COLS)


def packed_candidates(doc_candidates_df):
    """(url, entities: array<struct>) — per-document candidate entities
    packed JVM-side.  Retained for callers that want the url-grain shape;
    ``resolve_in_document`` uses the bucket-replicated layout below."""
    from pyspark.sql import functions as F

    ent_struct = F.struct(
        "entity_id", "canonical_name", "common_mentions", "exact_forms",
        "first20", "created_ord",
    )
    return doc_candidates_df.groupBy("url").agg(
        F.collect_list(ent_struct).alias("entities")
    )


def _meta_dict(row) -> dict:
    d = row.asDict() if hasattr(row, "asDict") else dict(row)

    def aslist(v):
        return [] if v is None else list(v)

    return {
        "entity_id": d["entity_id"],
        "canonical_name": d["canonical_name"],
        "common_mentions": aslist(d["common_mentions"]),
        "exact_forms": set(aslist(d["exact_forms"])),
        "first20": aslist(d["first20"]),
        "created_ord": d["created_ord"],
    }


def _resolve_bucketed(
    pred_df,
    doc_candidates_df,
    fuzzy_threshold: float = 0.7,
    n_buckets: int | None = None,
):
    """Bucket-replicated dimension-join layout (mode="bucketed"):

      1. distinct mentions per url (collect_set, one shuffle)
      2. per-url candidate MEMBERSHIP = entity-id array (small)
      3. entity METADATA (the fat part: surface forms, canonical, first-20)
         is replicated per url-hash BUCKET, not per url — a hot entity
         crosses the shuffle n_buckets times instead of
         documents-containing-it times
      4. cogrouped applyInPandas on bucket: build {entity_id: metadata}
         once per bucket, resolve every url's mentions against its member
         entities; emit a per-url mention->id map
      5. one url join back; ids extracted JVM-side via element_at

    Deterministic and semantically identical to the reference cascade per
    (url, mention) — the layout only changes where bytes travel.
    """
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F

    spark = pred_df.sparkSession
    if n_buckets is None:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions", "32")) * 2
    bucket = lambda c: F.pmod(F.hash(c), F.lit(n_buckets))  # noqa: E731

    mentions_packed = (
        pred_df.select("url", F.col("head_mention").alias("mention"))
        .unionByName(pred_df.select("url", F.col("tail_mention").alias("mention")))
        .groupBy("url")
        .agg(F.collect_set("mention").alias("mentions"))
    )
    membership = doc_candidates_df.groupBy("url").agg(
        F.collect_set("entity_id").alias("entity_ids")
    )
    left = (
        mentions_packed.join(membership, "url", "left")
        .withColumn("bucket", bucket(F.col("url")))
    )

    ent_struct = F.struct(
        "entity_id", "canonical_name", "common_mentions", "exact_forms",
        "first20", "created_ord",
    )
    bucket_meta = (
        doc_candidates_df.select(bucket(F.col("url")).alias("bucket"), "entity_id")
        .distinct()
        .join(
            doc_candidates_df.select(ent_struct.alias("e"), "entity_id").dropDuplicates(
                ["entity_id"]
            ),
            "entity_id",
        )
        .select("bucket", "e.*")
    )

    def fn(left_pdf: pd.DataFrame, meta_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(left_pdf):
            # typed empty frame: a default float64 empty column breaks
            # Arrow's map<string,string> conversion
            return pd.DataFrame(
                {
                    "url": pd.Series(dtype=object),
                    "mention_ids": pd.Series(dtype=object),
                }
            )
        meta = {}
        for _, row in meta_pdf.iterrows():
            m = _meta_dict(row)
            meta[m["entity_id"]] = m
        urls, maps = [], []
        ent_cache: dict[tuple, list] = {}
        for url, mlist, ids in zip(
            left_pdf["url"], left_pdf["mentions"], left_pdf["entity_ids"]
        ):
            key = tuple(sorted([] if ids is None else list(ids)))
            entities = ent_cache.get(key)
            if entities is None:
                entities = sorted(
                    (meta[i] for i in key if i in meta),
                    key=lambda e: e.get("created_ord") or "",
                )
                if len(ent_cache) > 8192:
                    ent_cache.clear()
                ent_cache[key] = entities
            urls.append(url)
            maps.append(
                {
                    m: resolve_mention_py(m, entities, fuzzy_threshold)
                    for m in ([] if mlist is None else list(mlist))
                }
            )
        return pd.DataFrame({"url": urls, "mention_ids": maps})

    resolved = (
        left.groupBy("bucket")
        .cogroup(bucket_meta.groupBy("bucket"))
        .applyInPandas(fn, schema="url string, mention_ids map<string,string>")
    )
    from ..schemas import PREDICTED

    out = (
        pred_df.drop("head_id", "tail_id")
        .join(resolved, "url", "left")
        .withColumn("head_id", F.element_at("mention_ids", F.col("head_mention")))
        .withColumn("tail_id", F.element_at("mention_ids", F.col("tail_mention")))
    )
    return out.select(*[f.name for f in PREDICTED.fields])


def _unpack_entities(raw) -> list[dict]:
    entities = [_meta_dict(e) for e in (raw if raw is not None else [])]
    entities.sort(key=lambda e: e.get("created_ord") or "")
    return entities


def _resolve_packed(pred_df, packed_df, fuzzy_threshold: float = 0.7):
    """Url-packed layout (mode="packed"): each url row carries its full
    candidate array.  When the packed table is a materialized stage output
    the fat arrays stream parquet -> Arrow -> Python without ever crossing
    a shuffle — fastest at moderate catalog sizes."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F

    mentions_packed = (
        pred_df.select("url", F.col("head_mention").alias("mention"))
        .unionByName(pred_df.select("url", F.col("tail_mention").alias("mention")))
        .groupBy("url")
        .agg(F.collect_set("mention").alias("mentions"))
    )
    work = mentions_packed.join(packed_df, "url", "left")

    def fn(batches):
        for pdf in batches:
            urls, maps = [], []
            for url, mlist, raw in zip(pdf["url"], pdf["mentions"], pdf["entities"]):
                entities = _unpack_entities(raw)
                urls.append(url)
                maps.append(
                    {
                        m: resolve_mention_py(m, entities, fuzzy_threshold)
                        for m in ([] if mlist is None else list(mlist))
                    }
                )
            yield pd.DataFrame({"url": urls, "mention_ids": maps})

    resolved = work.mapInPandas(
        fn, schema="url string, mention_ids map<string,string>"
    )
    # Join-back layout: the resolved side is one url-grain map row per
    # document — when the prediction input is CONFIDENTLY small (the same
    # stats gate that routes auto-mode here; a pure plan inspection, never
    # a job) broadcast it, so the prediction side is not shuffled/sorted
    # at all (post-UDF stats are unknown, so Catalyst would otherwise
    # plan a SortMergeJoin).  Large explicit mode="packed" callers keep
    # the shuffle join — a broadcast there could OOM the driver.
    if _broadcastable(pred_df):
        resolved = F.broadcast(resolved)
    from ..schemas import PREDICTED

    out = (
        pred_df.drop("head_id", "tail_id")
        .join(resolved, "url", "left")
        .withColumn("head_id", F.element_at("mention_ids", F.col("head_mention")))
        .withColumn("tail_id", F.element_at("mention_ids", F.col("tail_mention")))
    )
    return out.select(*[f.name for f in PREDICTED.fields])


def _pair_candidates_py(mention: str, ent: dict, fuzzy_threshold: float) -> list:
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
    if s3 >= fuzzy_threshold:
        out.append((3, s3))
    if len(m) > 10:
        s4 = _partial_match_score(m, ent)
        if s4 >= fuzzy_threshold:
            out.append((4, s4))
    return out


def _resolve_pair_grain(
    pred_df,
    doc_candidates_df=None,
    fuzzy_threshold: float = 0.7,
    mention_salt: int = 64,
    membership_df=None,
    catalog_df=None,
):
    """Distinct-(mention, entity) resolution (mode="pairs") — the web-scale
    layout:

      1. distinct (url, mention) + per-url entity MEMBERSHIP (ids only)
      2. distinct (mention, entity_id) candidate pairs: Zipfian mention
         repetition collapses here — each pair is scored ONCE per corpus,
         not once per containing document
      3. entity metadata (the fat part) joins at ENTITY grain, mentions
         salted into <= ``mention_salt`` chunks per entity, so hot-entity
         metadata crosses the wire once per chunk, never once per document
      4. a vectorized Arrow UDF runs the full cascade per pair, emitting
         only the (stage, score, created_ord) QUALIFICATION rows — a tiny
         relation that joins back to mention sites before the
         membership restriction
      5. the per-(url, mention) winner is a JVM-side min over
         struct(stage, -score, created_ord, entity_id) — the cascade
         precedence with fully deterministic tie-breaks

    Semantics match ``resolve_mention_py`` per (url, mention); only
    same-(stage, score, created_ord) ties differ from the packed/bucketed
    layouts (those keep candidate-array order; this breaks by entity_id).
    """
    import pandas as pd  # noqa: F811
    from pyspark.sql import functions as F

    mentions = (
        pred_df.select("url", F.col("head_mention").alias("mention"))
        .unionByName(pred_df.select("url", F.col("tail_mention").alias("mention")))
        .where(F.trim(F.coalesce(F.col("mention"), F.lit(""))) != "")
        .distinct()
    )
    membership = (
        membership_df.select("url", "entity_id")
        if membership_df is not None
        else doc_candidates_df.select("url", "entity_id")
    )
    meta = (
        catalog_df
        if catalog_df is not None
        else doc_candidates_df.dropDuplicates(["entity_id"])
    ).select(
        "entity_id", "canonical_name", "common_mentions", "exact_forms",
        "first20", "created_ord",
    )
    # Distinct (mention, entity) pairs: collect_set dedups inside the
    # entity-grain aggregation (mention strings dropped to (mention,
    # entity_id) before the shuffle; no separate distinct pass).
    chunked = (
        mentions.join(membership, "url")
        .select("mention", "entity_id")
        .withColumn("salt", F.pmod(F.xxhash64("mention"), F.lit(mention_salt)))
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
                    for stage, score in _pair_candidates_py(m, ent, fuzzy_threshold):
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


def _parquet_scan_rows(df, max_files: int = 256) -> int | None:
    """EXACT row count from parquet footer metadata when the plan is just
    scan (+ project / filter) — a driver-side metadata read, never a job.
    Returns None for any other plan shape: project/filter keep per-source
    multiplicity <= 1 (so footer counts stay an upper bound), but a join /
    explode / generate could multiply rows and disqualifies the shortcut.

    This is the "rowCount from a committed stage" path: materialized stage
    tables (the normal auto-routing scenario) get an exact answer that no
    compression-ratio heuristic can fool."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            cls = node.getClass().getSimpleName()
            if cls in ("Project", "Filter"):
                if node.children().size() != 1:
                    return None
                node = node.children().apply(0)
                continue
            if cls == "LogicalRelation":
                break
            return None
        files = df.inputFiles()
        if not files or len(files) > max_files:
            return None
        if not all(f.endswith(".parquet") for f in files):
            return None
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            path = f[len("file:"):] if f.startswith("file:") else f
            total += pq.read_metadata(path).num_rows
        return total
    except Exception:
        return None


# Leaves whose sizeInBytes reflects REAL materialized data (file bytes,
# local rows, range arithmetic) and whose rows a Project/Filter chain
# cannot multiply — the byte-floor heuristic is a true upper bound only
# over these.  Anything else (a join, a Generate/explode, a Python map
# node) inherits its CHILD's size estimate while potentially multiplying
# rows arbitrarily, so the heuristic can undershoot there.
_TRUSTED_STATS_LEAVES = frozenset(
    {"LogicalRelation", "Range", "LocalRelation", "OneRowRelation"}
)


def _scan_shaped(df) -> bool:
    """True when the optimized plan is Project/Filter* over a leaf whose
    statistics derive from materialized data (``_TRUSTED_STATS_LEAVES``).
    Pure driver-side plan inspection, never a job."""
    try:
        node = df._jdf.queryExecution().optimizedPlan()
        while True:
            cls = node.getClass().getSimpleName()
            if cls in ("Project", "Filter"):
                if node.children().size() != 1:
                    return False
                node = node.children().apply(0)
                continue
            return cls in _TRUSTED_STATS_LEAVES
    except Exception:
        return False


def _estimated_rows_ex(
    df, min_bytes_per_row: int = 5
) -> tuple[int | None, bool]:
    """(row-count upper bound, confident) from the optimized plan's
    statistics — a pure plan inspection plus at most a parquet-footer
    metadata read, never a job.  ``confident`` is True only when the
    bound provably cannot undershoot: a Catalyst-defined rowCount, an
    exact parquet-footer count, or the byte-floor heuristic over a
    scan-shaped plan (Project/Filter over a materialized leaf — rows
    cannot multiply, bytes are real, and ``min_bytes_per_row`` assumes
    implausibly extreme compression, so the estimate only overshoots).

    For any OTHER plan shape the byte heuristic is returned with
    ``confident=False``: Catalyst derives a Python-map or explode node's
    sizeInBytes from its CHILD, so a row-multiplying operator upstream
    can make the estimate undershoot arbitrarily.  Callers routing
    between a small-input layout and a scale-safe one must take the
    scale-safe path on an unconfident estimate."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get())), True  # py4j: BigInt or int
        exact = _parquet_scan_rows(df)
        if exact is not None:
            return exact, True
        size = int(str(stats.sizeInBytes()))
        # Catalyst's "unknown" default is Long.MaxValue-ish; treat
        # implausibly huge sizes as unknown
        if size <= 0 or size >= (1 << 60):
            return None, False
        return max(1, size // min_bytes_per_row), _scan_shaped(df)
    except Exception:
        return None, False


# Bounds of the packed join-back broadcast: few rows can still be fat
# (long mention text), and the broadcast side is built in driver memory.
_BROADCAST_MAX_ROWS = 500_000
_BROADCAST_MAX_BYTES = 64 << 20


def _broadcastable(df) -> bool:
    """True when ``df`` is CONFIDENTLY small in rows (``_estimated_rows_ex``)
    AND its plan's sizeInBytes is under the byte cap — a plan inspection,
    never a job.  Either bound unknown or exceeded keeps the shuffle join."""
    est, confident = _estimated_rows_ex(df, min_bytes_per_row=2)
    if not (confident and est is not None and est <= _BROADCAST_MAX_ROWS):
        return False
    try:
        size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:
        return False
    return 0 < size <= _BROADCAST_MAX_BYTES


def _estimated_rows(df, min_bytes_per_row: int = 5) -> int | None:
    """Row-count upper bound alone (see ``_estimated_rows_ex``)."""
    return _estimated_rows_ex(df, min_bytes_per_row)[0]


def resolve_in_document(
    pred_df,
    doc_candidates_df=None,
    fuzzy_threshold: float = 0.7,
    mode: str = "auto",
    packed_df=None,
    n_buckets: int | None = None,
    membership_df=None,
    catalog_df=None,
    auto_threshold: int = 500_000,
):
    """Fill head_id/tail_id on predictions via the cascade against each
    document's candidate entities.  Semantics identical in all layouts
    (parity-tested); they differ in where the fat entity metadata travels:

    * ``pairs``: distinct-(mention, entity) scoring with entity-grain
      metadata and a JVM-side precedence reduction — the scale path
      (Python cost tracks DISTINCT pairs, metadata never duplicates per
      document).
    * ``packed``: per-url candidate arrays; competitive when the candidate
      table is a materialized stage output (arrays go parquet -> Arrow ->
      Python with no shuffle) and mentions rarely repeat across documents.
    * ``bucketed``: entity metadata replicated per url-hash bucket — the
      middle ground when no materialized candidate table exists.
    * ``auto`` (default): pick by input size from OPTIMIZER STATISTICS —
      no probe job, so the call stays fully lazy (a count probe would
      execute the whole upstream DAG, e.g. the Python parse stage, once
      extra at plan-construction time).  When the row count is known
      CONFIDENTLY (a Catalyst rowCount, an exact parquet-footer count
      for a materialized stage table, or the byte-floor bound over a
      scan-shaped plan — see ``_estimated_rows_ex``) and small, the
      ``packed`` layout wins; any unconfident estimate (e.g. a live
      UDF DAG, whose child-derived sizeInBytes can undershoot) routes
      to the scale-safe ``pairs``.  Small inputs take ``packed`` (the pair-grain
      layout's ~3 extra shuffles are pure fixed cost there); anything
      bigger takes ``pairs``, whose Python cost tracks distinct
      (mention, entity) pairs — the Zipfian-collapse that wins at web
      scale.  Same answer either way (layout parity is tested); only
      same-(stage, score, created_ord) ties can differ — so the routing
      depends on materialization state, and reproducibility-critical
      paths (the pipeline plans) pin ``mode="pairs"``, the layout with
      fully deterministic entity_id tie-breaks.
    """
    if mode in ("pairs", "auto") and doc_candidates_df is None and membership_df is None:
        mode = "packed"  # legacy call shape: only a packed table provided
    if mode == "auto":
        # 2 B/row floor (not the default 5): prediction rows are repetitive
        # text that snappy CAN compress below 5 B/row, and the packed route
        # must only win when the input is confidently small — widen the
        # margin toward the scale-safe pairs layout (perf-only either way;
        # layouts are parity-tested).  The packed route additionally
        # requires a CONFIDENT estimate (exact counts, or the byte floor
        # over a scan-shaped plan): over a live UDF/explode DAG the byte
        # heuristic can undershoot, and pairs is the only safe default.
        est, confident = _estimated_rows_ex(pred_df, min_bytes_per_row=2)
        mode = (
            "packed"
            if confident and est is not None and est <= auto_threshold
            else "pairs"
        )
    if mode == "pairs":
        return _resolve_pair_grain(
            pred_df, doc_candidates_df, fuzzy_threshold,
            membership_df=membership_df, catalog_df=catalog_df,
        )
    if doc_candidates_df is None and membership_df is not None and catalog_df is not None:
        # membership (url, entity_id) x entity-grain catalog -> per-doc rows
        doc_candidates_df = membership_df.select("url", "entity_id").join(
            catalog_df, "entity_id"
        ).select(*_ENT_COLS)
    if mode == "bucketed":
        return _resolve_bucketed(pred_df, doc_candidates_df, fuzzy_threshold, n_buckets)
    packed = packed_df if packed_df is not None else packed_candidates(doc_candidates_df)
    return _resolve_packed(pred_df, packed, fuzzy_threshold)


# ---------------------------------------------------------------------------
# path 2: global LSH-blocked resolution (scale path).
# ---------------------------------------------------------------------------


def resolve_global_lsh(
    mentions_df,
    linking_catalog_df,
    fuzzy_threshold: float = 0.7,
    num_hash_tables: int = 6,
    jaccard_distance: float = 0.6,
):
    """mentions(url?, mention) -> (mention, entity_id) via exact join,
    then NATIVE banded-minhash candidate blocking on character-shingle
    sets, then the cascade kernel over candidates only.

    Stage A (exact): equi-join on lowered form — a plain shuffle hash join.
    Stage B (blocked fuzzy): bipartite banded minhash between distinct
    unresolved mentions and catalog surface forms (the dedup playbook —
    ``minhash_lsh_pairs``: shingle -> xxhash64 set, per-band min-hash,
    (band, bsig) equi-join, EXACT Jaccard recheck), re-scored by
    ``_similarity_score``; best score wins, creation order breaks ties.
    Fit-free, whole-stage codegen end to end — replaces the former
    HashingTF + ``MinHashLSH.approxSimilarityJoin`` (a fit pass + an
    un-codegen'd join, with jaccard approximated through a 2^18 feature
    space; the native recheck is exact over 64-bit shingle hashes).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    distinct = mentions_df.select(F.trim("mention").alias("mention")).where(
        F.col("mention") != ""
    ).distinct()

    # Stage A: exact surface-form hit (earliest-created entity wins).
    forms = linking_catalog_df.select(
        "entity_id",
        "created_ord",
        F.explode("exact_forms").alias("form"),
    )
    exact_hit = (
        distinct.withColumn("form", F.lower(F.col("mention")))
        .join(forms, "form")
        .groupBy("mention")
        .agg(F.min_by("entity_id", "created_ord").alias("entity_id"))
    )

    unresolved = distinct.join(exact_hit.select("mention"), "mention", "left_anti")

    # Stage B: LSH blocking on 3-char shingles of the normalized text.
    def shingle_col(c):
        return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")

    cat_names = linking_catalog_df.select(
        "entity_id",
        "canonical_name",
        "common_mentions",
        "created_ord",
        F.explode(
            F.array_distinct(
                F.concat(
                    F.array(F.coalesce(F.col("canonical_name"), F.lit(""))),
                    F.coalesce(F.col("common_mentions"), F.array()),
                )
            )
        ).alias("name"),
    ).where(F.length("name") > 0)

    def with_shingle_hashes(df, text_col):
        # char 3-gram shingles as a pure column expression (JVM-side),
        # hashed to 64-bit ints.  The normalized text is let-bound so the
        # regexp_replace runs once per row, not once per shingle
        # (interpreted HOFs have no CSE — see functions/hofs.py)
        from ..functions.hofs import bind_once

        shingles = bind_once(
            shingle_col(F.col(text_col)),
            lambda t: F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length(t) - 2, F.lit(1))),
                    lambda i: t.substr(i, F.lit(3)),
                )
            ),
        )
        out = df.withColumn(
            "__hs",
            F.transform(
                F.filter(shingles, lambda s: F.length(s) > 0),
                lambda s: F.xxhash64(s),
            ),
        )
        return out.where(F.size("__hs") > 0)

    m_sh = with_shingle_hashes(unresolved, "mention")
    c_sh = with_shingle_hashes(cat_names, "name")

    def banded(df, keep_cols):
        # band explodes FIRST (Generate = projection-collapse barrier), so
        # the shingle pipeline runs once per row, not once per band — the
        # 131s-vs-7s trap documented on minhash_lsh_pairs
        return df.select(
            *keep_cols,
            "__hs",
            F.explode(F.sequence(F.lit(0), F.lit(num_hash_tables - 1))).alias(
                "band"
            ),
        ).select(
            *keep_cols,
            "band",
            F.array_min(
                F.transform("__hs", lambda h: F.xxhash64(h, F.col("band")))
            ).alias("bsig"),
        )

    cand = (
        banded(m_sh, ["mention"])
        .join(banded(c_sh, ["entity_id", "name"]), ["band", "bsig"])
        .select("mention", "entity_id", "name")
        .distinct()
    )
    # shingle sets join back at candidate grain; exact Jaccard recheck
    # mirrors MLlib's `jdist <= jaccard_distance` gate (j >= 1 - d)
    with_sets = cand.join(
        m_sh.select("mention", F.col("__hs").alias("ha")), "mention"
    ).join(
        c_sh.select("entity_id", "name", F.col("__hs").alias("hb")),
        ["entity_id", "name"],
    )
    inter = F.size(F.array_intersect("ha", "hb"))
    union = F.size("ha") + F.size("hb") - inter
    pairs = (
        with_sets.where(inter / union >= 1.0 - jaccard_distance)
        .select("mention", "entity_id")
        .distinct()
        .join(
            linking_catalog_df.select(
                "entity_id", "canonical_name", "common_mentions", "created_ord"
            ),
            "entity_id",
        )
    )

    # Re-score candidates with the reference kernel (vectorized pandas UDF).
    import pandas as pd  # noqa: F811
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cascade_score(mention: pd.Series, canonical: pd.Series, commons: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _similarity_score(
                    m, {"canonical_name": c, "common_mentions": list(cm or [])}
                )
                for m, c, cm in zip(mention, canonical, commons)
            ]
        )

    scored = pairs.withColumn(
        "score", cascade_score("mention", "canonical_name", "common_mentions")
    ).where(F.col("score") >= fuzzy_threshold)
    w = Window.partitionBy("mention").orderBy(
        F.col("score").desc(), F.col("created_ord").asc()
    )
    fuzzy_hit = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("mention", "entity_id")
    )
    return exact_hit.unionByName(fuzzy_hit)
