"""Global entity catalog (SURVEY.md §2.4, E1/E2).

Reference semantics (pipeline/data/entity_map.py:18-74): accumulate every
mention of each entity id across all documents; per entity, the top-10
surface forms by frequency (ties broken by first-seen order, matching
``Counter.most_common`` under sorted-document processing), canonical name =
the mode, ``document_count = max(1, n_unique_forms // 2)``.

Scale design (north_rule skew clause): entity ids are Zipfian — a head
entity can have billions of mentions at 10^12 docs.  We therefore never
``collect_list`` raw mentions per entity.  Stage 1 aggregates at
``(entity_id, surface form)`` grain — the surface form in the key spreads a
hot entity across partitions (a natural salt).  Stage 2 aggregates the
per-form counts (thousands of rows per entity at most) into the catalog
row.  Both stages are map-side-combinable built-in aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.planstats import estimated_rows


def mention_counts(gold_entities_df: DataFrame) -> DataFrame:
    """(entity_id, text) -> count + first-seen order key + first type.

    First-seen = lexicographically smallest (url, mention position), the
    deterministic stand-in for the reference's insertion order under
    sorted-file processing (loader.py:44 sorts the glob).
    """
    occ = gold_entities_df.select(
        "url",
        "entity_id",
        "entity_type",
        F.posexplode("mentions").alias("pos", "mention"),
    ).select(
        "url",
        "entity_id",
        "entity_type",
        "pos",
        F.col("mention.text").alias("text"),
    )
    order_key = F.struct(F.col("url"), F.col("pos"))
    return occ.groupBy("entity_id", "text").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(order_key).alias("first_seen"),
        F.min_by("entity_type", order_key).alias("entity_type"),
    )


# Salt buckets of the two-phase layout: each entity's aggregation buffers
# hold at most _SALT_BUCKETS * max(top_k, first_k) elements.
_SALT_BUCKETS = 64
# Confident row estimates at or below this take the direct layout.
_DIRECT_MAX_ROWS = 2_000_000


def full_catalog(
    gold_entities_df: DataFrame, top_k: int = 10, first_k: int = 20
) -> DataFrame:
    """Catalog + linking columns (entity_type, canonical_name,
    common_mentions, mention_count, document_count, exact_forms, first20,
    created_ord) in one aggregation pass.

    The catalog columns equal ``entity_catalog(ents)`` row-for-row
    (parity-tested); the linking columns (``exact_forms``, ``first20``,
    ``created_ord``) are what ``linking.resolve_in_document`` reads.  One
    pass replaces a window rank, separate groupBys and entity_id joins:

      occurrences -> (entity_id, form) grain [the natural salt: a hot
      entity's forms spread across partitions] -> entity rows, either
      directly or through (entity_id, salt-bucket) partials with bounded
      top-k/first-k arrays (the salted layout).

    The salted layout is the Zipfian-safe shape (every aggregation buffer
    bounded — survives head entities at 10^12 documents) but costs one
    extra shuffle + one extra aggregation pass.  The layout is routed from
    OPTIMIZER STATISTICS: a CONFIDENTLY small input (exact parquet-footer
    counts or the byte-floor bound over a scan-shaped plan — see
    ``planstats.estimated_rows``; never a job) takes the direct layout
    (measured 0.71s -> 0.51s at sf0.1); anything unconfident or large
    keeps the salted two-phase.  Both layouts are the SAME slice/sort
    algebra — ``slice(sort(flatten(partials)), k)`` == ``slice(sort(all),
    k)`` — so outputs are identical row-for-row (parity-tested;
    ``exact_forms`` is set-semantic in every consumer and its array order
    is nondeterministic in both layouts).
    """
    est, confident = estimated_rows(gold_entities_df, min_bytes_per_row=2)
    direct = confident and est is not None and est <= _DIRECT_MAX_ROWS
    return _catalog(
        gold_entities_df, "direct" if direct else "salted", top_k, first_k
    )


def _catalog(
    gold_entities_df: DataFrame, layout: str, top_k: int = 10, first_k: int = 20
) -> DataFrame:
    """``full_catalog`` in the given ``layout`` ("direct" or "salted")."""
    occ = gold_entities_df.select(
        "url",
        "entity_id",
        "entity_type",
        F.posexplode("mentions").alias("pos", "mention"),
    ).select(
        "entity_id",
        "entity_type",
        # \x01 separator: sorts below every printable char, so the string
        # order key agrees with mention_counts' struct(url, pos) ordering
        # even for prefix urls or urls containing chars below '#' (only a
        # url containing \x00/\x01 could diverge)
        F.concat(F.col("url"), F.lit("\x01"), F.format_string("%09d", "pos")).alias("ord"),
        F.col("mention.text").alias("text"),
    )
    # A: per-(entity, surface form): count, first occurrence, first type,
    #    the form's first `first_k` occurrence keys, lowered form
    grain = occ.groupBy("entity_id", "text").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("ord").alias("first_seen"),
        F.min_by("entity_type", "ord").alias("etype"),
        F.slice(F.array_sort(F.collect_list("ord")), 1, first_k).alias("ords"),
    )
    ranked_pair = F.struct(
        (-F.col("n")).alias("neg_n"), F.col("first_seen"), F.col("text")
    )
    ord_pairs = F.transform(
        "ords", lambda o: F.struct(o.alias("o"), F.col("text").alias("v"))
    )
    if layout == "direct":
        # one groupBy straight to entity grain — per-entity buffers hold
        # every form (unbounded), safe only on gated-small inputs
        top = F.slice(F.array_sort(F.collect_list(ranked_pair)), 1, top_k)
        f20 = F.slice(F.array_sort(F.flatten(F.collect_list(ord_pairs))), 1, first_k)
        return grain.groupBy("entity_id").agg(
            F.min_by("etype", "first_seen").alias("entity_type"),
            F.element_at(top, 1)["text"].alias("canonical_name"),
            F.transform(top, lambda s: s["text"]).alias("common_mentions"),
            F.sum("n").alias("mention_count"),
            F.greatest(
                F.lit(1), (F.count(F.lit(1)) / 2).cast("long")
            ).alias("document_count"),
            F.array_distinct(
                F.collect_list(F.lower(F.trim("text")))
            ).alias("exact_forms"),
            F.transform(f20, lambda s: s["v"]).alias("first20"),
            F.min("first_seen").alias("created_ord"),
        )
    # B1: per-(entity, salt bucket) partials — arrays bounded by top_k/first_k
    partial = grain.withColumn(
        "salt", F.pmod(F.hash("text"), F.lit(_SALT_BUCKETS))
    ).groupBy("entity_id", "salt").agg(
        F.slice(F.array_sort(F.collect_list(ranked_pair)), 1, top_k).alias("top_p"),
        F.slice(F.array_sort(F.flatten(F.collect_list(ord_pairs))), 1, first_k).alias("f20_p"),
        F.collect_set(F.lower(F.trim("text"))).alias("forms_p"),
        F.sum("n").alias("n_p"),
        F.count(F.lit(1)).alias("cnt_p"),
        F.min("first_seen").alias("fs_p"),
        F.min_by("etype", "first_seen").alias("etype_p"),
    )
    # B2: merge <= _SALT_BUCKETS partials per entity
    top = F.slice(F.array_sort(F.flatten(F.collect_list("top_p"))), 1, top_k)
    f20 = F.slice(F.array_sort(F.flatten(F.collect_list("f20_p"))), 1, first_k)
    return partial.groupBy("entity_id").agg(
        F.min_by("etype_p", "fs_p").alias("entity_type"),
        F.element_at(top, 1)["text"].alias("canonical_name"),
        F.transform(top, lambda s: s["text"]).alias("common_mentions"),
        F.sum("n_p").alias("mention_count"),
        F.greatest(
            F.lit(1), (F.sum("cnt_p") / 2).cast("long")
        ).alias("document_count"),
        F.array_distinct(F.flatten(F.collect_list("forms_p"))).alias("exact_forms"),
        F.transform(f20, lambda s: s["v"]).alias("first20"),
        F.min("fs_p").alias("created_ord"),
    )


def entity_catalog(gold_entities_df: DataFrame, top_k: int = 10) -> DataFrame:
    """ENTITY_CATALOG rows from gold entities (E1+E2)."""
    counts = mention_counts(gold_entities_df)
    w = Window.partitionBy("entity_id").orderBy(
        F.col("n").desc(), F.col("first_seen").asc()
    )
    ranked = counts.withColumn("rank", F.row_number().over(w))
    return (
        ranked.groupBy("entity_id")
        .agg(
            # type at entity creation = first occurrence overall (entity_map.py:31-40)
            F.min_by("entity_type", F.col("first_seen")).alias("entity_type"),
            F.max(F.when(F.col("rank") == 1, F.col("text"))).alias("canonical_name"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rank") <= top_k,
                            F.struct(F.col("rank"), F.col("text")),
                        )
                    )
                ),
                lambda s: s["text"],
            ).alias("common_mentions"),
            F.sum("n").alias("mention_count"),
            F.greatest(
                F.lit(1), (F.count(F.lit(1)) / 2).cast("long")
            ).alias("document_count"),
        )
    )
