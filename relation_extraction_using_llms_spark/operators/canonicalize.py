"""Canonicalization: connected components on the alias graph (north_star).

Entities that share a resolved surface form (or co-resolve to each other)
form an alias graph; each connected component becomes one canonical node,
and triples are rewritten to canonical ids.  The reference has no explicit
equivalent (its entity ids are already canonical BioRED identifiers) — this
stage exists for the web-scale corpus where the same real-world entity
carries many ids.

Algorithm: iterated hash-to-min label propagation with pointer jumping
via DataFrame joins: each round every node takes the minimum label of
its closed neighbourhood, then its label's label.  Every round is one
aggregate and three joins, all AQE-managed, and one Spark action: the
round's ``localCheckpoint`` cuts the lineage so the plan does not grow
unboundedly (SURVEY.md §7.3 risk 5), and an ``Observation`` on that same
action counts the labels that changed, which is the convergence test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _symmetric(edges: DataFrame) -> DataFrame:
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def connected_components(edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id of
    the component (string min).

    Iterated hash-to-min with pointer jumping: each node points at the
    minimum of its own label and its neighbours' labels, then jumps to its
    label's label.  One Spark action per round — the round's
    ``localCheckpoint(eager=True)`` — whose ``Observation`` counts the
    nodes whose label changed, so convergence costs no separate count.

    Raises ``RuntimeError`` if labels still changed in the last of
    ``max_iterations`` rounds (the labels have not converged).
    """
    # checkpoint the symmetric edge set ONCE: it is re-joined every
    # iteration, and without this a live upstream DAG (e.g. a dedup
    # pair generator's shingle self-join) would re-execute per round
    sym = _symmetric(edges).localCheckpoint(eager=True)
    # initial pointer: min(self, min neighbor); every node of the
    # symmetric edge set is some edge's src
    labels = sym.groupBy("src").agg(F.min("dst").alias("nbr_min")).select(
        F.col("src").alias("node"), F.least("src", "nbr_min").alias("comp")
    )

    for _ in range(max_iterations):
        # propagate: new label = min over {own label} U {labels of neighbors},
        # carrying the previous label along to count changes
        nbr_labels = (
            sym.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("src", "node")
        )
        new_labels = labels.join(nbr_labels, "node", "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))).alias("comp"),
            F.col("comp").alias("prev"),
        )
        # pointer jumping: label <- label of my label (halves chain length)
        jumped = (
            new_labels.alias("a")
            .join(
                new_labels.select(
                    F.col("node").alias("comp"), F.col("comp").alias("comp2")
                ).alias("b"),
                "comp",
                "left",
            )
            .select(
                F.col("a.node").alias("node"),
                F.least(F.col("comp"), F.coalesce("comp2", F.col("comp"))).alias("comp"),
                F.col("a.prev").alias("prev"),
            )
        )
        changed = Observation()
        labels = (
            jumped.observe(
                changed, F.count(F.when(F.col("comp") != F.col("prev"), 1)).alias("n")
            )
            .select("node", "comp")
            .localCheckpoint(eager=True)
        )
        if changed.get["n"] == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    return labels.select("node", F.col("comp").alias("component"))


def alias_edges_from_forms(linking_catalog_df: DataFrame) -> DataFrame:
    """Alias graph: entities sharing an exact surface form are aliases.
    Form-bucket self-pairing is bounded per form (hot generic forms are
    capped) to keep the self-join from exploding on stop-word-like forms."""
    forms = linking_catalog_df.select(
        "entity_id", F.explode("exact_forms").alias("form")
    )
    # cap entities per form: generic forms shared by everything are noise
    grouped = forms.groupBy("form").agg(
        F.slice(F.array_sort(F.collect_set("entity_id")), 1, 50).alias("ents")
    )
    # star edges to the bucket minimum instead of all-pairs: same components,
    # O(n) edges per bucket instead of O(n^2)
    return grouped.where(F.size("ents") > 1).select(
        F.element_at("ents", 1).alias("src"), F.explode("ents").alias("dst")
    ).where(F.col("src") != F.col("dst"))


def canonical_mapping(linking_catalog_df: DataFrame, **cc_kwargs) -> DataFrame:
    """(entity_id, canonical_id) from the alias graph; singleton entities
    map to themselves (left join + coalesce downstream)."""
    edges = alias_edges_from_forms(linking_catalog_df)
    comp = connected_components(edges, **cc_kwargs)
    return comp.select(
        F.col("node").alias("entity_id"), F.col("component").alias("canonical_id")
    )


def materialize_triples(
    pred_df: DataFrame,
    canonical_map_df: DataFrame | None = None,
    num_buckets: int = 32,
) -> DataFrame:
    """Final (subj, pred, obj) table, canonicalized and bucket-keyed.

    Partition column ``subj_bucket = pmod(hash(subj), num_buckets)`` spreads
    head-entity skew across files and gives downstream joins a co-location
    key (at a warehouse, write this ``partitionBy('subj_bucket')`` or bucket
    by subj into an Iceberg table)."""
    t = pred_df.where(F.col("head_id").isNotNull() & F.col("tail_id").isNotNull())
    if canonical_map_df is not None:
        cmap = canonical_map_df
        t = (
            t.join(
                cmap.withColumnRenamed("entity_id", "head_id").withColumnRenamed(
                    "canonical_id", "head_canon"
                ),
                "head_id",
                "left",
            )
            .join(
                cmap.withColumnRenamed("entity_id", "tail_id").withColumnRenamed(
                    "canonical_id", "tail_canon"
                ),
                "tail_id",
                "left",
            )
            .withColumn("head_id", F.coalesce("head_canon", "head_id"))
            .withColumn("tail_id", F.coalesce("tail_canon", "tail_id"))
            .drop("head_canon", "tail_canon")
        )
    return t.select(
        F.col("head_id").alias("subj"),
        F.col("relation_type").alias("pred"),
        F.col("tail_id").alias("obj"),
        "url",
        "technique",
        "model",
        "confidence",
        F.pmod(F.hash("head_id"), F.lit(num_buckets)).alias("subj_bucket"),
    )
