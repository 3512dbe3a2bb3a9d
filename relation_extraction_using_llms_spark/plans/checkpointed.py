"""Checkpoint-resumable pipeline (north_rule): every stage materializes to
a table through the per-partition ledger; a killed run resumes exactly
where it stopped, and completed stages are no-ops on re-run.

Partition key per stage:
  clean_text / gold tables  url-hash bucket (``part``)
  responses                 (technique, model) via the cache anti-join
  triples / resolved        url-hash bucket
  counts / eval_per_doc     url-hash bucket (fingerprint spans preds+gold
                            and the evaluation config)
  eval_aggregate            single 'all' partition (global aggregate)

The ledger's bookkeeping runs on the driver (see ``lineage``).  Each
stage's ``compute`` receives the pending bucket keys; the evaluation
stages prune their partitioned inputs with the literal
``part IN (<pending keys>)`` filter, so a resume scans only the pending
partition directories and the plans carry no join against the ledger.

The ledger doubles as the per-stage metrics table
(stage, partition_key, row_count, status, run_id) — ``StageLedger.stage_metrics``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.extraction import clean_text_df
from ..functions.parsing import parsed_triples_df
from ..operators.entity_catalog import full_catalog
from ..operators.gold_normalize import gold_entities, gold_relations
from ..operators.linking import resolve_in_document
from ..sources.llm_cache import fetch_and_cache
from .lineage import StageLedger, checkpointed_stage, key_filter
from .pipeline import PipelineConfig, plan_prompts


def _with_bucket(df: DataFrame, n: int = 32) -> DataFrame:
    return df.withColumn("part", F.pmod(F.hash("url"), F.lit(n)).cast("string"))


def run_checkpointed(
    spark,
    pages: DataFrame,
    workdir: str,
    config: PipelineConfig | None = None,
    model_fn=None,
    n_buckets: int = 32,
) -> dict[str, DataFrame]:
    """Run the extraction->evaluation pipeline with every stage checkpointed.

    Stages already marked done in ``workdir/ledger`` are skipped; partial
    completions recompute only missing partition keys.  Returns the
    materialized stage DataFrames.
    """
    cfg = config or PipelineConfig()
    ledger = StageLedger(spark, f"{workdir}/ledger")

    # whole-corpus CONTENT fingerprint: stages depending on GLOBAL
    # aggregates (the entity catalog) are valid only w.r.t. the exact
    # corpus; mixing this into their work fingerprints invalidates them
    # when the corpus changes.  Hash (url, html) — not urls alone — so
    # editing a page's content (same url set) also invalidates.  It spans
    # the input before the language filter: a change to a filtered-out
    # page invalidates too, which costs a recompute, never correctness.
    fp_row = pages.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.pmod(F.xxhash64("url", "html"), F.lit(1_000_000_007).cast("long"))
        ).alias("h"),
    ).collect()[0]  # driver-metadata collect
    corpus_fp = f"{fp_row['n']}:{fp_row['h']}"

    # the clean-text and gold stages run over ONE bucketed frame, so they
    # share its fingerprint action
    pages_b, clean, prompts = plan_prompts(
        spark,
        _with_bucket(pages, n_buckets),
        cfg,
        clean_stage=lambda kept: checkpointed_stage(
            ledger,
            "clean_text",
            kept,
            "part",
            f"{workdir}/clean_text",
            lambda work, _: _with_bucket(clean_text_df(work), n_buckets),
        ),
    )

    ents = checkpointed_stage(
        ledger,
        "gold_entities",
        pages_b,
        "part",
        f"{workdir}/gold_entities",
        lambda work, _: _with_bucket(gold_entities(work), n_buckets),
    )
    gold_rels = checkpointed_stage(
        ledger,
        "gold_relations",
        pages_b,
        "part",
        f"{workdir}/gold_relations",
        lambda work, _: _with_bucket(gold_relations(work), n_buckets),
    )

    # responses: the cache table IS the checkpoint (anti-join resume)
    responses = fetch_and_cache(prompts, f"{workdir}/llm_cache", model_fn)

    responses_with_text = responses.join(clean.select("url", "text"), "url")
    triples = checkpointed_stage(
        ledger,
        "triples",
        _with_bucket(responses_with_text, n_buckets),
        "part",
        f"{workdir}/triples",
        lambda work, _: _with_bucket(parsed_triples_df(work), n_buckets),
    )

    # catalog: global aggregate — single-"partition" stage whose work rows
    # (and therefore fingerprint) are the full gold-entity CONTENT
    # (mentions included: the catalog's common_mentions/exact_forms/first20
    # derive from mention text, so an edited mention on an unchanged
    # (url, entity_id) set must still recompute): any corpus change
    # recomputes + overwrites it
    link_cat = checkpointed_stage(
        ledger,
        "candidates",
        ents.select(
            F.lit("all").alias("part"), "url", "entity_id", "entity_type",
            "mentions",
        ),
        "part",
        f"{workdir}/candidates",
        lambda _, __: full_catalog(ents).withColumn("part", F.lit("all")),
    )

    # resolution depends on the global catalog: the corpus fingerprint is
    # mixed into each bucket's work fingerprint, so a corpus change
    # invalidates every previously-resolved bucket (catalog metadata like
    # common_mentions can shift resolution of unchanged documents)
    resolved = checkpointed_stage(
        ledger,
        "resolved",
        triples.withColumn("_corpus_fp", F.lit(corpus_fp)),
        "part",
        f"{workdir}/resolved",
        lambda work, _: _with_bucket(
            resolve_in_document(
                work,
                membership_df=ents.select("url", "entity_id"),
                catalog_df=link_cat,
            ),
            n_buckets,
        ),
    )

    # evaluation stages, also ledgered (north_rule: ANY stage resumes).
    # counts/per_doc are per-url-bucket; their work fingerprint covers BOTH
    # inputs (resolved predictions AND gold content) via per-part row
    # signatures, so an edited gold relation recomputes exactly its bucket.
    # The evaluation config is mixed in as a literal, so a resume with
    # other strategies recomputes every evaluation stage.
    from ..operators.aggregate import aggregate_results
    from ..operators.matching import evaluate_counts_df, gold_bundle
    from ..operators.metrics import eval_per_doc

    combos = [(t, m) for t in cfg.techniques for m in cfg.models]
    eval_cfg = json.dumps(
        [list(cfg.strategies), [bool(v) for v in cfg.with_types_variants], combos]
    )

    def _sig(df):
        return df.select(
            "part",
            F.xxhash64(F.struct(*[F.col(c) for c in df.columns])).alias("sig"),
        )

    def _eval_work(*dfs):
        work = _sig(dfs[0])
        for df in dfs[1:]:
            work = work.unionByName(_sig(df))
        return work.withColumn("_eval_cfg", F.lit(eval_cfg))

    def _compute_counts(_, keys):
        only = key_filter("part", keys)
        return _with_bucket(
            evaluate_counts_df(
                resolved.where(only),
                gold_bundle(gold_rels.where(only), ents.where(only)),
                strategies=cfg.strategies,
                with_types_variants=cfg.with_types_variants,
                combos=combos,
            ),
            n_buckets,
        )

    counts = checkpointed_stage(
        ledger,
        "counts",
        _eval_work(resolved, gold_rels, ents),
        "part",
        f"{workdir}/counts",
        _compute_counts,
    )

    def _compute_per_doc(_, keys):
        only = key_filter("part", keys)
        return _with_bucket(
            eval_per_doc(
                counts.where(only), resolved.where(only), gold_rels.where(only)
            ),
            n_buckets,
        )

    per_doc = checkpointed_stage(
        ledger,
        "eval_per_doc",
        _eval_work(counts, resolved, gold_rels),
        "part",
        f"{workdir}/eval_per_doc",
        _compute_per_doc,
    )

    # the aggregate is global: a single 'all' partition fingerprinted over
    # the full per-doc content — any change anywhere recomputes it
    agg = checkpointed_stage(
        ledger,
        "eval_aggregate",
        _eval_work(per_doc).withColumn("part", F.lit("all")),
        "part",
        f"{workdir}/eval_aggregate",
        lambda _, __: aggregate_results(per_doc).withColumn("part", F.lit("all")),
    )

    return {
        "clean_text": clean,
        "gold_entities": ents,
        "gold_relations": gold_rels,
        "responses": responses,
        "triples": triples,
        "resolved": resolved,
        "counts": counts,
        "eval_per_doc": per_doc,
        "eval_aggregate": agg,
        "ledger": ledger.stage_metrics(),
    }
