#!/usr/bin/env python
"""Composed training-data corpus-prep chain: the individual corpus
operators (each independently oracle-verified) wired into ONE runnable
stage pipeline — the batch-construction story a web-scale LM training
pipeline runs before serialization, the way scripts/rag_http_demo.py
closes the serving story.

    quality filter -> PII redaction -> exact dedup -> MinHash near-dedup
    (cluster closure, keep one per component) -> benchmark
    decontamination -> deterministic sample -> optional weighted source
    mixing -> sequence packing -> partitioned parquet shards +
    per-source QA profile

    python scripts/corpus_prep.py --sf-dir /root/testdata/sf0.001 \
        --out /tmp/corpus_prep_out

Prints ONE JSON line with per-stage survivor counts (the audit trail a
data-governance review wants) plus the final packed-corpus profile.

Scale shape (every stage is the operator's documented 100 TB path):
the quality gate is a thin-table left_semi join keyed on doc_id; exact
dedup keeps the min doc_id per text-hash with one window (hash keys are
near-unique, no skew); near-dedup drops the GREATER member of each
capped-bucket MinHash pair (left_anti on a distinct id set); the
decontamination join reduces the corpus side to distinct fingerprints
before a broadcast-able equi-join; sampling and packing are pure
column/window logic with no driver state.  Nothing collects to the
driver except the final per-stage counts.

Each expensive stage output is ``localCheckpoint``-ed, and its audit
count is an ``Observation`` on that checkpoint's own action, so the
per-stage counts cost no Spark job beyond the checkpoints and never
re-execute the upstream chain (the MinHash self-join and the iterative
CC closure were once recomputed ~4x by per-stage ``count()``s — an
O(stages^2) recompute invisible at demo scale and ruinous at 100 TB).
At warehouse scale, substitute writing each stage through the
plans/checkpointed.py ledger for the executor-local checkpoints (same
linear-cost property, plus durable resume)."""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def run_chain(
    spark,
    docs,
    out: str,
    min_quality: float = 0.5,
    jaccard: float = 0.7,
    eval_parquet: str | None = None,
    contamination_window: int = 8,
    fraction: float = 1.0,
    mix: str | None = None,
    mix_target_tokens: int = 10_000,
    budget_tokens: int = 512,
    checkpoint=None,
) -> dict:
    """The corpus-prep chain over an already-loaded ``docs`` DataFrame.

    ``checkpoint`` cuts lineage after each expensive stage (default:
    ``df.localCheckpoint(eager=True)``); tests inject a pass-through to
    prove the counts themselves are what stays linear.  Each stage's
    audit figures are observed on the frame handed to ``checkpoint``: a
    hook that returns a new frame must have run an action on it (as an
    eager checkpoint does), and a hook that returns its input unchanged
    gets the figures from an explicit aggregate instead."""
    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    from relation_extraction_using_llms_spark.functions.textstats import (
        text_stats,
    )
    from relation_extraction_using_llms_spark.operators.corpus import (
        corpus_profile,
        deterministic_sample,
        mix_sources,
        pack_documents,
        redact_pii,
    )
    from relation_extraction_using_llms_spark.operators.dedup import (
        contaminated_docs,
        dedup_corpus,
        minhash_lsh_pairs,
    )
    from relation_extraction_using_llms_spark.sources.tables import write_table

    if checkpoint is None:
        checkpoint = lambda df: df.localCheckpoint(eager=True)  # noqa: E731

    n_rows = F.count(F.lit(1))

    def staged(df, **figures):
        """``checkpoint(df)`` plus the named aggregates over its rows, read
        from an Observation on the checkpoint's own action."""
        aggs = [agg.alias(name) for name, agg in figures.items()]
        obs = Observation()
        observed = df.observe(obs, *aggs)
        out = checkpoint(observed)
        if out is observed:  # the hook ran nothing: nothing was observed
            return df, df.agg(*aggs).first()
        return out, obs.get

    counts = {"input": docs.count()}

    # 1) quality gate: the one-pass text_stats projection scores every
    #    doc; survivors semi-join back (thin doc_id key, co-partitioned).
    good_ids = text_stats(docs).where(
        F.col("quality_score") >= min_quality
    ).select("doc_id")
    docs, seen = staged(docs.join(good_ids, "doc_id", "left_semi"), n=n_rows)
    counts["after_quality"] = seen["n"]

    # 2) PII scrub before anything persists (counts ride along per doc).
    docs, seen = staged(
        redact_pii(docs), pii=F.sum(F.col("n_email") + F.col("n_ip") + F.col("n_phone"))
    )
    counts["pii_redactions"] = int(seen["pii"] or 0)
    docs = docs.drop("n_email", "n_ip", "n_phone")

    # 3) exact dedup: keep min doc_id per byte-identical text.  One
    #    window shuffle keyed on the md5 (near-unique -> no skew), which
    #    also collapses the identical texts a MinHash bucket cap would
    #    otherwise see as one giant bucket.
    hw = Window.partitionBy(F.md5("text"))
    docs, seen = staged(
        docs.withColumn("_keep", F.min("doc_id").over(hw))
        .where(F.col("doc_id") == F.col("_keep"))
        .drop("_keep"),
        n=n_rows,
    )
    counts["after_exact_dedup"] = seen["n"]

    # 4) near-dedup: close the MinHash pair graph (capped banded LSH —
    #    never all-pairs) into clusters and keep one doc per cluster.
    #    Pairs are not transitive, so dropping pair members directly
    #    under-deletes (A~B, B~C with no A~C pair keeps both A and C
    #    while B's duplicates stay twice); connected components gives
    #    the exact closure in O(log n) groupBy+join rounds.
    near = minhash_lsh_pairs(docs, jaccard_threshold=jaccard)
    docs, seen = staged(dedup_corpus(docs, near), n=n_rows)
    counts["after_near_dedup"] = seen["n"]

    # 5) benchmark decontamination: anti-join docs sharing any n-token
    #    window with the eval set.
    if eval_parquet:
        evals = spark.read.parquet(eval_parquet)
    else:
        evals = deterministic_sample(docs, 0.05).select(
            F.col("doc_id").cast("string").alias("eval_id"), "text"
        )
    dirty = (
        contaminated_docs(docs, evals, window=contamination_window)
        .select("doc_id")
        .distinct()
    )
    # the pseudo-eval sample is drawn FROM the corpus, so its own member
    # docs trivially self-overlap; exclude them from the dirty set (a
    # real --eval-parquet has disjoint ids and this is a no-op)
    if not eval_parquet:
        dirty = dirty.join(
            evals.select(F.col("eval_id").cast("long").alias("doc_id")),
            "doc_id",
            "left_anti",
        )
    docs, seen = staged(docs.join(dirty, "doc_id", "left_anti"), n=n_rows)
    counts["after_decontamination"] = seen["n"]

    # 6) deterministic subsample (nested across fractions, cluster-size
    #    independent).  Pure filters over the checkpointed corpus from
    #    here on — each count executes at most this short tail once.
    if fraction < 1.0:
        docs = deterministic_sample(docs, fraction)
        counts["after_sample"] = docs.count()
    else:
        counts["after_sample"] = counts["after_decontamination"]

    # 6b) optional source mixing: down-sample each source to a weighted
    #     token budget ("5 parts web to 1 part wiki") — one tiny
    #     broadcast agg + a pure-JVM hash filter, reproducible at any
    #     cluster size.
    if mix:
        weights = {
            s: int(w)
            for s, w in (kv.split(":") for kv in mix.split(","))
        }
        mixed = mix_sources(docs, weights, target_tokens=mix_target_tokens)
        docs = docs.join(mixed.select("doc_id"), "doc_id", "left_semi")
        counts["after_mix"] = docs.count()

    # 7) sequence packing: ~budget-token bins per source (two-level
    #    cumsum — no single-task-per-group window), then the packed
    #    corpus ships as parquet partitioned by group for shard-local
    #    training reads.
    bins = pack_documents(docs, budget_tokens=budget_tokens)
    packed = docs.join(bins.select("doc_id", "group", "bin_id"), "doc_id")
    write_table(
        packed, f"{out}/packed", fmt="parquet",
        partition_by=("group",),
    )
    counts["n_bins"] = bins.select("group", "bin_id").distinct().count()

    # 8) QA profile of what shipped.
    profile = corpus_profile(spark.read.parquet(f"{out}/packed"))
    write_table(profile, f"{out}/profile", fmt="parquet")
    counts["final_docs"] = counts.get("after_mix", counts["after_sample"])
    counts["profile"] = {
        r["group"]: {"n_docs": r["n_docs"], "total_tokens": r["total_tokens"]}
        for r in profile.collect()
    }
    return counts


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-quality", type=float, default=0.5,
                    help="drop docs below this textstats quality_score")
    ap.add_argument("--jaccard", type=float, default=0.7,
                    help="MinHash near-dup threshold")
    ap.add_argument("--eval-parquet", default=None,
                    help="benchmark eval set (eval_id, text) to "
                    "decontaminate against; default: a deterministic 5%% "
                    "pseudo-eval sample of the corpus itself")
    ap.add_argument("--contamination-window", type=int, default=8,
                    help="n-gram window for the decontamination check "
                    "(13 is the published LM default; 8 suits the short "
                    "synthetic docs)")
    ap.add_argument("--fraction", type=float, default=1.0,
                    help="deterministic sample fraction of the cleaned "
                    "corpus")
    ap.add_argument("--mix", default=None,
                    help="weighted source mix, e.g. 'src0:5,src1:1' — "
                    "down-samples each listed source to its share of "
                    "--mix-target-tokens and drops unlisted sources")
    ap.add_argument("--mix-target-tokens", type=int, default=10_000)
    ap.add_argument("--budget-tokens", type=int, default=512)
    ap.add_argument("--shuffle-partitions", type=int, default=8)
    args = ap.parse_args()

    from relation_extraction_using_llms_spark.session import get_spark

    spark = get_spark(
        "corpus-prep",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]",
        shuffle_partitions=args.shuffle_partitions,
    )
    counts = run_chain(
        spark,
        spark.read.parquet(f"{args.sf_dir}/documents.parquet"),
        out=args.out,
        min_quality=args.min_quality,
        jaccard=args.jaccard,
        eval_parquet=args.eval_parquet,
        contamination_window=args.contamination_window,
        fraction=args.fraction,
        mix=args.mix,
        mix_target_tokens=args.mix_target_tokens,
        budget_tokens=args.budget_tokens,
    )
    print(json.dumps(counts))
    spark.stop()


if __name__ == "__main__":
    main()
