"""End-to-end pipeline plan (SURVEY.md §3.1 re-architected).

    pages --extract--> clean_text --xconfigs--> prompts --model--> responses
          --parse--> triples --link--> resolved triples
          --canonicalize--> (subj, pred, obj) tables
          --match vs gold--> eval_per_doc --agg--> eval_aggregate / rankings

One declarative lineage; stage boundaries exist only where the cache /
ledger materializes a table (the checkpoint-resume points).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.extraction import clean_text_df
from ..functions.parsing import parse_errors_df, parsed_triples_df
from ..functions.prompts import build_prompts, configs_df
from ..operators.aggregate import aggregate_results
from ..operators.entity_catalog import full_catalog
from ..operators.gold_normalize import gold_entities, gold_relations
from ..operators.linking import resolve_in_document
from ..operators.matching import evaluate_counts_df, gold_bundle
from ..operators.metrics import eval_per_doc
from ..sources.llm_cache import fetch_and_cache


@dataclass
class PipelineConfig:
    techniques: list = field(default_factory=lambda: ["IO", "CoT", "ReAct", "RAG"])
    modes: list = field(default_factory=lambda: ["improved"])
    models: list = field(default_factory=lambda: ["stub-small", "stub-large"])
    strategies: list = field(default_factory=lambda: ["exact", "text", "jaccard"])
    with_types_variants: tuple = (True, False)
    cache_path: str | None = None
    lang: str | None = None  # optional pages-language filter (pushed down)
    # RAG retrieval (rag_prompter.py:77-129): top-k snippets prepended to
    # RAG-technique prompts; the index is a deterministic sample of the
    # corpus itself (hash-ordered top-N — broadcastable at any corpus size)
    rag_k: int = 3
    rag_index_size: int = 64
    # "token": broadcast token-overlap retriever (small indexes);
    # "ann": embed queries+snippets (pluggable embedder) and retrieve via
    # the shipped lsh_topk — the index-size-independent scale path
    rag_retrieval: str = "token"


def rag_snippet_index(clean: DataFrame, n: int = 64, snippet_chars: int = 300) -> DataFrame:
    """Deterministic n-document retrieval index (doc_id, text) drawn from
    the corpus by hash order — a TakeOrdered scan, no full sort, and small
    enough to broadcast into the retrieval crossJoin."""
    return (
        clean.select(
            F.col("url").alias("doc_id"),
            F.substring("text", 1, snippet_chars).alias("text"),
        )
        .orderBy(F.xxhash64("doc_id"))
        .limit(n)
    )


def plan_prompts(
    spark,
    pages: DataFrame,
    cfg: PipelineConfig,
    clean_stage=None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The front of both drivers: the optional language filter, text
    cleaning, RAG retrieval and the prompt build.  ``clean_stage(pages)``
    turns the kept pages into the clean-text table: ``clean_text_df`` by
    default, the ledgered stage in ``run_checkpointed``.  Returns (kept
    pages, clean, prompts)."""
    if cfg.lang:
        pages = pages.where(F.col("lang") == cfg.lang)
    clean = (clean_stage or clean_text_df)(pages)
    # RAG technique always retrieves (rag_prompter.py:77-129): top-k corpus
    # snippets join in as context for RAG rows only
    context_df = None
    if "RAG" in cfg.techniques:
        from ..operators.similarity import rag_context, rag_context_ann

        retriever = rag_context_ann if cfg.rag_retrieval == "ann" else rag_context
        context_df = retriever(
            clean.select("url", "text"),
            rag_snippet_index(clean, cfg.rag_index_size),
            k=cfg.rag_k,
        )
    prompts = build_prompts(
        clean.select("url", "text"),
        configs_df(spark, cfg.techniques, cfg.modes, cfg.models),
        context_df=context_df,
    )
    return pages, clean, prompts


def run_pipeline(
    spark,
    pages: DataFrame,
    config: PipelineConfig | None = None,
    model_fn=None,
) -> dict[str, DataFrame]:
    """Build the full lineage; returns the named stage DataFrames (all
    lazy except what the response cache materializes)."""
    cfg = config or PipelineConfig()
    pages, clean, prompts = plan_prompts(spark, pages, cfg)
    responses = fetch_and_cache(prompts, cfg.cache_path, model_fn)
    responses_with_text = responses.join(clean.select("url", "text"), "url")
    triples = parsed_triples_df(responses_with_text)
    errors = parse_errors_df(responses_with_text)

    ents = gold_entities(pages)
    # one-pass catalog + distinct-pair resolution: membership ids and
    # entity-grain metadata travel separately — hot-entity metadata never
    # duplicates per document
    link_cat = full_catalog(ents)
    resolved = resolve_in_document(
        triples,
        membership_df=ents.select("url", "entity_id"),
        catalog_df=link_cat,
    )

    gold_rels = gold_relations(pages, ents)
    bundle = gold_bundle(gold_rels, ents)
    combos = [(t, m) for t in cfg.techniques for m in cfg.models]
    counts = evaluate_counts_df(
        resolved,
        bundle,
        strategies=cfg.strategies,
        with_types_variants=cfg.with_types_variants,
        combos=combos,
    )
    per_doc = eval_per_doc(counts, resolved, gold_rels)
    agg = aggregate_results(per_doc)

    return {
        "clean_text": clean,
        "prompts": prompts,
        "responses": responses,
        "triples": triples,
        "errors": errors,
        "gold_entities": ents,
        "entity_catalog": link_cat,
        "resolved": resolved,
        "gold_relations": gold_rels,
        "counts": counts,
        "eval_per_doc": per_doc,
        "eval_aggregate": agg,
    }
