"""LLM response cache table + anti-join resume (SURVEY.md §2.1 S5/S6).

The reference memoizes model responses in content-addressed JSON files
keyed (technique, model, template_hash, doc_id, doc_hash, prompt_hash)
(pipeline/cache/llm_cache.py:79-372).  Here the cache is a partitioned
parquet table with the same key; "resume" is a left-anti join of the work
set against it — the idempotent-restart primitive the north_rule requires.
A re-run after a crash re-issues only the missing (url, config) pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

CACHE_KEY = ["url", "technique", "model", "prompt_template_hash", "doc_hash"]


def read_cache(spark, cache_path: str) -> DataFrame | None:
    if not os.path.exists(cache_path):
        return None
    try:
        return spark.read.parquet(cache_path)
    except Exception:
        return None


def pending_work(prompts_df: DataFrame, cache_df: DataFrame | None) -> DataFrame:
    """Prompts not yet answered (llm_cache.py get-before-call,
    main.py:1073-1097), as one anti-join instead of per-row file globs."""
    if cache_df is None:
        return prompts_df
    return prompts_df.join(cache_df.select(*CACHE_KEY), CACHE_KEY, "left_anti")


def append_responses(responses_df: DataFrame, cache_path: str) -> None:
    """Append newly fetched responses, partitioned by (technique, model) so
    a combo's resume scan prunes to its own files."""
    (
        responses_df.select(*CACHE_KEY, "response")
        .write.mode("append")
        .partitionBy("technique", "model")
        .parquet(cache_path)
    )


def fetch_and_cache(
    prompts_df: DataFrame,
    cache_path: str | None,
    model_fn=None,
) -> DataFrame:
    """The inference stage with checkpoint/resume.

    ``model_fn(prompts_df) -> responses_df`` is the served-model call — a
    mapInPandas issuing batched endpoint requests in deployment; the
    deterministic stub in tests.  With a cache path, only cache misses hit
    the model, new responses are appended (the checkpoint), and the full
    response set is re-read from the cache table.
    """
    from .stub_model import stub_model_fn

    model_fn = model_fn or stub_model_fn
    if not cache_path:
        return model_fn(prompts_df)
    spark = prompts_df.sparkSession
    cache_df = read_cache(spark, cache_path)
    todo = pending_work(prompts_df, cache_df)
    if todo.limit(1).count() > 0:
        append_responses(model_fn(todo), cache_path)
    cache_df = read_cache(spark, cache_path)
    return prompts_df.join(
        cache_df.select(*CACHE_KEY, "response"), CACHE_KEY, "inner"
    )

