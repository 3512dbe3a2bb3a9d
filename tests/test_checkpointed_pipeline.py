"""Full-pipeline kill-and-resume (north_rule): a crashed run resumes from
its ledger, recomputing only missing partitions; results equal a clean run."""

from __future__ import annotations

import pyspark.sql.functions as F


def _key(rows):
    return sorted(
        (r["url"], r["technique"], r["model"], r["pred_index"], r["head_id"], r["tail_id"])
        for r in rows
    )


def test_kill_and_resume_equals_clean_run(spark, sf_dir, tmp_path):
    from relation_extraction_using_llms_spark.plans.checkpointed import (
        run_checkpointed,
    )
    from relation_extraction_using_llms_spark.plans.pipeline import PipelineConfig
    from relation_extraction_using_llms_spark.sources.stub_model import make_stub_model
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    cfg = PipelineConfig(techniques=["IO"], models=["stub-large"])
    model = make_stub_model(sf_dir)
    pages = pages_df(spark, sf_dir).limit(100).cache()

    # clean run (reference result)
    clean_dir = str(tmp_path / "clean_run")
    clean = run_checkpointed(spark, pages, clean_dir, cfg, model)
    want = _key(clean["resolved"].collect())
    assert len(want) > 100

    # "crashed" run: first attempt only sees 40 pages (simulates a job
    # killed partway — some partitions done, some not)
    crash_dir = str(tmp_path / "crash_run")
    first = pages.limit(40)
    run_checkpointed(spark, first, crash_dir, cfg, model)

    # resume with the full input: only missing partitions recompute
    resumed = run_checkpointed(spark, pages, crash_dir, cfg, model)
    got = _key(resumed["resolved"].collect())
    assert got == want

    # third run: pure no-op, same result
    again = run_checkpointed(spark, pages, crash_dir, cfg, model)
    assert _key(again["resolved"].collect()) == want

    # evaluation stages are checkpointed too and equal the plain pipeline's
    agg = {
        (r["technique"], r["model"], r["strategy"], r["with_types"]):
        (r["total_tp"], r["total_fp"], r["total_fn"])
        for r in resumed["eval_aggregate"].collect()
    }
    assert agg and all(sum(v) > 0 for v in agg.values())

    # ledger doubles as the metrics table
    metrics = {r["stage"]: r for r in resumed["ledger"].collect()}
    for stage in ("clean_text", "gold_entities", "gold_relations", "triples",
                  "resolved", "counts", "eval_per_doc", "eval_aggregate"):
        assert stage in metrics, stage
        assert metrics[stage]["rows"] > 0
    # the crashed+resumed ledger shows two distinct run ids contributed
    assert any(r["n_runs"] >= 1 for r in resumed["ledger"].collect())


def test_partial_resume_recomputes_only_missing(spark, sf_dir, tmp_path):
    """Count model calls across the crash/resume cycle: the resumed run
    must fetch only the delta (cache anti-join), never re-ask."""
    from relation_extraction_using_llms_spark.plans.checkpointed import (
        run_checkpointed,
    )
    from relation_extraction_using_llms_spark.plans.pipeline import PipelineConfig
    from relation_extraction_using_llms_spark.sources.stub_model import make_stub_model
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    cfg = PipelineConfig(techniques=["IO"], models=["stub-large"])
    inner = make_stub_model(sf_dir)
    calls = []

    def counting_model(df):
        calls.append(df.count())
        return inner(df)

    pages = pages_df(spark, sf_dir).limit(60).cache()
    workdir = str(tmp_path / "wd")
    run_checkpointed(spark, pages.limit(25), workdir, cfg, counting_model)
    assert sum(calls) == 25
    run_checkpointed(spark, pages, workdir, cfg, counting_model)
    assert sum(calls) == 60  # only the 35 new pages hit the model


def test_zero_row_recompute_drops_stale_partition(spark, tmp_path):
    """Dynamic overwrite only replaces partitions present in the new result:
    a key whose recompute yields zero rows must not resurrect old files."""
    from relation_extraction_using_llms_spark.plans.lineage import (
        StageLedger,
        checkpointed_stage,
    )

    ledger = StageLedger(spark, str(tmp_path / "ledger"))
    out = str(tmp_path / "out")

    def compute(w, _keys):
        return w.where(F.col("v") != 99)

    work1 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "part string, v int"
    )
    t1 = checkpointed_stage(ledger, "s", work1, "part", out, compute)
    assert t1.count() == 3

    # key a's input changes so its recompute filters to ZERO rows
    work2 = spark.createDataFrame([("a", 99), ("b", 3)], "part string, v int")
    t2 = checkpointed_stage(ledger, "s", work2, "part", out, compute)
    assert {(r["part"], r["v"]) for r in t2.collect()} == {("b", 3)}


def test_vanished_key_partition_dropped_and_ledgered(spark, tmp_path):
    """A key that disappears from the input loses its output partition and
    gets a 'removed' ledger row; reappearing later recomputes it."""
    from relation_extraction_using_llms_spark.plans.lineage import (
        StageLedger,
        checkpointed_stage,
    )

    ledger = StageLedger(spark, str(tmp_path / "ledger"))
    out = str(tmp_path / "out")
    compute = lambda w, _keys: w  # noqa: E731
    work1 = spark.createDataFrame(
        [("a", 1), ("b", 2)], "part string, v int"
    )
    checkpointed_stage(ledger, "s", work1, "part", out, compute)

    work2 = spark.createDataFrame([("b", 2)], "part string, v int")
    t2 = checkpointed_stage(ledger, "s", work2, "part", out, compute)
    assert {(r["part"], r["v"]) for r in t2.collect()} == {("b", 2)}
    statuses = {
        (r["partition_key"], r["status"])
        for r in spark.read.parquet(str(tmp_path / "ledger")).collect()
    }
    assert ("a", "removed") in statuses

    # key a returns -> recomputed fresh
    t3 = checkpointed_stage(ledger, "s", work1, "part", out, compute)
    assert {(r["part"], r["v"]) for r in t3.collect()} == {("a", 1), ("b", 2)}


def test_content_edit_invalidates_catalog_and_resolution(spark, sf_dir, tmp_path):
    """Editing one page's mention content (url set unchanged) must recompute
    that page's buckets AND the global catalog AND every resolved bucket
    (catalog metadata can shift resolution of unchanged documents)."""
    import json

    from relation_extraction_using_llms_spark.plans.checkpointed import (
        run_checkpointed,
    )
    from relation_extraction_using_llms_spark.plans.pipeline import PipelineConfig
    from relation_extraction_using_llms_spark.sources.stub_model import make_stub_model
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    cfg = PipelineConfig(techniques=["IO"], models=["stub-large"])
    model = make_stub_model(sf_dir)
    pages = pages_df(spark, sf_dir).limit(30).cache()
    u0 = pages.select("url").orderBy("url").limit(1).collect()[0]["url"]
    wd = str(tmp_path / "wd")
    run_checkpointed(spark, pages, wd, cfg, model)
    ledger = spark.read.parquet(f"{wd}/ledger")
    run1 = ledger.select("run_id").distinct().collect()[0]["run_id"]

    new_html = json.dumps(
        {
            "documents": [
                {
                    "id": u0,
                    "passages": [
                        {
                            "offset": 0,
                            "text": "edited mention doc",
                            "annotations": [
                                {
                                    "infons": {
                                        "identifier": "W:edited",
                                        "type": "GeneOrGeneProduct",
                                    },
                                    "text": "edited",
                                    "locations": [{"offset": 0, "length": 6}],
                                }
                            ],
                        }
                    ],
                    "relations": [],
                }
            ]
        }
    ).encode()
    edited = pages.withColumn(
        "html",
        F.when(F.col("url") == u0, F.lit(new_html)).otherwise(F.col("html")),
    )
    run_checkpointed(spark, edited, wd, cfg, model)
    ledger2 = spark.read.parquet(f"{wd}/ledger")
    latest = {
        (r["stage"], r["partition_key"]): r["run_id"]
        for r in ledger2.orderBy("ts").collect()
    }  # later rows overwrite earlier in dict order
    # the global candidates stage recomputed (mention content fingerprint)
    assert latest[("candidates", "all")] != run1
    # EVERY resolved bucket recomputed (corpus content fingerprint)
    resolved_runs = {v for (s, _), v in latest.items() if s == "resolved"}
    assert run1 not in resolved_runs
    # untouched clean_text buckets did NOT recompute (only u0's bucket did)
    clean_runs = [v for (s, _), v in latest.items() if s == "clean_text"]
    assert sum(1 for v in clean_runs if v != run1) == 1
    # eval follows its inputs BY CONTENT: although every resolved bucket
    # was rewritten, untouched buckets produced byte-identical rows, so
    # only the edited doc's counts bucket recomputes — and the global
    # aggregate (content-fingerprinted over all per-doc rows) recomputes
    assert latest[("eval_aggregate", "all")] != run1
    b0 = (
        spark.createDataFrame([(u0,)], "url string")
        .select(F.pmod(F.hash("url"), F.lit(32)).cast("string").alias("b"))
        .collect()[0]["b"]
    )
    assert latest[("counts", b0)] != run1
    assert any(
        v == run1 for (s, k), v in latest.items() if s == "counts" and k != b0
    ), "unchanged counts buckets must skip recompute"


def test_partition_dir_matches_spark_escaping(spark, tmp_path):
    """_drop_partitions must derive EXACTLY the directory names Spark writes
    for hostile partition keys, or stale partitions survive a resume.  Keys
    cover Hive's charToEscape set ('}' is NOT escaped; DEL 0x7F is)."""
    import os

    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.plans.lineage import _partition_dir

    keys = [
        "plain", "with space", "a{b", "a}b", "a[b]c", "a^b", "a:b", "a=b",
        "a/b", "a\\b", "a#b", "a%b", "a*b", "a?b", "a'b", 'a"b',
        "a\x7fb", "a\tb", "a!b",
    ]
    out = str(tmp_path / "esc")
    df = spark.createDataFrame([(k, 1) for k in keys], "k string, v int")
    df.repartition(1).write.mode("overwrite").partitionBy("k").parquet(out)
    on_disk = {d for d in os.listdir(out) if d.startswith("k=")}
    derived = {os.path.basename(_partition_dir(out, "k", k)) for k in keys}
    assert derived == on_disk


def test_checkpointed_prompts_match_pipeline(spark, sf_dir, tmp_path):
    """run_checkpointed builds the prompts run_pipeline builds: the
    language filter applies and RAG prompts carry the retrieved context.
    The model echoes each prompt, so the responses are the prompts."""
    from relation_extraction_using_llms_spark.plans.checkpointed import (
        run_checkpointed,
    )
    from relation_extraction_using_llms_spark.plans.pipeline import (
        PipelineConfig,
        run_pipeline,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    cfg = PipelineConfig(techniques=["RAG"], models=["stub-large"], lang="en")
    pages = pages_df(spark, sf_dir).limit(30).cache()

    def echo(prompts):
        return prompts.withColumn("response", F.col("prompt"))

    def responses(stages):
        return {
            (r["url"], r["technique"], r["model"]): r["response"]
            for r in stages["responses"].collect()
        }

    want = responses(run_pipeline(spark, pages, cfg, echo))
    got = responses(run_checkpointed(spark, pages, str(tmp_path / "run"), cfg, echo))
    assert got == want
    en = {r["url"] for r in pages.where(F.col("lang") == "en").collect()}
    assert {url for url, _, _ in got} == en and len(en) < pages.count()
    assert all("Retrieved context:" in r for r in got.values())
