"""Gold normalization (G1-G3) and entity catalog (E1/E2): parity vs the
real reference code on identical BioC payloads (skipped when the
reference checkout is absent), plus the catalog's own consistency checks."""

from __future__ import annotations

import json
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

from relation_extraction_using_llms_spark.sources import synthetic
from tests.ref_oracle import ref_module, ref_setup_module, require_reference


@pytest.fixture(scope="module")
def ref():
    """The reference modules the parity tests compare against."""
    require_reference()
    return SimpleNamespace(
        gold=ref_setup_module("generate_gold_relations.py"),
        entity_map=ref_module("pipeline.data.entity_map"),
        types=ref_module("pipeline.types"),
    )


def _docs(sf_dir, n=60):
    return pq.read_table(f"{sf_dir}/documents.parquet").to_pylist()[:n]


def _bioc_doc(doc):
    return json.loads(doc["html"].decode())["documents"][0]


@pytest.fixture(scope="module")
def corpus(sf_dir):
    return [
        synthetic.gen_doc(r["doc_id"], r["text"], r["lang"]) for r in _docs(sf_dir)
    ]


def test_gold_entities_parity(ref, spark, sf_dir, corpus):
    from relation_extraction_using_llms_spark.operators.gold_normalize import (
        gold_entities,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    urls = {d["url"] for d in corpus}
    pages = pages_df(spark, sf_dir)
    ours = {
        (r["url"], r["entity_id"]): r
        for r in gold_entities(pages).collect()
        if r["url"] in urls
    }
    for doc in corpus:
        ref_entities = ref.gold.collect_entities(_bioc_doc(doc)["passages"])
        for eid, ent in ref_entities.items():
            row = ours[(doc["url"], eid)]
            assert row["entity_type"] == ent["type"]
            got = [
                (
                    m["text"],
                    m["passage_index"],
                    m["passage_offset"],
                    m["char_offset"],
                    m["length"],
                )
                for m in row["mentions"]
            ]
            want = [
                (
                    m["text"],
                    m["passage_index"],
                    m["passage_offset"],
                    m["char_offset"],
                    m["length"],
                )
                for m in ent["mentions"]
            ]
            assert got == want, (doc["url"], eid)
    ref_keys = {
        (doc["url"], eid)
        for doc in corpus
        for eid in ref.gold.collect_entities(_bioc_doc(doc)["passages"])
    }
    assert {k for k in ours if k[0] in urls} == ref_keys


def test_gold_relations_parity(ref, spark, sf_dir, corpus):
    from relation_extraction_using_llms_spark.operators.gold_normalize import (
        gold_relations,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import pages_df

    urls = {d["url"] for d in corpus}
    pages = pages_df(spark, sf_dir)
    ours = {}
    for r in gold_relations(pages).collect():
        if r["url"] in urls:
            ours.setdefault(r["url"], []).append(
                (r["rel_id"], r["head_id"], r["tail_id"], r["rel_type"], r["novel"])
            )
    n_filtered = 0
    for doc in corpus:
        bdoc = _bioc_doc(doc)
        rels = ref.gold.collect_relations(bdoc)
        ent_ids = set(ref.gold.collect_entities(bdoc["passages"]).keys())
        kept = [
            (r["id"], r["head_id"], r["tail_id"], r["type"], r["novel"])
            for r in rels
            if r["head_id"] in ent_ids and r["tail_id"] in ent_ids
        ]
        n_filtered += len(rels) - len(kept)
        assert sorted(ours.get(doc["url"], [])) == sorted(kept), doc["url"]
    assert n_filtered > 0  # corpus exercises the G3 integrity filter


def test_entity_catalog_parity(ref, spark, sf_dir, corpus):
    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        entity_catalog,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import (
        gold_entities_df,
    )

    # Reference GlobalEntityMap fed with docs in sorted-url order (its
    # insertion-order ties come from sorted file globs).
    gr_list = []
    for doc in sorted(corpus, key=lambda d: d["url"]):
        entities = []
        for e in doc["entities"]:
            mentions = [
                ref.types.Mention(
                    text=m, passage_index=0, passage_offset=0, char_offset=0, length=len(m)
                )
                for m in e["mentions"]
            ]
            entities.append(
                ref.types.Entity(id=e["id"], type=e["type"], mentions=mentions)
            )
        gr_list.append(
            ref.types.GoldRelations(
                doc_id=doc["url"], entities=entities, relations=[], title="", body="",
                file_path="",
            )
        )
    ref_map = ref.entity_map.GlobalEntityMap()
    ref_map.build_from_gold_relations(gr_list)

    urls = {d["url"] for d in corpus}
    ents_all = gold_entities_df(spark, sf_dir)
    ents = ents_all.where(ents_all["url"].isin(urls))
    ours = {r["entity_id"]: r for r in entity_catalog(ents).collect()}

    assert set(ours) == set(ref_map.entities)
    n_tie_rich = 0
    for eid, ge in ref_map.entities.items():
        row = ours[eid]
        assert row["entity_type"] == ge.type, eid
        assert row["canonical_name"] == ge.canonical_name, eid
        assert list(row["common_mentions"]) == ge.common_mentions, eid
        assert row["mention_count"] == len(ge.all_mentions)
        assert row["document_count"] == ge.document_count
        if len(set(m.text for m in ge.all_mentions)) > 3:
            n_tie_rich += 1
    assert n_tie_rich > 5  # ties/top-k actually exercised


def test_full_catalog_hot_entity_skew(spark):
    """A pathological head entity (100k mentions, 60 distinct forms over
    2,000 docs) flows through the salted two-phase catalog with correct
    top-k/first-k/counts — the aggregation the Zipfian web head hits."""
    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        _catalog,
    )

    # hot entity: doc d (0..1999) carries 50 mentions; form f"form{j%60}";
    # form0 is globally most frequent; the earliest occurrence overall is
    # (url d=0000, pos 0) -> form0 => canonical and created_ord anchor
    docs = spark.range(2000).select(
        F.format_string("https://h/%04d", F.col("id")).alias("url"),
        F.lit("HOT").alias("entity_id"),
        F.lit("GeneOrGeneProduct").alias("entity_type"),
        F.transform(
            F.sequence(F.lit(0), F.lit(49)),
            lambda j: F.struct(
                F.concat(
                    F.lit("form"),
                    F.pmod(j + F.col("id"), F.lit(60)).cast("string"),
                ).alias("text"),
                F.lit(0).cast("int").alias("passage_index"),
                F.lit(0).cast("int").alias("passage_offset"),
                F.lit(0).cast("int").alias("char_offset"),
                F.lit(5).cast("int").alias("length"),
            ),
        ).alias("mentions"),
    )
    tail = spark.createDataFrame(
        [("https://h/t", "COLD", "ChemicalEntity",
          [{"text": "rare", "passage_index": 0, "passage_offset": 0,
            "char_offset": 0, "length": 4}])],
        docs.schema,
    )
    # pin the salted layout: this test exists to exercise the Zipfian-safe
    # two-phase shape, whichever layout the router would pick
    cat = {
        r["entity_id"]: r
        for r in _catalog(docs.unionByName(tail), "salted").collect()
    }
    hot = cat["HOT"]
    assert hot["mention_count"] == 2000 * 50
    assert len(hot["common_mentions"]) == 10
    assert len(hot["first20"]) == 20
    assert len(hot["exact_forms"]) == 60
    # first20 = the 50 mentions of the lexicographically-first url, pos 0..19
    assert hot["first20"] == [f"form{j % 60}" for j in range(20)]
    assert hot["created_ord"].startswith("https://h/0000\x01")
    assert cat["COLD"]["canonical_name"] == "rare"
    assert cat["COLD"]["document_count"] == 1


def test_full_catalog_order_key_adversarial_urls(spark):
    """Prefix urls and urls with chars sorting below '#' ('!', ' ') must not
    flip first-seen tie-breaks: full_catalog's string order key (\\x01
    separator) must agree with entity_catalog's struct(url, pos) ordering."""
    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        entity_catalog,
        full_catalog,
    )

    def doc(url, eid, etype, forms):
        return (
            url, eid, etype,
            [{"text": t, "passage_index": 0, "passage_offset": 0,
              "char_offset": i, "length": len(t)} for i, t in enumerate(forms)],
        )

    schema = (
        "url string, entity_id string, entity_type string, mentions "
        "array<struct<text:string,passage_index:int,passage_offset:int,"
        "char_offset:int,length:int>>"
    )
    rows = [
        # "a" is a prefix of "a!": struct order says url "a" comes first, so
        # the canonical tie-break (both forms appear once) must pick "early"
        doc("a!", "E1", "TypeLate", ["late"]),
        doc("a", "E1", "TypeEarly", ["early"]),
        # ' ' (0x20) also sorts below '#' (0x23)
        doc("b c", "E2", "T", ["first"]),
        doc("b#z", "E2", "T", ["second"]),
    ]
    ents = spark.createDataFrame(rows, schema)
    fused = {r["entity_id"]: r for r in full_catalog(ents).collect()}
    plain = {r["entity_id"]: r for r in entity_catalog(ents).collect()}
    for eid in ("E1", "E2"):
        assert fused[eid]["canonical_name"] == plain[eid]["canonical_name"], eid
        assert fused[eid]["entity_type"] == plain[eid]["entity_type"], eid
        assert fused[eid]["common_mentions"] == plain[eid]["common_mentions"], eid
    assert fused["E1"]["canonical_name"] == "early"
    assert fused["E1"]["entity_type"] == "TypeEarly"
    assert fused["E2"]["canonical_name"] == "first"


def test_eval_cube_marginals_consistent(spark, sf_dir):
    """eval_cube's finest cells must match a plain groupBy, and every
    marginal must sum consistently (grand total = sum of per-strategy
    totals); gid disambiguates rolled-up dimensions."""
    import __spark_entry__ as entry_mod
    import pyspark.sql.functions as F

    rows = entry_mod.queries()["eval_cube"](spark, sf_dir).collect()
    assert rows
    finest = [r for r in rows if r["gid"] == 0]
    grand = [r for r in rows if r["gid"] == 15]
    assert len(grand) == 1
    assert all(
        r["technique"] is None and r["strategy"] is None for r in grand
    )
    assert sum(r["total_tp"] for r in finest) == grand[0]["total_tp"]
    assert sum(r["n_docs"] for r in finest) == grand[0]["n_docs"]
    # per-strategy marginal (technique/model/with_types rolled up:
    # bits for technique, model, with_types set)
    per_strategy = [
        r for r in rows
        if r["strategy"] is not None and r["technique"] is None
        and r["model"] is None and r["with_types"] is None
    ]
    assert per_strategy
    assert sum(r["total_fn"] for r in per_strategy) == grand[0]["total_fn"]


def test_full_catalog_direct_equals_salted(spark, sf_dir):
    """The stats-routed direct path (one groupBy to entity grain) must
    equal the salted two-phase path row-for-row — same slice/sort
    algebra, so only ``exact_forms`` array ORDER may differ (it is
    set-semantic in every consumer and nondeterministic in both paths;
    compared here as a sorted set)."""
    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        _catalog,
        full_catalog,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import (
        gold_entities_df,
    )

    ents = gold_entities_df(spark, sf_dir)

    def norm(df):
        return sorted(
            (
                r["entity_id"], r["entity_type"], r["canonical_name"],
                tuple(r["common_mentions"]), r["mention_count"],
                r["document_count"], tuple(sorted(r["exact_forms"])),
                tuple(r["first20"]), r["created_ord"],
            )
            for r in df.collect()
        )

    direct = norm(_catalog(ents, "direct"))
    salted = norm(_catalog(ents, "salted"))
    assert direct == salted and len(direct) > 0
    # the router's choice is perf-only: whichever layout it takes, the
    # result is identical
    assert norm(full_catalog(ents)) == direct
