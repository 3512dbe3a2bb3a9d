"""Entity resolution and the catalog it reads: ``resolve_in_document``
equals the plain-Python reference cascade run per (url, mention), and
``full_catalog``'s columns equal their definitions."""

from __future__ import annotations


def _cascade_ids(cat_df, members: dict):
    """The expected resolver: ``resolve_mention_py`` per (url, mention)
    over the url's member entities, taken from the collected catalog and
    ordered by (created_ord, entity_id)."""
    from relation_extraction_using_llms_spark.operators.linking import (
        resolve_mention_py,
    )

    cat_rows = {
        r["entity_id"]: {
            "entity_id": r["entity_id"],
            "canonical_name": r["canonical_name"],
            "common_mentions": list(r["common_mentions"] or []),
            "exact_forms": set(r["exact_forms"] or []),
            "first20": list(r["first20"] or []),
            "created_ord": r["created_ord"],
        }
        for r in cat_df.collect()
    }

    def resolve(url, mention):
        cands = sorted(
            (cat_rows[e] for e in members.get(url, ())),
            key=lambda c: (c["created_ord"], c["entity_id"]),
        )
        return resolve_mention_py(mention, cands)

    return resolve


def test_pairs_mode_agrees(spark, sf_dir):
    """On 120 synthetic pages, the Spark resolver gives every prediction
    the ids the reference cascade gives it."""
    from relation_extraction_using_llms_spark.functions.extraction import clean_text_df
    from relation_extraction_using_llms_spark.functions.parsing import parsed_triples_df
    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        full_catalog,
    )
    from relation_extraction_using_llms_spark.operators.gold_normalize import (
        gold_entities,
    )
    from relation_extraction_using_llms_spark.operators.linking import (
        resolve_in_document,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import (
        pages_df,
        stub_responses_df,
    )

    pages = pages_df(spark, sf_dir).limit(120).cache()
    clean = clean_text_df(pages).select("url", "text")
    responses = stub_responses_df(spark, sf_dir, ["IO"], ["stub-large"]).join(
        clean.select("url"), "url", "left_semi"
    )
    triples = parsed_triples_df(responses.join(clean, "url")).cache()
    ents = gold_entities(pages)
    membership = ents.select("url", "entity_id")
    cat = full_catalog(ents)

    def key(r):
        return (r["url"], r["technique"], r["model"], r["pred_index"])

    got = {
        key(r): (r["head_id"], r["tail_id"])
        for r in resolve_in_document(triples, membership, cat).collect()
    }
    members: dict = {}
    for r in membership.collect():
        members.setdefault(r["url"], set()).add(r["entity_id"])
    resolve = _cascade_ids(cat, members)
    want = {
        key(r): (resolve(r["url"], r["head_mention"]), resolve(r["url"], r["tail_mention"]))
        for r in triples.collect()
    }
    assert got == want
    assert len(want) > 100
    assert any(h is not None for h, _ in want.values())


def test_full_catalog_equals_chain(spark, sf_dir):
    """full_catalog's catalog columns equal ``entity_catalog``'s, and its
    linking columns equal their definition computed row by row over the
    mentions in (url, mention position) order: ``exact_forms`` is the set
    of lowered, trimmed surface forms, ``first20`` the first 20 mention
    texts and ``created_ord`` the first occurrence's key."""
    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        entity_catalog,
        full_catalog,
    )
    from relation_extraction_using_llms_spark.sources.synthetic import gold_entities_df

    ents = gold_entities_df(spark, sf_dir).cache()
    fused = full_catalog(ents).cache()
    cols = [
        "entity_id", "entity_type", "canonical_name", "common_mentions",
        "mention_count", "document_count",
    ]

    def key(df):
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    a, b = key(entity_catalog(ents)), key(fused)
    assert len(a) == len(b) > 0
    assert a == b

    occurrences: dict = {}
    for r in ents.select("url", "entity_id", "mentions").collect():
        for pos, m in enumerate(r["mentions"] or []):
            occurrences.setdefault(r["entity_id"], []).append((r["url"], pos, m["text"]))
    want = {}
    for eid, occ in occurrences.items():
        occ.sort(key=lambda o: (o[0], o[1]))
        url, pos, _ = occ[0]
        want[eid] = (
            sorted({t.strip(" ").lower() for _, _, t in occ}),
            [t for _, _, t in occ[:20]],
            f"{url}\x01{pos:09d}",
        )
    got = {
        r["entity_id"]: (list(r["exact_forms"]), list(r["first20"]), r["created_ord"])
        for r in fused.select(
            "entity_id", F.array_sort("exact_forms").alias("exact_forms"),
            "first20", "created_ord",
        ).collect()
    }
    assert got == want
    assert any(len(f20) == 20 for _, f20, _ in want.values())


def test_pairs_mode_randomized_parity_with_cascade(spark):
    """Seeded-random adversarial corpus (overlapping surface forms, shared
    prefixes, near-miss mutations, long mentions for the partial stage):
    the pair-grain Spark reduction equals the sequential Python cascade
    run per (url, mention) over the same catalog rows."""
    import random

    import pyspark.sql.functions as F

    from relation_extraction_using_llms_spark.operators.entity_catalog import (
        full_catalog,
    )
    from relation_extraction_using_llms_spark.operators.linking import (
        resolve_in_document,
    )

    rng = random.Random(1234)
    base_forms = ["aa", "ab", "ba", "abc", "abd", "xyz", "xyw",
                  "shared token", "shared text", "longer mention text here"]
    pool = [f"E{k}" for k in range(12)]
    ent_forms = {
        e: rng.sample(base_forms, rng.randint(1, 4)) for e in pool
    }
    gold_rows = []
    pred_rows = []
    for d in range(250):
        url = f"https://r/{d:04d}"
        ents = rng.sample(pool, rng.randint(1, 4))
        for e in ents:
            mentions = [
                {"text": rng.choice(ent_forms[e]), "passage_index": 0,
                 "passage_offset": 0, "char_offset": 0, "length": 3}
                for _ in range(rng.randint(1, 3))
            ]
            gold_rows.append((url, e, "GeneOrGeneProduct", mentions))
        for i in range(rng.randint(1, 4)):
            base = rng.choice(base_forms)
            m = {
                0: base,
                1: base.upper(),
                2: base + "x",               # near-miss
                3: base + " factor extra",   # long -> partial stage
                4: "zz-" + str(rng.randint(0, 9)),  # garbage
            }[rng.randint(0, 4)]
            pred_rows.append((url, "IO", "m", i, m, rng.choice(base_forms),
                              "Association", 1.0, None, None))
    schema = ("url string, entity_id string, entity_type string, mentions"
              " array<struct<text:string,passage_index:int,passage_offset:int,"
              "char_offset:int,length:int>>")
    ents_df = spark.createDataFrame(gold_rows, schema)
    preds = spark.createDataFrame(
        pred_rows,
        "url string, technique string, model string, pred_index int,"
        " head_mention string, tail_mention string, relation_type string,"
        " confidence double, head_id string, tail_id string",
    )
    cat = full_catalog(ents_df)
    got = {
        (r["url"], r["pred_index"]): (r["head_id"], r["tail_id"])
        for r in resolve_in_document(
            preds,
            membership_df=ents_df.select("url", "entity_id"),
            catalog_df=cat,
        ).collect()
    }

    # expected: sequential cascade per (url, mention) over the same catalog
    members: dict = {}
    for url, e, _, _ in gold_rows:
        members.setdefault(url, set()).add(e)
    resolve = _cascade_ids(cat, members)
    n_diff = 0
    n_resolved = 0
    for url, _, _, i, hm, tm, _, _, _, _ in pred_rows:
        want = (resolve(url, hm), resolve(url, tm))
        n_resolved += want[0] is not None
        if got[(url, i)] != want:
            n_diff += 1
    assert n_diff == 0, n_diff
    assert n_resolved > 100  # the corpus exercises real resolution
