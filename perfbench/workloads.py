"""The benchmark's workloads.

Each workload writes its seeded inputs once (``prepare``), opens them on
a session (``open``), runs one iteration into a fresh directory
(``iterate``, the timed part) and reads that iteration's outputs back
with pyarrow, so checking them starts no Spark job (``outputs``, which
also gives the iteration's units of work for the throughput).

Package functions are looked up on their modules at call time, so the
traced run's wrappers (see trace.py) see every call.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from . import inputs

PKG = "relation_extraction_using_llms_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pkg(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def table_digest(path: str, drop: tuple[str, ...] = ()) -> tuple[str, int]:
    """Order-insensitive content hash of a parquet table (hive partition
    columns included, doubles rounded to 6 places) and its row count."""
    df = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
    df = df.drop(columns=[c for c in drop if c in df.columns])
    for col in df.columns:
        if df[col].dtype.kind == "f":
            df[col] = df[col].round(6)
    rows = sorted(json.dumps([str(v) for v in row]) for row in df.itertuples(index=False))
    digest = hashlib.sha256(json.dumps([sorted(df.columns), rows]).encode()).hexdigest()
    return digest[:16], len(rows)


def row_count(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


class KgBuild:
    """The write path of every KG layer through the checkpointed pipeline.

    One iteration is a cold ``plans.checkpointed.run_checkpointed`` into a
    fresh workdir (clean text, gold tables, cached model responses,
    triples, catalog, resolved triples, evaluation counts, per-document
    metrics and aggregate, each stage written through the per-partition
    ledger), then ``canonical_mapping`` -> ``materialize_triples`` ->
    ``plans.reports.write_graph_tables`` over the checkpointed catalog and
    resolved triples.  Evaluation is narrow (exact matching, typed), so
    matching is light here."""

    name = "kg_build"
    python_udfs = True
    n_docs = 120
    # the default 32 url-hash buckets would leave ~4 of the 120 documents
    # in each stage's partition directories; fixed (not nproc), so the
    # outputs do not depend on the core count
    n_buckets = 4

    def prepare(self, data_dir: str, seed: int) -> None:
        inputs.write_raw(data_dir, seed, self.n_docs, shards=1, n_vecs=0)
        synthetic = _pkg("sources.synthetic")
        docs = pq.read_table(f"{data_dir}/documents.parquet").to_pylist()
        pages = [synthetic.gen_doc(d["doc_id"], d["text"], d["lang"]) for d in docs]
        pq.write_table(
            pa.table(
                {
                    "url": pa.array([p["url"] for p in pages], pa.string()),
                    "warc_ts": pa.array([p["warc_ts"].replace(tzinfo=None) for p in pages], pa.timestamp("us")),
                    "html": pa.array([p["html"] for p in pages], pa.binary()),
                    "text": pa.array([None] * len(pages), pa.string()),
                    "lang": pa.array([p["lang"] for p in pages], pa.string()),
                }
            ),
            f"{data_dir}/pages.parquet",
        )

    def open(self, spark, data_dir: str) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(f"{data_dir}/pages.parquet")
        self.model = _pkg("sources.stub_model").make_stub_model(data_dir)
        self.config = _pkg("plans.pipeline").PipelineConfig(
            techniques=["IO", "ReAct"],
            models=["stub-large"],
            strategies=["exact"],
            with_types_variants=(True,),
        )

    def iterate(self, wd: str) -> None:
        checkpointed = _pkg("plans.checkpointed")
        canon, reports = _pkg("operators.canonicalize"), _pkg("plans.reports")
        stages = checkpointed.run_checkpointed(
            self.spark, self.pages, wd, self.config, model_fn=self.model, n_buckets=self.n_buckets
        )
        # the linking catalog is checkpointed as the "candidates" stage
        mapping = canon.canonical_mapping(self.spark.read.parquet(f"{wd}/candidates"))
        reports.write_graph_tables(canon.materialize_triples(stages["resolved"], mapping), f"{wd}/graph")

    def outputs(self, wd: str) -> tuple[dict, int]:
        """(fingerprint, graph edges written)."""
        edges, n_edges = table_digest(f"{wd}/graph/edges")
        agg, n_agg = table_digest(f"{wd}/eval_aggregate")
        return {"edges": edges, "n_edges": n_edges, "eval_aggregate": agg, "n_agg": n_agg}, n_edges

    def invariants(self, fp: dict) -> list[str]:
        problems = []
        if fp["n_edges"] <= 0:
            problems.append("no graph edges written")
        if fp["n_agg"] != len(self.config.techniques) * len(self.config.models):
            problems.append(f"eval aggregate has {fp['n_agg']} rows")
        return problems

    def layer_ratios(self, wd: str, prompt_rows_written: float) -> dict:
        resolved = ds.dataset(f"{wd}/resolved", format="parquet").to_table(
            columns=["head_id", "tail_id"]
        )
        n = resolved.num_rows
        unresolved = sum(
            1 for h, t in zip(resolved["head_id"].to_pylist(), resolved["tail_id"].to_pylist())
            if h is None or t is None
        )
        responses = row_count(f"{wd}/llm_cache")
        return {
            "prompt_model.cache_hit_frac": 1.0 - prompt_rows_written / responses if responses else 0.0,
            "resolve.unresolved_frac": unresolved / n if n else 0.0,
        }


class CorpusOps:
    """JVM-only corpus preparation plus ANN retrieval: the full
    ``scripts/corpus_prep.run_chain`` (quality, PII, exact dedup, MinHash
    near-dedup with connected components, decontamination, packing, a
    partitioned write and a profile), then ``lsh_topk`` top-10 for a
    fixed query set.  No Python UDF runs here."""

    name = "corpus_ops"
    python_udfs = False
    n_docs = 2000
    shards = 2
    n_vecs = 1000
    n_queries = 32

    def prepare(self, data_dir: str, seed: int) -> None:
        inputs.write_raw(data_dir, seed, self.n_docs, shards=self.shards, n_vecs=self.n_vecs)

    def open(self, spark, data_dir: str) -> None:
        from pyspark.sql import functions as F

        spec = importlib.util.spec_from_file_location(
            "corpus_prep", os.path.join(ROOT, "scripts", "corpus_prep.py")
        )
        self.corpus_prep = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.corpus_prep)
        self.spark = spark
        self.docs = spark.read.parquet(f"{data_dir}/documents.parquet")
        self.emb = spark.read.parquet(f"{data_dir}/embeddings.parquet")
        self.queries = self.emb.where(F.col("vec_id") < self.n_queries).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        self.result = None

    def iterate(self, wd: str) -> None:
        counts = self.corpus_prep.run_chain(self.spark, self.docs, f"{wd}/corpus_prep")
        top = _pkg("operators.similarity").lsh_topk(self.emb, self.queries, k=10)
        neighbours: dict[int, list[tuple[int, int]]] = {}
        for r in top.collect():
            neighbours.setdefault(int(r["query_id"]), []).append((int(r["rank"]), int(r["vec_id"])))
        self.result = counts, {q: [v for _, v in sorted(ns)] for q, ns in sorted(neighbours.items())}

    def outputs(self, wd: str) -> tuple[dict, int]:
        """(fingerprint, input documents)."""
        counts, neighbours = self.result
        packed, n_packed = table_digest(f"{wd}/corpus_prep/packed")
        fp = {
            "counts": hashlib.sha256(json.dumps(counts, sort_keys=True).encode()).hexdigest()[:16],
            "packed": packed,
            "lsh_ids": hashlib.sha256(json.dumps(neighbours).encode()).hexdigest()[:16],
            "final_docs": counts["final_docs"],
            "n_packed": n_packed,
        }
        return fp, self.n_docs

    def invariants(self, fp: dict) -> list[str]:
        counts, neighbours = self.result
        problems = []
        chain = [counts[k] for k in ("input", "after_quality", "after_exact_dedup",
                                      "after_near_dedup", "after_decontamination", "final_docs")]
        if counts["input"] != self.n_docs or any(a < b for a, b in zip(chain, chain[1:])):
            problems.append(f"stage counts not a shrinking chain: {chain}")
        if fp["n_packed"] != counts["final_docs"] or counts["n_bins"] <= 0:
            problems.append("packed shards disagree with the final count")
        if sorted(neighbours) != list(range(self.n_queries)):
            problems.append("lsh_topk lost queries")
        elif any(ids[0] != q or len(ids) > 10 for q, ids in neighbours.items()):
            problems.append("lsh_topk: a query's nearest neighbour is not itself")
        return problems

    def layer_ratios(self, wd: str, prompt_rows_written: float) -> dict:
        return {}


WORKLOADS = {"kg_build": KgBuild, "corpus_ops": CorpusOps}
