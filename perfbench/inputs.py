"""Seeded benchmark inputs.

Everything here is a pure function of ``seed``: the same seed writes the
same bytes.  The program under test only ever sees the written tables.

* ``documents.parquet`` follows the schema of the repository's documents
  table (doc_id, text, lang, source, n_chars).  Words are drawn from a
  Zipfian vocabulary, so the entity ids the synthetic corpus derives from
  words (``W:<word>``) keep a few very hot head entities and a long tail.
  A share of documents are exact or near copies of earlier ones and a few
  carry e-mail addresses and phone numbers, so dedup and PII redaction
  have real work.
* ``embeddings.parquet`` holds unit vectors around a fixed number of
  cluster centres (vec_id, embedding, label).
* The KG tables (pages) are produced by the package's own synthetic
  generator from ``documents.parquet``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64
EMB_CLUSTERS = 10


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    consonants = list("bcdfghklmnprstvz")
    vowels = list("aeiou")
    words: set[str] = set()
    while len(words) < size:
        n_syl = int(rng.integers(1, 4))
        words.add(
            "".join(
                consonants[int(rng.integers(len(consonants)))]
                + vowels[int(rng.integers(len(vowels)))]
                for _ in range(n_syl)
            )
        )
    return sorted(words)


def documents_table(
    seed: int,
    n_docs: int,
    shards: int = 1,
    vocab_size: int = 400,
    zipf_s: float = 1.1,
) -> pa.Table:
    """``n_docs`` documents in ``shards`` vocabulary-salted shards: every
    word of shard ``k > 0`` carries the suffix ``s<k>``, so shards share no
    entity, shingle or surface form while each keeps the Zipfian skew."""
    # one vocabulary for every seed: the seed only draws documents, so the
    # alias graph the canonicalizer closes (entities sharing a surface
    # form) has the same shape, and the same work, on every seed
    vocab = np.array(_vocabulary(np.random.default_rng(0), vocab_size))
    rng = np.random.default_rng([seed, 1])
    weights = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    weights /= weights.sum()
    per_shard = n_docs // shards
    doc_ids, texts, langs, sources = [], [], [], []
    for shard in range(shards):
        suffix = f"s{shard}" if shard else ""
        shard_texts: list[str] = []
        for i in range(per_shard):
            roll = rng.random()
            if shard_texts and roll < 0.03:
                # exact copy of an earlier document of this shard
                text = shard_texts[int(rng.integers(len(shard_texts)))]
            elif shard_texts and roll < 0.10:
                # near copy: ~5% of the words replaced
                words = shard_texts[int(rng.integers(len(shard_texts)))].split()
                for j in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                    words[j] = vocab[int(rng.integers(vocab_size))] + suffix
                text = " ".join(words)
            else:
                n = int(rng.integers(10, 101))
                words = [w + suffix for w in rng.choice(vocab, size=n, p=weights)]
                if roll > 0.97:
                    words.insert(int(rng.integers(n)), f"{words[0]}@mail{shard}.example.org")
                elif roll > 0.94:
                    words.insert(int(rng.integers(n)), f"+44 20 7946 {int(rng.integers(1000, 9999))}")
                text = " ".join(words)
            shard_texts.append(text)
            doc_ids.append(shard * per_shard + i)
            texts.append(text)
            langs.append(LANGS[int(rng.integers(len(LANGS)))])
            sources.append(f"src{(shard * per_shard + i) % 5}")
    return pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array(sources, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n_vecs: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    centres = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    labels = rng.integers(EMB_CLUSTERS, size=n_vecs)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_raw(out_dir: str, seed: int, n_docs: int, shards: int, n_vecs: int) -> None:
    """Write documents.parquet (in 8 files, so scans are parallel) and,
    when ``n_vecs`` is positive, embeddings.parquet under ``out_dir``."""
    docs = documents_table(seed, n_docs, shards)
    os.makedirs(f"{out_dir}/documents.parquet", exist_ok=True)
    step = -(-docs.num_rows // 8)
    for k in range(8):
        pq.write_table(
            docs.slice(k * step, step), f"{out_dir}/documents.parquet/part-{k:02d}.parquet"
        )
    if n_vecs:
        pq.write_table(embeddings_table(seed, n_vecs), f"{out_dir}/embeddings.parquet")


def ensure(root: str, name: str, build) -> str:
    """Build ``root/name`` once with ``build(tmp_dir)``; a directory is
    only published (renamed into place) when its build finished, so an
    interrupted run never leaves a half-written input behind."""
    final = os.path.join(root, name)
    if os.path.exists(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final
