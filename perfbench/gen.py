"""Seeded input generator for the benchmark workloads.

Every table is synthesized from ``numpy.random.default_rng(seed)``: the
same seed and scale give byte-identical parquet files, and nothing is
read from outside the checkout. Schemas match the engine's table loaders
(``mapreduce_lab_spark.sources.tables``).

- ``corpus``: a ``documents`` table shaped like the reference's
  MapReduce corpus. It has a Zipfian vocabulary of tens of thousands
  of words, case variants, non-ASCII letters, digits and punctuation,
  exact copies and edited near-duplicates.
- ``vectors``: unit-norm float32 ``embeddings``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Letters the tokenizer must keep inside one word: accented Latin,
# Greek and Cyrillic, all precomposed (category L*, never Mn).
_ASCII = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_EXTRA = np.array(list("éèüöäßñçøåαβγδλμπσωжзиклмнпрст"))
# Separators the tokenizer must split on: punctuation, digits, quotes.
_PUNCT = np.array([",", ".", ";", ":", "!", "?", " -", "'s", " 1984", " (a)", "\""])


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct letter-only words, most ASCII lower-case, some
    with a non-ASCII letter, some capitalized (keys are case-sensitive)."""
    seen: set[str] = set()
    words: list[str] = []
    while len(words) < n:
        chars = _ASCII[rng.integers(0, 26, rng.integers(2, 11))]
        if rng.random() < 0.08:
            chars[rng.integers(0, len(chars))] = _EXTRA[rng.integers(0, len(_EXTRA))]
        w = "".join(chars)
        if rng.random() < 0.05:
            w = w.capitalize()
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def corpus(out_dir: str, seed: int, n_docs: int, vocab: int, mean_tokens: int) -> None:
    """documents: Zipfian text with exact copies and near-duplicates."""
    rng = np.random.default_rng([seed, 2])
    words = _vocabulary(rng, vocab)
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -1.05
    p /= p.sum()
    lens = np.maximum(8, rng.poisson(mean_tokens, n_docs))
    tok = rng.choice(vocab, size=int(lens.sum()), p=p)
    ends = np.cumsum(lens)
    texts: list[str] = []
    for i, end in enumerate(ends):
        ids = tok[end - lens[i]:end]
        parts = words[ids].tolist()
        # Sentence punctuation, digits and possessives between words.
        for j in np.nonzero(rng.random(len(parts)) < 0.12)[0]:
            parts[j] = parts[j] + _PUNCT[rng.integers(0, len(_PUNCT))]
        texts.append(" ".join(parts))
    # 3% exact copies and 8% near-duplicates (a few words replaced) of
    # earlier documents.
    for i in range(1, n_docs):
        r = rng.random()
        if r < 0.03:
            texts[i] = texts[rng.integers(0, i)]
        elif r < 0.11:
            src = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(src), max(1, len(src) // 25)):
                src[j] = words[rng.choice(vocab, p=p)]
            texts[i] = " ".join(src)
    _write(out_dir, "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.choice(5, n_docs, p=[.4, .15, .15, .15, .15])],
        "source": np.char.add("src", rng.integers(0, 8, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))


def vectors(out_dir: str, seed: int, n_vec: int, dim: int) -> None:
    """embeddings: random unit vectors, as the engine's embedding table."""
    rng = np.random.default_rng([seed, 3])
    e = rng.standard_normal((n_vec, dim))
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }))
