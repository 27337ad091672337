"""Seeded benchmark inputs, written as parquet under a staging directory.

Every table is a pure function of ``(seed, size)``: the same seed gives
the same rows. ``documents`` has the columns, vocabulary and duplicate
shares of the engine's sf0.1 test ``documents`` table, so
``__spark_entry__.queries()`` and its DuckDB ``oracle_sql()`` run on it
unchanged; ``sequences`` has the shape of
``htrc_feature_reader_spark.synth.generate_sequences``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
NEAR_DUP_FRAC = 0.05   # docs that copy an earlier doc and append " dup"
EXACT_DUP_FRAC = 0.002  # docs that copy an earlier doc verbatim


def documents(rng: np.random.Generator, n_docs: int) -> dict:
    """``n_docs`` docs of 10..99 words over a 30-word vocabulary, with a
    share of exact duplicates and of near-duplicates (an earlier doc plus a
    trailing `` dup``)."""
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 100, n_docs)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    kind = rng.random(n_docs)
    src = rng.integers(0, np.maximum(np.arange(n_docs), 1))
    for i in range(1, n_docs):
        if kind[i] < EXACT_DUP_FRAC:
            texts[i] = texts[src[i]]
        elif kind[i] < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            texts[i] = texts[src[i]] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def replicate_documents(base: dict, copies: int, rewrite: float,
                        rng: np.random.Generator) -> dict:
    """``copies`` replicas of ``base``: replica ``r`` offsets ids by
    ``r * len(base)`` and replaces each word with probability ``rewrite``
    by a random vocabulary word (replica 0 is the base itself), so replicas
    are near- but not exact duplicates of each other."""
    n = len(base["doc_id"])
    vocab = np.array(VOCAB)
    out = {k: [] for k in base}
    for r in range(copies):
        texts = base["text"]
        if r:
            texts = []
            for t in base["text"]:
                w = np.array(t.split(" "))
                hit = rng.random(len(w)) < rewrite
                w[hit] = vocab[rng.integers(0, len(vocab), int(hit.sum()))]
                texts.append(" ".join(w))
        out["doc_id"].append(base["doc_id"] + r * n)
        out["text"].extend(texts)
        out["lang"].append(base["lang"])
        out["source"].extend(base["source"])
        out["n_chars"].append(np.array([len(t) for t in texts], dtype=np.int64))
    for k in ("doc_id", "lang", "n_chars"):
        out[k] = np.concatenate(out[k])
    return out


def _write_parts(table: pa.Table, path: str, files: int) -> None:
    """``table`` as ``files`` parquet files of consecutive rows under the
    directory ``path``, so a scan of it is split over several tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def write_documents(out_dir: str, cols: dict, files: int = 1) -> None:
    """``documents.parquet`` under ``out_dir``: one file, or a directory of
    ``files`` parts."""
    table = pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    if files == 1:
        pq.write_table(table, path)
    else:
        _write_parts(table, path, files)


def write_sequences(path: str, seed: int, n_rows: int, n_docs: int,
                    files: int, vocab: int = 50_000) -> int:
    """The shape of ``htrc_feature_reader_spark.synth.generate_sequences``
    (same columns, types and distributions: doc index ``n_docs * u**3`` so
    low doc ids are hot keys, whole-second timestamps over ``30 * n_rows``
    seconds so some collide, 1..100 tokens per row and 1 row in 20 up to
    2000), drawn with numpy instead of a Spark job, written as ``files``
    parquet files under ``path``. Returns the token count."""
    rng = np.random.default_rng(seed)
    doc = np.minimum((n_docs * rng.random(n_rows) ** 3).astype(np.int64), n_docs - 1)
    span = max(n_rows * 30, 3600)
    lens = 1 + rng.integers(0, 100, n_rows)
    long = rng.random(n_rows) < 0.05
    lens[long] += rng.integers(0, 1900, int(long.sum()))
    toks = rng.integers(0, vocab, int(lens.sum()), dtype=np.int32)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    sources = np.array(["web", "book", "news", "code"])
    _write_parts(pa.table({
        "doc_id": np.char.add("doc", np.char.zfill(doc.astype(str), 6)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + (rng.integers(0, span, n_rows) * 1_000_000).astype("timedelta64[us]"),
                       pa.timestamp("us", tz="UTC")),
        "tokens": pa.ListArray.from_arrays(offsets, toks),
        "n_tok": pa.array(lens, pa.int32()),
        "source": sources[rng.integers(0, 4, n_rows)],
    }), path, files)
    return int(lens.sum())


def text_bytes(docs: dict) -> int:
    return sum(len(t.encode()) for t in docs["text"])
