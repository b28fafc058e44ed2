"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical parquet. Outputs are cached under the checkout's
``.bench_cache/`` directory (git-ignored), keyed by kind, seed and size,
so repeated runs at one seed pay generation once.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: MEDS input size: measurements and subjects. 202 codes, skewed.
MEDS_ROWS = 200_000
MEDS_SUBJECTS = 2_000
MEDS_CODES = 202
MEDS_SHARDS_PER_SPLIT = 4

#: Corpus input size: documents and embedding vectors (64-d).
DOCS = 600
VECS = 1_200
VEC_DIM = 64
#: Share of the vectors drawn around the single hot centre.
HOT_SHARE = 0.4

_EPOCH_US = 1_262_304_000_000_000  # 2010-01-01T00:00:00Z
_YEAR_US = 365 * 86_400 * 1_000_000

# Word list and languages/sources in the shape of the repo's documents
# test table (short tokens, a handful of stopwords, 3 languages, 5 sources).
_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window vector table stream join "
    "customer data the of and to in is for on with"
).split()
_LANGS = np.array(["en", "de", "zh"])
_SOURCES = np.array([f"src{i}" for i in range(5)])


def _cache_root(root: str) -> str:
    return os.path.join(root, ".bench_cache")


def _cached(root: str, key: str, build) -> str:
    """Return ``<cache>/<key>``, building it atomically on a miss."""
    path = os.path.join(_cache_root(root), key)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def meds_dataset(root: str, seed: int, rows: int = MEDS_ROWS, subjects: int = MEDS_SUBJECTS) -> str:
    """A MEDS dataset root: ``data/split=<s>/<shard>.parquet`` plus
    ``metadata/subject_splits.parquet``.

    - codes: 202 names, Zipf-like frequencies (a few codes dominate);
    - about 2% of rows are static (null time) and 25% have a null value;
    - subjects have skewed event counts, and a few have fewer than 3
      distinct times so the pipeline's ``filter_subjects`` drops them;
    - splits train/tuning/held_out are 60/20/20 by subject.
    """

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 1])
        # subject sizes: lognormal around rows/subjects, min 1
        w = rng.lognormal(0.0, 0.8, subjects)
        n_per = np.maximum(1, np.round(w / w.sum() * rows)).astype(np.int64)
        n_per[rng.random(subjects) < 0.03] = 2  # too few events: filtered out
        n = int(n_per.sum())
        subject = np.repeat(np.arange(subjects, dtype=np.int64) + 1_000_000, n_per)

        # event times: each subject draws its measurements over ~n/4 events
        n_events = np.maximum(1, n_per // 4)
        ev_idx = (rng.random(n) * np.repeat(n_events, n_per)).astype(np.int64)
        start = rng.integers(0, 10 * _YEAR_US, subjects)
        time_us = np.repeat(start, n_per) + ev_idx * 3_600_000_000
        static = rng.random(n) < 0.02

        ranks = np.arange(1, MEDS_CODES + 1, dtype=np.float64)
        p = ranks**-1.1
        p /= p.sum()
        code_idx = rng.choice(MEDS_CODES, size=n, p=p)
        names = np.array([f"LAB//{i:03d}" for i in range(MEDS_CODES)], dtype=object)
        code_mean = rng.normal(50.0, 20.0, MEDS_CODES)
        code_std = rng.uniform(1.0, 10.0, MEDS_CODES)
        value = code_mean[code_idx] + code_std[code_idx] * rng.standard_normal(n)
        outlier = rng.random(n) < 0.002
        value[outlier] += code_std[code_idx[outlier]] * 12.0
        value_null = rng.random(n) < 0.25

        split_of = rng.choice(
            np.array(["train", "tuning", "held_out"]), size=subjects, p=[0.6, 0.2, 0.2]
        )
        split = np.repeat(split_of, n_per)

        time_arr = pa.array(
            time_us + _EPOCH_US, type=pa.timestamp("us"), mask=static
        )
        tbl = pa.table(
            {
                "subject_id": pa.array(subject),
                "time": time_arr,
                "code": pa.array(names[code_idx], type=pa.string()),
                "numeric_value": pa.array(
                    value.astype(np.float32), mask=value_null
                ),
            }
        )
        for s in ("train", "tuning", "held_out"):
            idx = np.flatnonzero(split == s)
            d = os.path.join(out, "data", f"split={s}")
            os.makedirs(d)
            for k, part in enumerate(np.array_split(idx, MEDS_SHARDS_PER_SPLIT)):
                pq.write_table(tbl.take(pa.array(part)), os.path.join(d, f"{k}.parquet"))
        os.makedirs(os.path.join(out, "metadata"))
        pq.write_table(
            pa.table(
                {
                    "subject_id": pa.array(np.arange(subjects, dtype=np.int64) + 1_000_000),
                    "split": pa.array(split_of.astype(object), type=pa.string()),
                }
            ),
            os.path.join(out, "metadata", "subject_splits.parquet"),
        )

    return _cached(root, f"meds_s{seed}_r{rows}_n{subjects}", build)


def corpus_tables(root: str, seed: int, docs: int = DOCS, vecs: int = VECS) -> str:
    """``documents.parquet`` and ``embeddings.parquet`` in the schema of
    the repo's test tables, so the registered query parameters and their
    DuckDB oracles apply unchanged.

    Documents are word sequences over a small vocabulary (lengths 20-80
    words), with about one in eight a near-copy of an earlier
    document, so dedup, perplexity buckets and winnow containment all
    have work. Embeddings come from a seeded Gaussian mixture of 24
    centres where one centre holds ``HOT_SHARE`` of the vectors and only
    one of the 64 lowest ids (the seed centroids): one hot k-means cell.
    The spread around each centre keeps within-cell cosines mostly below
    the 0.9 dedup threshold, so the survivors are the originals and the
    output size does not swing with the seed.
    """

    def build(out: str) -> None:
        rng = np.random.default_rng([seed, 2])
        words = np.array(_WORDS, dtype=object)
        lens = rng.integers(20, 80, docs)
        # per-source word preferences so DSIR has a domain signal
        src = rng.integers(0, len(_SOURCES), docs)
        bias = rng.dirichlet(np.ones(len(words)) * 0.5, len(_SOURCES))
        texts = []
        for i in range(docs):
            toks = rng.choice(words, size=lens[i], p=bias[src[i]])
            texts.append(" ".join(toks))
        # near-copies: same text (exact dedup) or with one word appended
        dup = np.flatnonzero(rng.random(docs) < 0.125)
        dup = dup[dup > 0]
        for i in dup:
            j = int(rng.integers(0, i))
            texts[i] = texts[j] if rng.random() < 0.5 else texts[j] + " " + str(words[i % len(words)])
        text = pa.array(texts, type=pa.string())
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
                    "text": text,
                    "lang": pa.array(_LANGS[rng.integers(0, 3, docs)].astype(object), type=pa.string()),
                    "source": pa.array(_SOURCES[src].astype(object), type=pa.string()),
                    "n_chars": pc.utf8_length(text).cast(pa.int64()),
                }
            ),
            os.path.join(out, "documents.parquet"),
        )

        centres = rng.standard_normal((24, VEC_DIM))
        share = np.full(24, (1.0 - HOT_SHARE) / 23)
        share[0] = HOT_SHARE
        lab = rng.choice(24, size=vecs, p=share)
        # semantic_dedup seeds its cells with the lowest 64 ids: give the
        # hot centre exactly one of them, so its vectors share one cell
        lab[:64] = rng.integers(1, 24, 64)
        lab[0] = 0
        emb = centres[lab] + 0.6 * rng.standard_normal((vecs, VEC_DIM))
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        emb = emb.astype(np.float32)
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(np.arange(vecs, dtype=np.int64)),
                    "embedding": pa.FixedSizeListArray.from_arrays(
                        pa.array(emb.ravel()), VEC_DIM
                    ).cast(pa.list_(pa.float32())),
                    "label": pa.array(lab.astype(np.int32)),
                }
            ),
            os.path.join(out, "embeddings.parquet"),
        )

    return _cached(root, f"corpus_s{seed}_d{docs}_v{vecs}", build)


def parquet_bytes(path: str) -> int:
    """Total parquet bytes under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total
