"""Spark-free microbench of the ``operators.grams`` batch kernels that
``corpus_curate`` routes through, fed with that workload's documents.

Each kernel runs on the same Arrow slices the ``mapInArrow`` wrappers
hand it (normalized text, ``_MAX_SLICE_BYTES`` per slice); the figure is
normalized-text MB per second, median of ``reps`` passes.
"""

from __future__ import annotations

import os
import re
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

#: Replicate the corpus text up to this many bytes per pass, so one pass
#: is long enough to time.
TARGET_BYTES = 4 << 20


def _normalized(texts: list[str]) -> list[str]:
    # the kernels' input: regexp_replace(lower(trim(text)), '\s+', ' ')
    return [re.sub(r"\s+", " ", t.strip().lower()) for t in texts]


def bench(tables_dir: str, reps: int = 3) -> dict[str, float]:
    from meds_transforms_spark.operators import grams as G

    texts = _normalized(
        pq.read_table(os.path.join(tables_dir, "documents.parquet"), columns=["text"])
        .column("text").to_pylist()
    )
    size = sum(len(t.encode()) for t in texts)
    texts = texts * max(1, -(-TARGET_BYTES // max(size, 1)))
    rb = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), type=pa.int64()), pa.array(texts, type=pa.string())],
        names=["doc_id", "__txt"],
    )
    nbytes = sum(len(t.encode()) for t in texts)
    slices = list(G._batch_slices(rb, G._MAX_SLICE_BYTES))
    kernels = {
        # docs_ccnet_e2e decontamination: winnow k=12, w=8
        "winnow": lambda sl: G._winnow_batch(sl.column(0), sl.column(1), 12, 8),
        # docs_curation_e2e DSIR features: 8192 buckets, with bigrams
        "feature_buckets": lambda sl: G._feature_bucket_counts_batch(sl.column(1), 8192, True),
        # docs_ccnet_e2e perplexity model: per-doc bigram counts
        "bigram": lambda sl: G._bigram_counts_batch(sl.column(1)),
    }
    out = {}
    for name, fn in kernels.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            for sl in slices:
                fn(sl)
            times.append(time.perf_counter() - t0)
        out[f"grams.{name}_mb_s"] = nbytes / 1e6 / statistics.median(times)
    return out
