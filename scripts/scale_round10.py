"""Round-10 scale evidence: consolidated heavy-family re-baseline on
the round-9 kernels, the shuffle-rooted kernel-parallelism A/B, the
connected-components ceiling push, and the sustained streaming-ingest
probe.

VERDICT r09 items 2, 4, 5, 7. Subcommands (paste into SCALING.md):

1. ``family1 REP RUNS VARIANT`` — ONE heavy-family member in a fresh
   app (isolating it from executor-death cascades and scratch-pool
   state of earlier variants), honest 16 GB executors under
   ``local-cluster[2,16,16384]``. Variants: winnow, minhash,
   decontaminate, substring, ccnet. Drive at REP=10 (sf1-eq, 50k
   docs) and REP=1000 (5M docs) — this supersedes the round-6 family
   rows (measured pre-scratch-pool on 1 GB heaps).

2. ``kparallel REP RUNS`` — the case the round-9 job-free probe
   deliberately skips, measured: a kernel whose input is a SHUFFLE
   (exact_dedup survivors → winnow_fingerprints). Auto mode declines
   the rescue there (the probe cannot count an AQE-coalescible
   exchange without running jobs); A/B the pipeline as is vs with a
   caller-side ``repartition(32)`` before the kernel.

3. ``components N_NODES CHAIN_LEN`` — cross-executor connected
   components with loop telemetry (iterations, loop partitions,
   union-find escape). Target ≥5M nodes / ≥20M edges: pair each node
   with +1 (chains) AND +2 (skip links) so edges ≈ 2×nodes... use
   EDGE_FACTOR=4 for ≥20M edges at 5M nodes.

4. ``stream100 REP RUNS`` — durable-index refresh on the round-9/10
   kernel: 1M-doc build+save wall, then RUNS consecutive 10k-doc
   ingest batches (distinct doc slices, foreachBatch shape) with
   per-batch walls — the flat-wall check for the many-small-kernel-
   invocation cost profile the scratch pool changed.

Run: python scripts/scale_round10.py {family1|kparallel|components|stream100} ...
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from meds_transforms_spark import get_spark  # noqa: E402
from scripts.scale_round8 import build_docs_dir, timed  # noqa: E402


def _cluster_spark(name: str):
    return get_spark(
        name,
        master=os.environ.get("XB_MASTER", "local-cluster[2,16,16384]"),
        shuffle_partitions=int(os.environ.get("XB_SHUFFLE_PARTITIONS", "0")) or None,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": REPO,
            "spark.driver.memory": "8g",
            # local-cluster[n,cores,MEM]'s third arg is worker CAPACITY;
            # the executor heap is spark.executor.memory (default 1g!).
            "spark.executor.memory": os.environ.get("XB_EXECUTOR_MEM", "16g"),
        },
    )


def cmd_family1(rep: int, runs: int):
    """One heavy-family variant, fresh 16 GB cross-executor app."""
    variant = sys.argv[4]
    import __spark_entry__ as entry

    from meds_transforms_spark.operators.dedup import minhash_lsh_dedup
    from meds_transforms_spark.operators.winnow import winnow_overlap

    pre = get_spark("r10_prep")
    sf = build_docs_dir(pre, rep, skew=False)
    pre.stop()

    spark = _cluster_spark(f"scale_r10_{variant}_rep{rep}")
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    n = docs.count()
    print(f"=== family1 {variant}: {n} docs (REP={rep}) ===", flush=True)

    def sink(df):
        df.write.format("noop").mode("overwrite").save()

    # winnow/minhash use the same operator params as the round-9
    # isolation table (xb1) so the rows are directly comparable; the
    # other three run their registered query against the scaled dir.
    thunks = {
        "winnow": lambda: sink(
            winnow_overlap(docs, k=10, w=8, hash_fn="poly64",
                           min_shared=4, max_df=50)
        ),
        "minhash": lambda: sink(minhash_lsh_dedup(docs, hash_fn="poly64")),
        "decontaminate": lambda: sink(
            entry.queries()["docs_decontaminate"](spark, sf)
        ),
        "substring": lambda: sink(
            entry.queries()["docs_substring_dedup"](spark, sf)
        ),
        "ccnet": lambda: sink(entry.queries()["docs_ccnet_buckets"](spark, sf)),
    }
    thunk = thunks[variant]
    try:
        thunk()  # warm: full python worker pools + codegen + scratch pools
        timed(spark, f"{variant}[rep={rep}]", thunk, runs=runs)
    except Exception as e:
        print(
            f"{variant}[rep={rep}] FAILED: {type(e).__name__}: {str(e)[:200]}",
            flush=True,
        )
    spark.stop()


def cmd_kparallel(rep: int, runs: int):
    """A/B: kernel consuming a SHUFFLE-rooted input (exact_dedup
    survivors -> winnow_fingerprints), as is vs repartition(32) first.
    The auto probe declines the rescue on this shape by design
    (grams.py: _with_kernel_parallelism — counting an AQE-coalescible
    exchange is not job-free); this measures what the caller-side
    repartition buys."""
    from meds_transforms_spark.operators.dedup import exact_dedup
    from meds_transforms_spark.operators.winnow import winnow_fingerprints

    spark = get_spark(
        "scale_r10_kparallel",
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.showConsoleProgress": "false"},
    )
    sf = build_docs_dir(spark, rep, skew=False)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    print(f"=== kparallel: {docs.count()} docs (REP={rep}) ===", flush=True)

    def pipeline(n_parts):
        survivors = exact_dedup(docs)  # window over content hash: shuffle-rooted
        if n_parts:
            survivors = survivors.repartition(n_parts)
        fps = winnow_fingerprints(survivors, k=10, w=8, hash_fn="poly64")
        (fps.groupBy().agg(F.count(F.lit(1)).alias("n"),
                           F.expr("bit_xor(fp)").alias("x"))
         .write.format("noop").mode("overwrite").save())

    for n_parts in (None, 32):
        label = f"kparallel[repartition({n_parts})]" if n_parts else "kparallel[as is]"
        try:
            pipeline(n_parts)  # warm
            timed(spark, label, lambda: pipeline(n_parts), runs=runs)
        except Exception as e:
            print(f"{label} FAILED: {type(e).__name__}: {str(e)[:200]}",
                  flush=True)
    spark.stop()


def cmd_components(n_nodes: int, chain_len: int):
    """Cross-executor components at the measured ceiling: chains of
    chain_len (analytic truth = block minimum) PLUS +2..+5 skip links
    inside each block, so edges ≈ 5× nodes (≥20M at 5M nodes) and the
    pointer-jumping still faces diameter ≈ chain_len/5."""
    from meds_transforms_spark.operators.components import connected_components

    spark = _cluster_spark("scale_r10_components")
    base = spark.range(n_nodes)
    in_block = F.col("id") % chain_len
    parts = [
        base.filter((in_block + step) < chain_len).select(
            F.col("id").alias("src"), (F.col("id") + step).alias("dst"))
        for step in (1, 2, 3, 4, 5)
    ]
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)

    stats: dict = {}
    t0 = time.time()
    comp = connected_components(edges, max_iter=60, stats=stats)
    bad = comp.filter(
        F.col("component") != (F.col("id") - F.col("id") % chain_len)
    ).count()
    n = comp.count()
    wall = time.time() - t0
    assert bad == 0, f"{bad} nodes mislabeled"
    assert n == n_nodes, f"{n} != {n_nodes}"
    print(
        f"components OK: {n_nodes:,} nodes, {stats.get('n_edges'):,} edges, "
        f"diameter≈{chain_len // 5}: wall {wall:.1f}s, "
        f"iterations {stats.get('iterations')} (converged="
        f"{stats.get('converged', False)}), loop_partitions "
        f"{stats.get('loop_partitions')}, union-find escape fired: "
        f"{stats.get('escaped_to_union_find')}",
        flush=True,
    )
    spark.stop()


def cmd_stream100(rep: int, runs: int):
    """Durable-index build at 1M docs + RUNS consecutive 10k-doc ingest
    batches with per-batch walls (round-9-kernel refresh of the round-8
    index1m numbers, plus the sustained-throughput row)."""
    import shutil

    from meds_transforms_spark.operators.dedup_index import (
        build_minhash_index,
        ingest_batch,
        load_minhash_index,
        save_minhash_index,
    )

    spark = get_spark(
        "scale_r10_stream100",
        extra_conf={"spark.ui.enabled": "true",
                    "spark.ui.showConsoleProgress": "false"},
    )
    sf = build_docs_dir(spark, rep, skew=False)
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    n = docs.count()
    print(f"=== stream100: {n}-doc corpus, {runs} x 10k batches ===", flush=True)
    path = "/tmp/sfr10_minhash_index"
    shutil.rmtree(path, ignore_errors=True)

    t0 = time.time()
    idx = build_minhash_index(docs)
    save_minhash_index(idx, path)
    print(f"build+save 1M-doc index: {time.time() - t0:.1f}s", flush=True)

    index, params = load_minhash_index(spark, path)
    index = index.localCheckpoint()  # standing index, materialized once
    walls = []
    for b in range(runs):
        # each batch: a DIFFERENT 10k-doc slice, re-keyed above the corpus
        batch = (
            docs.filter(F.col("doc_id") % runs == b)
            .limit(10_000)
            .select((F.col("doc_id") + F.lit(10_000_000_000) + b).alias("doc_id"),
                    "text")
        )
        t0 = time.time()
        clean, delta = ingest_batch(batch, index, index_params=params)
        # the foreachBatch sink materializes both outputs; do the same
        delta_m = delta.localCheckpoint()
        clean.write.format("noop").mode("overwrite").save()
        index = index.unionByName(delta_m)
        walls.append(time.time() - t0)
        if b < 3 or b % 10 == 0 or b == runs - 1:
            print(f"batch {b:3d}: {walls[-1]:.2f}s", flush=True)
    med = statistics.median(walls)
    print(
        f"stream100: batches {runs}, median {med:.2f}s, first3 "
        f"{[round(w, 2) for w in walls[:3]]}, last3 "
        f"{[round(w, 2) for w in walls[-3:]]}, max {max(walls):.2f}s, "
        f"docs/s ≈ {10_000 / med:,.0f}",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "family1":
        cmd_family1(int(sys.argv[2]), int(sys.argv[3]))
    elif mode == "kparallel":
        cmd_kparallel(int(sys.argv[2]) if len(sys.argv) > 2 else 100,
                      int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif mode == "components":
        cmd_components(int(sys.argv[2]) if len(sys.argv) > 2 else 5_000_000,
                       int(sys.argv[3]) if len(sys.argv) > 3 else 1_000)
    elif mode == "stream100":
        cmd_stream100(int(sys.argv[2]) if len(sys.argv) > 2 else 200,
                      int(sys.argv[3]) if len(sys.argv) > 3 else 100)
    else:
        raise SystemExit(f"unknown mode {mode}")
