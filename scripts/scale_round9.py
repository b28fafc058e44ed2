"""Round-9 scale evidence: the big-document kernel throughput fix and
its regression guard.

VERDICT r08 items 1 and 6. Subcommands (paste results into SCALING.md):

1. ``bigdoc_passes`` — pass-over-pass wall of the winnow/minhash
   kernels on the ~40 MB bigdoc batch (the q_docs_bigdoc_* fixture)
   over the scratch pool. This is the regression guard for the
   round-8 "sporadic rising-cost mapInArrow" anomaly, whose root cause
   round 9 identified as allocator churn: every numpy temporary above
   glibc's dynamic mmap threshold (<= 32 MB) is mmap'd and munmap'd
   per use, so each pass re-faults hundreds of MB of zero pages at
   this host's ~150 MB/s fault-service rate. With the pool, steady
   state touches no new pages; passes must be flat (the script asserts
   median(pass 2..N) <= 2.5 x min pass).

2. ``bigdoc_spark`` — wall of the two gate queries end-to-end through
   Spark at an SF dir (default sf0.1), for the bench-set decision.

Run: python scripts/scale_round9.py {bigdoc_passes|bigdoc_spark} [RUNS]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _bigdoc_record_batch(sf_dir: str):
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    rows = con.sql(rf"""
      SELECT doc_id, regexp_replace(lower(trim(text)),'\s+',' ','g') AS v
      FROM read_parquet('{sf_dir}/documents.parquet')
      WHERE doc_id % 83 = 0 AND doc_id < 600 AND text IS NOT NULL
        AND length(regexp_replace(lower(trim(text)),'\s+',' ','g')) >= 20
      ORDER BY doc_id""").fetchall()
    con.close()
    texts = [((r[1] + " ") * 20000)[:-1] for r in rows]
    ids = pa.array([r[0] for r in rows], pa.int64())
    txt = pa.array(texts, pa.string())
    rb = pa.RecordBatch.from_arrays([ids, txt], names=["doc_id", "__txt"])
    return rb, sum(len(t) for t in texts)


def cmd_bigdoc_passes(runs: int):
    from meds_transforms_spark.operators import grams as G

    rb, total = _bigdoc_record_batch(SF_DIR)
    print(f"bigdoc batch: {rb.num_rows} docs, {total / 2**20:.1f} MB")
    G._SCRATCH.clear()
    walls = {"winnow": [], "minhash": []}
    for p in range(runs):
        t0 = time.time()
        for sl in G._batch_slices(rb, G._MAX_SLICE_BYTES):
            G._winnow_batch(sl.column(0), sl.column(1), 10, 8)
        walls["winnow"].append(time.time() - t0)
        t0 = time.time()
        for sl in G._batch_slices(rb, G._MAX_SLICE_BYTES):
            G._minhash_batch(sl.column(1), 5, 32, 8)
        walls["minhash"].append(time.time() - t0)
    for op, ws in walls.items():
        print(f"{op:<8} passes: {[round(w, 2) for w in ws]}"
              f"  steady {total / 2**20 / statistics.median(ws[1:]):.0f} MB/s")
    if runs >= 3:
        # Guard on UNROUNDED walls with a floored reference
        # (ADVICE r09: a 0.0-rounded fast pass made any nonzero
        # steady fail 2.5×min), referenced to the median of the
        # first 3 passes rather than the single fastest (VERDICT
        # r09 item 3: min-of-all flaps on one lucky pass).
        for op, ws in walls.items():
            steady = statistics.median(ws[1:])
            ref = max(statistics.median(ws[:3]), 0.05)
            assert steady <= 2.5 * ref, (
                f"{op}: rising-cost regression — passes "
                f"{[round(w, 3) for w in ws]} (steady {steady:.3f}s "
                f"> 2.5 x ref {ref:.3f}s)"
            )
        print("pass-over-pass guard: OK (steady <= 2.5x median-of-first-3)")


def cmd_bigdoc_spark(runs: int):
    from meds_transforms_spark import get_spark

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry

    spark = get_spark("scale_r9_bigdoc")
    _, total = _bigdoc_record_batch(SF_DIR)
    for name in ("docs_bigdoc_winnow", "docs_bigdoc_minhash"):
        q = entry.queries()[name]
        walls = []
        for _ in range(runs):
            t0 = time.time()
            q(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
        med = statistics.median(walls[1:]) if runs > 1 else walls[0]
        print(f"{name:<22} sf={SF_DIR.rsplit('sf', 1)[-1]} "
              f"walls: {[round(w, 2) for w in walls]}  "
              f"warm-median {med:.2f}s = {total / 2**20 / med:.0f} MB/s")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "bigdoc_passes"
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    {"bigdoc_passes": cmd_bigdoc_passes, "bigdoc_spark": cmd_bigdoc_spark}[mode](runs)
