"""Repository benchmark: seeded MEDS ETL and corpus curation on local[N].

Run from the repository root:

    python3 perfbench/run.py --workload meds_etl --seed 1 --seconds 8 --trace 0

Workloads (README.md has their sizes and why each was chosen):

- ``meds_etl``: ``MEDSDataset`` -> ``pipelines/normalize.yaml`` through
  ``Pipeline.run`` (no checkpoint dir) -> write ``canonical_sort(data)``
  and the codes table, i.e. the CLI ``run`` path in-process;
- ``corpus_curate``: ``curate_corpus_dsir`` and ``semantic_dedup`` with
  the registered queries' parameters, each output written to parquet
  (``curate_corpus_ccnet`` joins them in traced runs only).

One process sets up Spark in a fresh JVM (N = usable cores, shuffle
partitions = N; ``setup_s``), makes one cold run, then a fixed number of
warm runs that ``--seconds`` sets (``warm_runs``). Every run's output is
checked (see ``gate.py``); a wrong output makes the result
``correct: false`` and the exit code 1.

``--trace 1`` makes as many untraced and traced warm runs (at least two
of each), alternating.
A traced run opens a span, with its own Spark job group, around every
public call; traced ``meds_etl`` also runs the checkpointed arm
(``checkpoint_dir`` set) once. The spans are written to ``.bench_out/``
and the per-layer metrics are printed instead of the end-to-end ones.
The last stdout line is always the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

WORKLOADS = ("meds_etl", "corpus_curate")
MEDS_STAGES = (
    "filter_subjects", "fit_normalization_stats", "occlude_outliers",
    "fit_vocabulary_indices", "normalization",
)
SPARK_KEYS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "shuffle_write_mb",
    "spill_mb", "max_task_s", "task_skew",
)

#: Nominal seconds of one warm run on the reference host (both
#: workloads take 6-12 s there, depending on the host's load).
WARM_RUN_S = 8


def warm_runs(seconds: float) -> int:
    """Warm runs per benchmark run: what ``seconds`` affords at the
    nominal run time, at least 1, and independent of the code measured.
    Spark's driver keeps getting faster for about eight runs as the JIT
    compiles its planning code; a count fixed in advance keeps every
    measurement at the same point of that curve."""
    return max(1, round(seconds / WARM_RUN_S))

END_TO_END = {
    "run_s": "s", "input_mb_per_s": "MB/s", "cold_run_s": "s", "setup_s": "s",
    "cpu_s": "s", "peak_rss_mb": "MB", "write_amp": "ratio",
}

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    from perfbench.workloads import CORPUS_CALLS, TRACED_CALLS

    u = {
        "session.get_spark_s": "s", "session.first_action_s": "s",
        "sources.open_s": "s", "sources.write_s": "s",
        "sources.write_jobs": "count", "sources.output_mb": "MB",
        "pipeline.run_s": "s", "pipeline.run_jobs": "count",
        "pipeline.ckpt_mb": "MB", "pipeline.ckpt_rows": "count",
    }
    for st in MEDS_STAGES:
        u.update({f"op.{st}.s": "s", f"op.{st}.shuffle_mb": "MB", f"op.{st}.rows_out": "count"})
    for call in (*TRACED_CALLS, *CORPUS_CALLS):
        u.update({
            f"corpus.{call}.call_s": "s", f"corpus.{call}.call_jobs": "count",
            f"corpus.{call}.s": "s", f"corpus.{call}.offjvm_s": "s",
        })
    for k in ("winnow", "feature_buckets", "bigram"):
        u[f"grams.{k}_mb_s"] = "MB/s"
    for k in SPARK_KEYS:
        u[f"spark.{k}"] = {"jobs": "count", "stages": "count", "tasks": "count",
                           "task_skew": "ratio"}.get(k, "MB" if k.endswith("_mb") else "s")
    u["workers.cpu_s"] = "s"
    u["trace.overhead_s"] = "s"
    u["gate.codes_inexact_cells"] = "count"
    return u


def _descendants(pid: int) -> set[int]:
    """``pid`` and every process below it, from /proc."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {pid}, [pid]
    while frontier:
        kids = [c for c, pp in parent.items() if pp in frontier and c not in tree]
        tree.update(kids)
        frontier = kids
    return tree


def _rss_peak_mb(jvm_pid: int) -> float:
    """Sum of VmHWM (peak RSS) over the JVM and its descendants (the
    PySpark daemon and its workers), read from /proc."""
    kb = 0
    for pid in _descendants(jvm_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def _workers_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM's descendants (the PySpark
    daemon and its Python workers), exited workers included through
    their parent's reaped-children times. The difference over a run is
    the Python workers' CPU, which executorCpuTime does not count."""
    ticks = 0
    for pid in _descendants(jvm_pid) - {jvm_pid}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return ticks / _CLK_TCK


class Bench:
    def __init__(self, root: str, args):
        self.root = root
        self.args = args
        self.workload = args.workload
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.is_meds = self.workload == "meds_etl"
        self.work = os.path.join(root, ".bench_work", f"{self.workload}_{os.getpid()}")
        self.n = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, float] = {}

    # --- session --------------------------------------------------------
    def conf(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }

    def setup(self):
        from meds_transforms_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            "perfbench", master=f"local[{self.n}]", shuffle_partitions=self.n,
            extra_conf=self.conf(),
        )
        t1 = time.perf_counter()
        spark.range(0, 1_000_000, numPartitions=self.n).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        return spark, t1 - t0, t2 - t1

    # --- one run ----------------------------------------------------------
    def run_once(self, spark, traced: bool, arm: str | None = None, calls=None):
        """One timed run plus its output check; returns (wall, tracer, info)."""
        from perfbench import workloads as W
        from perfbench.gen import parquet_bytes
        from perfbench.trace import Tracer

        arm = arm or self.workload
        calls = calls or W.CORPUS_CALLS
        tr = Tracer(spark, traced)
        out = os.path.join(self.work, f"out_{arm}")
        ckpt = os.path.join(self.work, "ckpt") if arm == "meds_etl_ckpt" else None
        cpu0 = _workers_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        if self.is_meds:
            ckpt_metrics = W.meds_run(spark, tr, self.inp, out, ckpt)
        else:
            W.corpus_run(spark, tr, self.inp, out, calls)
            ckpt_metrics = []
        wall = time.perf_counter() - t0
        workers_cpu = _workers_cpu_s(self.jvm_pid) - cpu0
        tr.finish()
        out_bytes = parquet_bytes(out)
        written = out_bytes + (parquet_bytes(ckpt) if ckpt else 0)
        info = {
            "out_bytes": out_bytes, "written": written, "ckpt": ckpt_metrics,
            "workers_cpu_s": workers_cpu,
            "cpu_s": tr.roots()[0]["exec_cpu_s"] + workers_cpu,
        }
        self.attempted += 1
        print(f"{arm} run {self.attempted}: {wall:.3f} s{' (traced)' if traced else ''}",
              file=sys.stderr, flush=True)
        problems = self.check(out, arm, info, calls)
        if problems:
            self.failed += 1
            self.problems += [f"{arm} run {self.attempted}: {p}" for p in problems]
        return wall, tr, info

    def check(self, out: str, arm: str, info: dict, calls: dict) -> list[str]:
        import pyarrow.parquet as pq

        from perfbench import gate

        if not self.is_meds:
            problems = []
            self.oracle(calls)
            for call, q in calls.items():
                got = gate.canonical_digest(gate.read_dir(os.path.join(out, call)))
                want = self.expected.get(f"oracle:{q}")
                if got != want:
                    problems.append(f"{call} output {got} != oracle {want}")
            return problems
        data = gate.read_dir(os.path.join(out, "data"))
        codes = pq.read_table(os.path.join(out, "metadata", "codes.parquet")).to_pandas()
        problems = gate.check_meds_rows(data, self.meds_ref)
        p, inexact = gate.check_meds_codes(codes, self.meds_ref)
        problems += p
        info["inexact"] = inexact
        digest = gate.row_digest(data)
        key = f"data_digest:{arm}"
        prev = self.expected.get(key)
        if prev is None:
            self.expected.put(key, digest)
        elif prev != digest:
            problems.append(f"data digest {digest} != earlier run's {prev}")
        other = self.expected.get(
            "data_digest:" + ("meds_etl" if arm == "meds_etl_ckpt" else "meds_etl_ckpt")
        )
        if other is not None and other != digest:
            problems.append(f"data digest {digest} != other arm's {other}")
        return problems

    # --- inputs and references ------------------------------------------
    def prepare(self) -> None:
        from perfbench import gate, gen
        from perfbench.workloads import CORPUS_CALLS

        if self.is_meds:
            self.inp = gen.meds_dataset(self.root, self.seed)
        else:
            self.inp = gen.corpus_tables(self.root, self.seed)
        self.in_bytes = gen.parquet_bytes(self.inp)
        self.expected = gate.DigestCache(os.path.join(self.inp, "expected.json"))
        if self.is_meds:
            ref = self.expected.get("meds_reference")
            if ref is None:
                ref = gate.meds_reference(self.inp)
                self.expected.put("meds_reference", ref)
            self.meds_ref = ref
        else:
            self.oracle(CORPUS_CALLS)

    def oracle(self, calls: dict) -> None:
        """Digests of the DuckDB oracle output, computed once per seed."""
        from perfbench import gate

        names = [q for q in calls.values() if self.expected.get(f"oracle:{q}") is None]
        if names:
            for q, d in gate.corpus_oracle_digests(self.inp, names).items():
                self.expected.put(f"oracle:{q}", d)

    # --- the whole measurement ------------------------------------------
    def main(self) -> dict:
        t0 = time.perf_counter()
        self.prepare()
        print(f"inputs and references: {time.perf_counter() - t0:.3f} s", file=sys.stderr, flush=True)
        spark, get_s, first_s = self.setup()
        self.layer["session.get_spark_s"] = get_s
        self.layer["session.first_action_s"] = first_s
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

        cold, _, cold_info = self.run_once(spark, traced=False)
        self.layer["gate.codes_inexact_cells"] = cold_info.get("inexact", 0)

        warm = {False: [], True: []}
        n_warm = warm_runs(self.args.seconds)
        # traced: at least two of each, untraced, traced, traced,
        # untraced, ..., so both kinds sit at the same mean point of the
        # JIT curve and trace.overhead_s has no order bias
        for i in range(2 * max(2, n_warm) if self.trace else n_warm):
            traced = self.trace and i % 4 in (1, 2)
            warm[traced].append(self.run_once(spark, traced))
        peak_rss = _rss_peak_mb(self.jvm_pid)

        untraced = warm[False]
        run_s = statistics.median(w for w, _, _ in untraced)
        res = {
            "run_s": run_s,
            "input_mb_per_s": self.in_bytes / 1e6 / run_s,
            "cold_run_s": cold,
            "setup_s": get_s + first_s,
            "cpu_s": statistics.median(info["cpu_s"] for _, _, info in untraced),
            "peak_rss_mb": peak_rss,
            "write_amp": statistics.median(info["written"] for _, _, info in untraced) / self.in_bytes,
        }
        if self.trace:
            self.trace_layers(spark, warm)
        self.stop(spark)
        return res

    def trace_layers(self, spark, warm) -> None:
        from perfbench import gen, kernels
        from perfbench import workloads as W
        from perfbench.trace import Tracer

        L = self.layer
        traced = warm[True]
        med = statistics.median

        def span_med(name: str, key: str) -> float:
            """Median over the traced runs holding span ``name``."""
            vals = [sum(sp[key] for sp in tr.find(name)) for _, tr, _ in traced if tr.find(name)]
            return med(vals)

        L["trace.overhead_s"] = med(w for w, _, _ in traced) - med(w for w, _, _ in warm[False])
        L["workers.cpu_s"] = med(info["workers_cpu_s"] for _, _, info in traced)
        for k in SPARK_KEYS:
            L[f"spark.{k}"] = span_med("run", k)
        if self.is_meds:
            # the checkpointed arm, once: its digest must match the lazy
            # arm's, and the stage replays read its stage outputs
            ckpt_run = self.run_once(spark, traced=True, arm="meds_etl_ckpt")
            L["sources.open_s"] = span_med("sources.open", "s")
            L["sources.write_s"] = span_med("sources.write", "s")
            L["sources.write_jobs"] = span_med("sources.write", "jobs")
            L["sources.output_mb"] = med(info["out_bytes"] for _, _, info in traced) / 1e6
            L["pipeline.run_s"] = span_med("pipeline.run", "s")
            L["pipeline.run_jobs"] = span_med("pipeline.run", "jobs")
            ckpt = ckpt_run[2]["ckpt"]
            L["pipeline.ckpt_mb"] = sum(m["bytes"] for m in ckpt) / 1e6
            L["pipeline.ckpt_rows"] = sum(m["rows"] for m in ckpt)
            rows = {m["stage"]: m["rows"] for m in ckpt}
            tr = Tracer(spark, True)
            W.meds_stage_replays(spark, tr, self.inp, os.path.join(self.work, "ckpt"))
            tr.finish()
            for st in MEDS_STAGES:
                sp = tr.find(f"op.{st}")[0]
                L[f"op.{st}.s"] = sp["s"]
                L[f"op.{st}.shuffle_mb"] = sp["shuffle_write_mb"]
                L[f"op.{st}.rows_out"] = rows.get(st, 0)
            spans = [s for _, t, _ in traced + [ckpt_run] for s in t.spans] + tr.spans
        else:
            # ccnet is measured here only, once, checked against its oracle
            ccnet = self.run_once(spark, traced=True, calls=W.TRACED_CALLS)
            traced = traced + [ccnet]
            for call in (*W.CORPUS_CALLS, *W.TRACED_CALLS):
                L[f"corpus.{call}.call_s"] = span_med(f"corpus.{call}.call", "s")
                L[f"corpus.{call}.call_jobs"] = span_med(f"corpus.{call}.call", "jobs")
                L[f"corpus.{call}.s"] = span_med(f"corpus.{call}", "s")
                L[f"corpus.{call}.offjvm_s"] = span_med(f"corpus.{call}", "offjvm_s")
            spans = [s for _, t, _ in traced for s in t.spans]
        L.update(kernels.bench(gen.corpus_tables(self.root, self.seed)))
        os.makedirs(os.path.join(self.root, ".bench_out"), exist_ok=True)
        with open(os.path.join(self.root, ".bench_out", f"trace_{self.workload}_s{self.seed}.json"), "w") as f:
            json.dump(spans, f, indent=1, default=str)

    def stop(self, spark) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "meds_transforms_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print("perfbench: run from the repository root (meds_transforms_spark/ not found)",
              file=sys.stderr)
        return 2

    # Python workers import the package from the checkout; every temp
    # file stays inside it.
    bench = Bench(root, args)
    tmp = os.path.join(bench.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "spark-local")
    # get_spark's default heap is half the host's RAM; a fixed 2g keeps
    # the benchmark the same on every host and small on a shared one
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, root)

    import shutil
    import tempfile

    tempfile.tempdir = tmp
    try:
        res = bench.main()
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)

    for p in bench.problems:
        print(f"FAIL {p}")
    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(bench.layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(res[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
