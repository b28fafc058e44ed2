"""Round-11 optimization profiler: interleaved env-flipped A/B arms in
ONE Spark session (JVM/codegen warmup shared, host-noise decorrelated by
interleaving), plus the plain query timer / plan dump of profile_r10.

Usage:
  python scripts/profile_r11.py q <name> [...]           # time queries
  python scripts/profile_r11.py plan <name> [...]        # dump plans
  python scripts/profile_r11.py ab ENV KEY=A KEY=B -- <name> [...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_RUNS (default 5),
     SPARK_GRAFT_CPUS (default all).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("SPARK_GRAFT_RUNS", "5"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_once(spark, label, build):
    sc = spark.sparkContext
    group = f"r11-{label}-{time.monotonic_ns()}"
    sc.setJobGroup(group, label)
    t0 = time.time()
    noop(build())
    wall = round(time.time() - t0, 3)
    try:
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    except Exception:
        jobs = -1
    sc.setJobGroup("r11-idle", "idle")
    spark.catalog.clearCache()
    return wall, jobs


def summarize(label, walls, jobs):
    ws = sorted(walls)
    med = ws[len(ws) // 2]
    print(
        f"{label:52s} min={ws[0]:7.3f} med={med:7.3f} "
        f"jobs/run={max(jobs):3d}  raw={walls}",
        flush=True,
    )


def main():
    import __spark_entry__ as E
    from meds_transforms_spark import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("profile_r11", master=f"local[{cpus}]", shuffle_partitions=cpus)
    qs = E.queries()
    qs["meds_fit_vocab"](spark, SF_DIR).count()  # codegen warmup

    mode, rest = sys.argv[1], sys.argv[2:]
    if mode == "q":
        for name in rest:
            walls, jobs = [], []
            for _ in range(RUNS):
                w, j = run_once(spark, name, lambda n=name: qs[n](spark, SF_DIR))
                walls.append(w)
                jobs.append(j)
            summarize(name, walls, jobs)
    elif mode == "plan":
        for name in rest:
            print(f"===== {name} =====")
            print(
                qs[name](spark, SF_DIR)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            )
    elif mode == "ab":
        env_key = rest[0]
        sep = rest.index("--")
        arms = [a.split("=", 1) for a in rest[1:sep]]
        names = rest[sep + 1 :]
        saved = os.environ.get(env_key)
        results = {(n, a): ([], []) for n in names for a, _ in arms}
        try:
            for _ in range(RUNS):
                for name in names:
                    for arm, val in arms:
                        if val == "<unset>":
                            os.environ.pop(env_key, None)
                        else:
                            os.environ[env_key] = val
                        w, j = run_once(
                            spark,
                            f"{name}/{arm}",
                            lambda n=name: qs[n](spark, SF_DIR),
                        )
                        results[(name, arm)][0].append(w)
                        results[(name, arm)][1].append(j)
        finally:
            if saved is None:
                os.environ.pop(env_key, None)
            else:
                os.environ[env_key] = saved
        for name in names:
            for arm, _ in arms:
                walls, jobs = results[(name, arm)]
                summarize(f"{name} [{env_key}={arm}]", walls, jobs)
    else:
        print(f"unknown mode {mode}", file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
