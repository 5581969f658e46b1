"""Job-level profile of one catalog entry: run it once (after warm-ups)
in a session with the event log enabled, then print the Spark jobs the
execution issued — wall duration and stage count each — plus the
window's scheduler totals and the run's Janino compiles, so the
fixed-overhead vs compute split is visible (guide §1: measure first;
the event log is the UI's offline twin). The log is read with the
benchmark's own reader (``perfbench/eventlog.py``), so this tool and the
traced benchmark run count jobs the same way.

Usage: python tools/profile_entry.py ann_ivfpq_index_retrain [warmups]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_itwiki_spark.plans import catalog  # noqa: E402
from mapreduce_itwiki_spark.session import codegen_compilations, get_spark  # noqa: E402
from perfbench.eventlog import load_dir  # noqa: E402

EVDIR = "/tmp/spark-events-profile"


def get_profiled_spark():
    """The engine session, restarted with a plain-text event log in
    ``EVDIR`` (set as JVM system properties, which the restarted
    session's conf picks up — the traced-run recipe of
    ``perfbench/run.py``)."""
    shutil.rmtree(EVDIR, ignore_errors=True)
    os.makedirs(EVDIR)
    spark = get_spark("profile")
    system = spark._jvm.java.lang.System
    for key, value in (
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", f"file://{EVDIR}"),
        ("spark.eventLog.compress", "false"),
        ("spark.eventLog.rolling.enabled", "false"),
    ):
        system.setProperty(key, value)
    spark.stop()
    return get_spark("profile")


def main() -> None:
    name = sys.argv[1]
    warmups = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_profiled_spark()
    cores = spark.sparkContext.defaultParallelism
    qs = catalog.queries()
    for _ in range(warmups):
        qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    # jobs are attributed by submission time; run_concurrent's pool
    # threads inherit the caller's job group, but this run sets none
    c0 = codegen_compilations(spark)
    t0 = time.perf_counter()
    epoch0 = time.time() * 1000
    qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    epoch1 = time.time() * 1000
    wall = time.perf_counter() - t0
    compiles = codegen_compilations(spark) - c0
    spark.stop()

    log = load_dir(EVDIR)
    sched = log.window(epoch0, epoch1, cores)
    jobs = sorted(
        (j for j in log.jobs if epoch0 <= j.submitted <= epoch1),
        key=lambda j: j.submitted,
    )
    print(f"\n=== {name}: wall {wall:.3f}s, {sched['jobs']} jobs,"
          f" {sched['stages']} stages, {sched['tasks']} tasks,"
          f" {compiles} codegen compilations ===")
    for i, j in enumerate(jobs):
        dur = (j.completed - j.submitted) / 1000 if j.completed else float("nan")
        print(f"job {i:4d}  +{(j.submitted - epoch0) / 1000:7.3f}s"
              f"  {dur:7.3f}s  stages={len(j.stages)}")
    print(f"driver gap (wall not covered by any job): {sched['driver_gap_s']:.3f}s;"
          f" core busy {sched['core_busy_frac']:.2f};"
          f" shuffle write {sched['shuffle_write_bytes']} B")


if __name__ == "__main__":
    main()
