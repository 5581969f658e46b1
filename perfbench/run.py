"""Benchmark of the engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The process starts one local Spark session
on every core of the host, prepares the workload's seeded inputs, then
runs passes in a closed loop — the first pass cold, then warm passes
until ``--seconds`` have gone by since the first pass ended (at least
one warm pass). Every operation's output is checked against a reference
computed outside the engine. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``,
which holds the end-to-end metrics with ``--trace 0`` and the per-layer
metrics with ``--trace 1``. The line before it carries the raw samples.

The traced run first does what the untraced run does, then restarts the
session with the Spark event log on and repeats the warm passes, so it
can report its own overhead; the event log gives the scheduler metrics
per pass and per operation. Per-layer metrics that a workload does not
exercise are reported as 0.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAGE = os.sysconf("SC_PAGE_SIZE")
#: warm passes repeated with the event log on, at most
TRACED_PASSES = 2
#: driver JVM heap, fixed so that it fits small hosts (the engine's
#: default is 24 GiB). It is also the initial heap: a JVM left to grow its
#: heap does so as its collector sees fit, and peak RSS then varied by a
#: third between runs of one workload
DRIVER_MEM = "2g"


def _host_cpus() -> int:
    return len(os.sched_getaffinity(0))


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants.

    A process the JVM has forked but that has not yet run its own program
    (the JVM forks to run helpers such as ``chmod`` on file writes) still
    shares the JVM's memory and runs the JVM's code; it is skipped, or a
    sample that catches one counts the JVM twice."""

    def __init__(self, period: float = 0.1):
        super().__init__(daemon=True)
        self.period, self.peak, self._halt = period, 0, threading.Event()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        comm: dict[int, str] = {}
        code: dict[int, tuple[str, str]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    name, rest = fh.read().rsplit(")", 1)
            except OSError:
                continue
            pid, fields = int(entry), rest.split()
            comm[pid] = name.split("(", 1)[1]
            code[pid] = (fields[23], fields[24])  # startcode, endcode
            children.setdefault(int(fields[1]), []).append(pid)
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            for child in children.get(pid, ()):
                if not (comm[pid] == "java" and code[child] == code[pid]):
                    todo.append(child)
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * PAGE
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._halt.wait(self.period)

    def stop(self) -> int:
        self._halt.set()
        self.join()
        return self.peak


def _environment(work: str) -> None:
    """Settings every run shares; they must be in place before the JVM
    starts. Spark's scratch space and temp files stay inside ``work``."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        {
            # the Python workers import the engine for its pandas UDFs
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_CPUS": str(_host_cpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_DRIVER_JAVA_OPTIONS": f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}",
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        }
    )
    sys.path.insert(0, ROOT)


def _remove_stale_runs(state: str) -> None:
    """Delete work directories of earlier runs whose process is gone."""
    for name in os.listdir(state) if os.path.isdir(state) else ():
        pid = name[len("run-") :]
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(state, name), ignore_errors=True)


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _run_pass(ops, records: list) -> float:
    """Run one pass; append (name, start_ms, end_ms, ok) per op."""
    total = 0.0
    for op in ops:
        start = time.time()
        t0 = time.perf_counter()
        try:
            result = op.call()
            elapsed = time.perf_counter() - t0
            ok = bool(op.check(result))
        except Exception:
            elapsed = time.perf_counter() - t0
            traceback.print_exc()
            ok = False
        records.append((op.name, start * 1000, (start + elapsed) * 1000, ok))
        total += elapsed
    return total


def _passes(wl, seconds: float, records: list) -> list[float]:
    """The first pass, then warm passes for at most ``seconds`` (at
    least one): a pass that would end past the window is not started."""
    times = [_run_pass(wl.ops(0), records)]
    t0 = time.perf_counter()
    while len(times) < 2 or time.perf_counter() - t0 + times[-1] <= seconds:
        times.append(_run_pass(wl.ops(len(times)), records))
    return times


def _traced(wl, spark, get_spark, work: str, n: int, records: list):
    """Restart the session with the event log on and run ``n`` warm
    passes and the layer breakdown; returns (session, pass times, layer
    metrics, event-log directory, time windows)."""
    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    system = spark._jvm.java.lang.System
    for key, value in (
        ("spark.eventLog.enabled", "true"),
        ("spark.eventLog.dir", f"file://{events}"),
        ("spark.eventLog.compress", "false"),
        ("spark.eventLog.rolling.enabled", "false"),  # one plain file per application
    ):
        system.setProperty(key, value)
    spark.stop()
    spark = get_spark("perfbench")
    wl.start(spark, wl.inputs, work)
    windows, times = [], []
    for i in range(n):
        start = time.time() * 1000
        times.append(_run_pass(wl.ops(100 + i), records))
        windows.append((start, time.time() * 1000))
    return spark, times, wl.layers(), events, windows


def _per_layer(wl, untraced, traced, log, windows, records, cores) -> dict[str, float]:
    sched = [log.window(lo, hi, cores) for lo, hi in windows]

    def med(key):
        return statistics.median(s[key] for s in sched)

    out = {f"sched.{key}": med(key) for key in (
        "jobs", "stages", "tasks", "driver_gap_s", "task_wait_s", "core_busy_frac", "failed_tasks",
    )}
    out["shuffle.write_bytes"] = med("shuffle_write_bytes")
    out["shuffle.read_bytes"] = med("shuffle_read_bytes")
    out["spill.disk_bytes"] = med("spill_disk_bytes")
    out["trace.pass_s"] = statistics.median(traced)
    out["trace.overhead_s"] = out["trace.pass_s"] - statistics.median(untraced)
    by_op: dict[str, list[dict]] = {}
    for name, lo, hi, _ in records:
        if any(w_lo <= lo <= w_hi for w_lo, w_hi in windows):
            by_op.setdefault(name, []).append({"wall_s": (hi - lo) / 1000, **log.window(lo, hi, cores)})
    prefix = "q." if wl.name == "catalog_overhead" else ""
    for name, samples in by_op.items():
        for key in ("wall_s", "jobs", "driver_gap_s"):
            out[f"{prefix}{name}.{key}"] = statistics.median(s[key] for s in samples)
    return out


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, HERE)
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "mapreduce_itwiki_spark", "__init__.py")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    state = os.path.join(ROOT, ".perfbench")
    _remove_stale_runs(state)
    work = os.path.join(state, f"run-{os.getpid()}")
    _environment(work)
    wl = workloads.WORKLOADS[args.workload]()
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        from mapreduce_itwiki_spark.session import get_spark

        spark = get_spark("perfbench")
        setup_s = time.perf_counter() - T0
        inputs = wl.prepare(os.path.join(state, "cache"), args.seed)
        wl.start(spark, inputs, work)
        records: list = []
        times = _passes(wl, args.seconds, records)
        detail = {"workload": wl.name, "seed": args.seed, "input_bytes": inputs.input_bytes,
                  "gen_s": inputs.gen_s, "setup_s": setup_s, "pass_times": times}
        if args.trace:
            stored = wl.stored_bytes()
            untraced = times[1:]
            n = min(TRACED_PASSES, len(untraced))
            spark, traced, layers, events, windows = _traced(wl, spark, get_spark, work, n, records)
            _stop_jvm(spark)
            spark = None
            from eventlog import load_dir

            cores = _host_cpus()
            metrics = {"session.start_s": setup_s, "stored_bytes_per_input_byte": stored / inputs.input_bytes}
            metrics.update(_per_layer(wl, untraced, traced, load_dir(events), windows, records, cores))
            metrics.update(layers)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            warm = statistics.median(times[1:])
            metrics = {
                "setup_s": setup_s,
                "first_pass_s": times[0],
                "pass_s": warm,
                "input_mb_per_s": inputs.input_bytes / 1e6 / warm,
            }
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        failed = sum(1 for *_, ok in records if not ok)
        op_times: dict[str, list[float]] = {}
        for name, lo, hi, _ in records:
            op_times.setdefault(name, []).append(round((hi - lo) / 1000, 3))
        detail.update(op_times=op_times, attempted=len(records), failed=failed,
                      failed_frac=failed / len(records), recall_at_10=getattr(wl, "recalls", None))
    finally:
        if spark is not None:
            _stop_jvm(spark)
        peak = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        metrics["peak_rss_mb"] = peak / 1e6
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(records),
                "failed": failed,
                # a per-layer metric the workload does not exercise reads 0
                "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
