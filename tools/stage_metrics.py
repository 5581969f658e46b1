"""Per-stage task-metric rollup from the profile_entry event log — the
offline twin of the Stage page's summary metrics (guide §7.1; the UI is
disabled in this sandbox). Run tools/profile_entry.py first, then:

    python tools/stage_metrics.py [topN]

Prints, for the slowest stages: task count, sum executor run/CPU time,
shuffle read/write bytes+records, input records, and the first line of
the stage name — enough to tell fetch-bound from CPU-bound from
scheduler-bound without the UI.
"""

from __future__ import annotations

import glob
import json
import os
import sys

EVDIR = "/tmp/spark-events-profile"


COUNTERS = ("n", "run", "cpu", "gc", "in_rec", "sr_b", "sr_rec", "sw_b",
            "sw_rec", "out_rec")


def event_logs(evdir: str = EVDIR) -> list[str]:
    """Every event-log file under ``evdir`` (flat or one directory per
    application), skipping the appstatus markers."""
    logs = []
    for p in glob.glob(f"{evdir}/*"):
        if os.path.isdir(p):
            logs.extend(q for q in glob.glob(f"{p}/*") if os.path.isfile(q))
        else:
            logs.append(p)
    return [lg for lg in logs if not os.path.basename(lg).startswith("appstatus")]


def rollup(logs: list[str]) -> dict[tuple[str, int, int], dict]:
    """Per-stage task-metric sums keyed by (log file, stage, attempt):
    stage ids restart at 0 in every application, so logs of several
    runs never merge into one entry."""
    stages: dict[tuple[str, int, int], dict] = {}
    for lg in logs:
        with open(lg) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if ev.get("Event") == "SparkListenerTaskEnd":
                    sid = (lg, ev["Stage ID"], ev["Stage Attempt ID"])
                    m = ev.get("Task Metrics") or {}
                    s = stages.setdefault(sid, {})
                    for c in COUNTERS:
                        s.setdefault(c, 0)
                    s["n"] += 1
                    s["run"] += m.get("Executor Run Time", 0)
                    s["cpu"] += m.get("Executor CPU Time", 0) // 1_000_000
                    s["gc"] += m.get("JVM GC Time", 0)
                    s["in_rec"] += (m.get("Input Metrics") or {}).get(
                        "Records Read", 0
                    )
                    s["out_rec"] += (m.get("Output Metrics") or {}).get(
                        "Records Written", 0
                    )
                    srm = m.get("Shuffle Read Metrics") or {}
                    s["sr_b"] += srm.get("Local Bytes Read", 0) + srm.get(
                        "Remote Bytes Read", 0
                    )
                    s["sr_rec"] += srm.get("Total Records Read", 0)
                    swm = m.get("Shuffle Write Metrics") or {}
                    s["sw_b"] += swm.get("Shuffle Bytes Written", 0)
                    s["sw_rec"] += swm.get("Shuffle Records Written", 0)
                elif ev.get("Event") == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sid = (lg, si["Stage ID"], si["Stage Attempt ID"])
                    stages.setdefault(sid, {}).update(
                        name=si["Stage Name"].split("\n")[0][:70],
                        wall=si.get("Completion Time", 0)
                        - si.get("Submission Time", 0),
                    )
    return stages


def main() -> None:
    topn = int(sys.argv[1]) if len(sys.argv) > 1 else 12
    stages = rollup(event_logs())
    rows = [
        (sid, s)
        for sid, s in stages.items()
        if "wall" in s and s.get("n")
    ]
    rows.sort(key=lambda kv: -kv[1]["wall"])
    for sid, s in rows[:topn]:
        print(
            f"stage {sid[1]:4d} wall={s['wall']/1000:7.3f}s n={s['n']:4d} "
            f"run={s['run']/1000:7.2f}s cpu={s['cpu']/1000:7.2f}s "
            f"gc={s['gc']/1000:5.2f}s in={s['in_rec']:>9} "
            f"srd={s['sr_b']>>10}KiB/{s['sr_rec']} "
            f"swr={s['sw_b']>>10}KiB/{s['sw_rec']} out={s['out_rec']}"
        )
        print(f"           {os.path.basename(sid[0])}: {s.get('name','')}")


if __name__ == "__main__":
    main()
