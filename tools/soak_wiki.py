"""Wiki-dump soak (VERDICT r3 ask #1, namesake half): run the COMPLETE
reference pipeline — record-delimited XML scan → from_xml parse → link
extract/normalize/filter → distinct pairs → incoming-reference counts →
total sort — against a multi-GB synthetic MediaWiki export
(tools/gen_wiki_dump.py) and record wall time, stage cardinalities, and
scan throughput.

The reference never published numbers (BASELINE.md) — its full-dump
artifacts imply ~3.7 M distinct pairs / ~1.1 M targets; the synthetic
dump is sized to exceed that (~40 M raw links at 1.2 M pages) so the
shuffle actually works at reference-dump scale.

Usage: python tools/soak_wiki.py DUMP_DIR OUT_JSON
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from mapreduce_itwiki_spark.operators.linkgraph import (  # noqa: E402
    distinct_pairs,
    extract_link_pairs,
    incoming_reference_counts,
)
from mapreduce_itwiki_spark.session import get_spark  # noqa: E402
from mapreduce_itwiki_spark.sources.xml_pages import read_pages  # noqa: E402


def main() -> None:
    dump = sys.argv[1]
    out_json = sys.argv[2]
    spark = get_spark("soak_wiki")
    n_bytes = sum(os.path.getsize(p) for p in glob.glob(f"{dump}/*.txt"))

    results: dict[str, float | int] = {"dump_bytes": n_bytes}

    # 1. full pipeline, end-to-end wall time (noop sink = no collect) —
    # three passes so the artifact carries a same-JVM spread (this host
    # shows multi-second steal bursts; r4's single-pass number had no
    # error bar — VERDICT r4 ask #8)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        incoming_reference_counts(read_pages(spark, f"{dump}/*.txt")).write.mode(
            "overwrite"
        ).format("noop").save()
        times.append(round(time.perf_counter() - t0, 2))
    # keys carry the statistic in their NAME (ADVICE r5: r4 recorded a
    # single pass under the bare "pipeline_sec" key and r5 silently
    # switched it to min-of-3 — cross-round trend readers must compare
    # min-vs-min / median-vs-median, never bare-vs-min)
    times_sorted = sorted(times)
    results["pipeline_sec_min"] = times_sorted[0]
    results["pipeline_sec_median"] = times_sorted[len(times_sorted) // 2]
    results["pipeline_times"] = times
    results["scan_mb_per_sec_at_min"] = round(
        n_bytes / 1e6 / results["pipeline_sec_min"], 1
    )

    # 2. stage cardinalities (separate actions; timed together)
    t0 = time.perf_counter()
    pages = read_pages(spark, f"{dump}/*.txt")
    results["n_pages"] = pages.count()
    links = extract_link_pairs(read_pages(spark, f"{dump}/*.txt"))
    results["n_raw_links"] = links.count()
    pairs = distinct_pairs(extract_link_pairs(read_pages(spark, f"{dump}/*.txt")))
    results["n_distinct_pairs"] = pairs.count()
    counts = incoming_reference_counts(read_pages(spark, f"{dump}/*.txt"))
    results["n_targets"] = counts.count()
    results["cardinalities_sec"] = round(time.perf_counter() - t0, 2)

    # 3. sanity: the head of the power law (most-linked page) — one
    # TakeOrdered, proves the count output is usable, not just counted
    top = counts.orderBy(F.desc("count")).limit(3).collect()
    results["top_targets"] = [(r["page_title"], r["count"]) for r in top]

    with open(out_json, "w") as f:
        json.dump(results, f, indent=1)
    print(json.dumps(results))
    spark.stop()


if __name__ == "__main__":
    main()
