"""Concurrent driver-side actions (optimization r10, guide §2.6).

Spark happily runs several jobs at once inside one application; actions
are only sequential because driver code calls them sequentially. The
persisted-index writers issue several INDEPENDENT actions back to back
(sidecar writes, the main table write) — on an otherwise idle local[32]
each of those small jobs leaves the cluster mostly idle, and at scale
the next job's tasks back-fill the tail of the previous one. This
helper overlaps them from a small thread pool and re-raises the first
failure. The index manifest (``operators/index_store.py``, committed
LAST by contract) stays OUTSIDE the pool at its call sites.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor


def fanout(df, *cols: str):
    """Gated repartition before CPU-heavy per-row compute.

    Two jobs in one: (a) decouples parallelism from input file splits
    (a few MB of parquet = one split, but signature math or a per-row
    Python codec is CPU-bound, not byte-bound); (b) the exchange
    MATERIALIZES the projected columns, so an expensive array column
    computed just before it is evaluated once instead of being
    re-inlined into every downstream expression by CollapseProject.
    Explicit numPartitions so AQE does not coalesce it away; no
    ``cols`` means a round-robin exchange.

    Gated on the INPUT's partition count: when the upstream source is
    already split at least ``defaultParallelism`` ways (the normal state
    of a 100 TB scan), the exchange is pure cost and is skipped —
    locally, where a few MB of parquet arrive as 1-2 splits, the
    repartition still fires."""
    from pyspark.sql import functions as F

    n = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *[F.col(c) for c in cols])


def salted_by_partition(df, part_col: str, salt_src: str, n_dirs: int):
    """Cluster rows for a ``partitionBy(part_col)`` write — the
    rebalance-before-write move (guide §6) made SKEW-SAFE (guide §2.5,
    VERDICT r10 #1): ``repartition(part_col)`` alone puts ALL rows of a
    partition value in ONE task, so a hot value — a degenerate band
    bucket on a near-duplicate-heavy corpus, a dense IVF cell on
    clustered embeddings — serializes that directory's entire write at
    100 TB. A deterministic salt (``pmod(xxhash64(salt_src), k)``; never
    rand(), which duplicates/loses rows under fetch-failure re-runs,
    SPARK-38388) joins the clustering key so each value's rows spread
    over up to ``k`` tasks.

    ``k = defaultParallelism / n_dirs`` (min 1) sizes the split to the
    over-subscription factor: total write tasks stay ≈ one wave of the
    cluster and the file count stays ≈ n_dirs × k — locally (32 cores,
    256 dirs) k=1 and the write is byte-identical to the unsalted form;
    on a 4 000-slot cluster writing 256 directories k≈15, so even a
    directory holding a third of the corpus is written by ~15 tasks
    instead of 1. ``n_dirs`` is a performance dial, not a correctness
    input — an estimate (e.g. the module-default nlist for an appended
    index) only shifts k.

    The exchange width is EXPLICIT (r11, guide §2.5): a bare
    ``repartition(cols)`` is AQE-coalescible, and on a bytes-small
    input AQE's 64 MB advisory merged the whole write onto 3 tasks —
    each then paying the per-FILE parquet open/dictionary/footer cost
    for ~85 directories sequentially (measured 2.7 s of a 4.1 s
    minhash_index_build in round 11; the per-task metrics were not
    kept).
    ``n = max(parallelism, n_dirs·k)`` pins one writer wave: every
    (value, salt) group still lands wholly in one task, so file count
    and layout are unchanged — only the per-file overhead parallelizes.
    At scale the explicit width equals what AQE would pick for a
    data-bound write (n_dirs·k ≈ one cluster wave), so this binds only
    where it should: the fixed-overhead-bound small write."""
    from pyspark.sql import functions as F

    par = df.sparkSession.sparkContext.defaultParallelism
    k = max(1, par // max(1, int(n_dirs)))
    salt = F.pmod(F.xxhash64(F.col(salt_src)), F.lit(k))
    n = max(par, int(n_dirs) * k)
    return df.repartition(n, F.col(part_col), salt)


def run_concurrent(*thunks: Callable[[], object]) -> list[object]:
    """Run the given zero-arg actions concurrently; return their
    results in order; raise the first exception (after all complete or
    fail). 2-4 jobs in flight is the sweet spot (guide §2.6).

    Each thunk runs with the caller's Spark local properties and job
    tags (``inheritable_thread_target``), so the jobs it starts join
    the caller's job group, description and scheduler pool."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futures]
