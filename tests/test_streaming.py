"""Streaming semantics beyond the oracle-paired catalog entries:
watermark + append mode (late-data handling — only windows the
watermark has closed are emitted)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from mapreduce_itwiki_spark.sources.parquet import load_table

from conftest import SF_SMALL

_n = itertools.count()


def test_append_mode_emits_only_closed_windows(spark):
    """With a 1-hour watermark over the finite events feed, append mode
    must emit every hourly window except those within the watermark of
    the max event time (the still-open tail)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMALL)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))

    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = f"append_test_{next(_n)}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = {
        r.start for r in spark.table(name).select(F.col("window.start").alias("start")).collect()
    }

    batch = load_table(spark, SF_SMALL, "events")
    all_windows = {
        r.h for r in batch.select(F.date_trunc("hour", "ts").alias("h")).distinct().collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    # windows closed by the watermark: end <= max_ts - 1h
    import datetime as dt

    closed = {
        h for h in all_windows
        if h + dt.timedelta(hours=1) <= max_ts - dt.timedelta(hours=1)
    }
    assert emitted == closed
    assert emitted and emitted < all_windows  # strictly withheld tail


def test_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Fault-tolerance contract: a stopped streaming query RESUMED from
    its checkpoint processes only unseen files — no duplicates, no
    gaps. Feed half the data, stop; add the second half, restart with
    the same checkpoint; the running count must equal the batch total,
    and maxFilesPerTrigger=1 forces genuinely incremental micro-batches
    rather than one big gulp."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src_dir = str(tmp_path / "feed")
    ckpt = str(tmp_path / "ckpt")
    events = load_table(spark, SF_SMALL, "events")
    half1 = events.filter(F.col("event_id") % 2 == 0)
    half2 = events.filter(F.col("event_id") % 2 == 1)
    half1.write.mode("overwrite").parquet(src_dir)  # initial files

    schema = spark.read.parquet(src_dir).schema

    def start(name):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        return (
            counts.writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .format("memory")
            .queryName(name)
            .start()
        )

    q = start("ckpt_run_a")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_after_half = spark.table("ckpt_run_a").agg(F.sum("n")).collect()[0][0]
    assert n_after_half == half1.count()

    # second half arrives while the query is DOWN
    half2.write.mode("append").parquet(src_dir)

    q = start("ckpt_run_b")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = spark.table("ckpt_run_b")
    assert final.agg(F.sum("n")).collect()[0][0] == events.count()  # no dup, no gap
    batch = {
        (r.user_id): r.n
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {r.user_id: r.n for r in final.collect()}
    assert got == batch


def test_upsert_merge_idempotent_under_redelivery(spark, tmp_path):
    """The versioned foreachBatch upsert store must be SAFE under batch
    redelivery — a retried/replayed (batch_df, batch_id) pair folds in
    zero new state (the applied-id set travels with the store version,
    so a crash between write and repoint also replays cleanly) — and
    the merged store must equal the one-shot batch aggregate."""
    import os

    from mapreduce_itwiki_spark.streaming.events import _make_upsert_merge

    events = load_table(spark, SF_SMALL, "events").select("user_id", "ts", "value")
    store = str(tmp_path / "store")
    merge = _make_upsert_merge(spark, store)

    halves = [
        events.filter(F.col("user_id") % 2 == 0),
        events.filter(F.col("user_id") % 2 == 1),
    ]
    merge(halves[0], 0)
    merge(halves[1], 1)

    def snapshot():
        cur = merge.current()
        df = spark.read.parquet(os.path.join(store, cur["version"]))
        return sorted(
            (r.user_id, r.n_events, r.last_ts, round(r.total_value, 6))
            for r in df.collect()
        )

    first = snapshot()
    merge(halves[0], 0)  # redelivered batches: must be no-ops
    merge(halves[1], 1)
    assert snapshot() == first

    expect = sorted(
        (r.user_id, r.n_events, r.last_ts, round(r.total_value, 6))
        for r in events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.sum("value").alias("total_value"),
        )
        .collect()
    )
    assert first == expect


def test_foreachbatch_exactly_once_style_sink(spark, tmp_path):
    """foreachBatch: the escape hatch for sinks without native streaming
    support — each micro-batch lands as an idempotent overwrite keyed by
    batch id (the exactly-once pattern). The finite feed must deliver
    every source row exactly once across batch files."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{SF_SMALL}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_SMALL)
    )
    out = str(tmp_path / "batches")

    def sink(df, epoch_id):
        df.write.mode("overwrite").parquet(f"{out}/epoch={epoch_id}")

    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    landed = spark.read.parquet(f"{out}/epoch=*")
    src = load_table(spark, SF_SMALL, "events")
    assert landed.count() == src.count()
    assert sorted(r.event_id for r in landed.select("event_id").collect()) == sorted(
        r.event_id for r in src.select("event_id").collect()
    )


@pytest.mark.parametrize("tier", ["lsh", "ivfpq"])
def test_ivfpq_ingest_redelivery_exactly_once(spark, tmp_path, tier):
    """The vector-ingest callback must be EXACTLY-ONCE for BOTH outputs
    under a redelivered (batch_df, batch_id) pair, on the LSH and the
    IVF-PQ tier alike: verdict rows are batch_id-partitioned dynamic
    overwrites (a replay replaces its own partition) and the index
    append is guarded by the done-marker written last (a replay is a
    no-op). Verdicts must also survive a marker-deleted replay (crash
    before the marker landed) without duplicating — the overwrite
    absorbs it."""
    import os

    from mapreduce_itwiki_spark.operators import index_store
    from mapreduce_itwiki_spark.operators import similarity as S
    from mapreduce_itwiki_spark.streaming.events import _ingest_callback

    emb = load_table(spark, SF_SMALL, "embeddings")
    top = emb.agg(F.max("vec_id")).collect()[0][0]
    s = 3 * top // 4
    corpus = emb.filter(F.col("vec_id") < s)
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    done = str(tmp_path / "done")
    os.makedirs(done)
    # per tier: the writer, the index's row table and partition column,
    # the columns that identify a stored row, rows stored per vector
    write, rows_dir, part, row_cols, per_vec = {
        "lsh": (S.ann_index_write, idx, "pkey",
                ("vec_id", "band_id", "band_key", "shard"), S.LSH_BANDS),
        "ivfpq": (S.ivfpq_index_write, f"{idx}/codes", "cid",
                  ("vec_id", "cid", "codes"), 1),
    }[tier]
    write(corpus, idx)
    cb = _ingest_callback(spark, tier, idx, out, done, corpus, corpus_max_id=s - 1)
    batch = emb.filter(F.col("vec_id") >= s).select("vec_id", "embedding")
    halves = [
        batch.filter(F.col("vec_id") % 2 == 0),
        batch.filter(F.col("vec_id") % 2 == 1),
    ]
    cb(halves[0], 0)
    cb(halves[1], 1)

    def verdicts():
        return sorted(
            (r.batch_id, r.vec_id, r.n_corpus_candidates,
             r.nearest_corpus_cosine)
            for r in spark.read.parquet(out).collect()
        )

    def codes():
        return sorted(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in spark.read.parquet(rows_dir).select(*row_cols).collect()
        )

    first_v, first_c = verdicts(), codes()
    # every corpus + batch vector indexed exactly once (per band) already
    assert len(first_c) == emb.count() * per_vec
    assert len(set(first_c)) == len(first_c)
    assert len({c[0] for c in first_c}) == emb.count()

    cb(halves[0], 0)  # redelivered after completion: marker no-op
    cb(halves[1], 1)
    assert verdicts() == first_v
    assert codes() == first_c

    # crash window: marker lost AFTER verdicts landed but BEFORE the
    # append ran — the replayed batch must overwrite (not duplicate)
    # its verdict partition; the append re-runs by design, so pin only
    # the verdict side here and the no-duplicate invariant above for
    # the marker-guarded path
    os.remove(os.path.join(done, "batch-1"))
    import shutil

    # roll the index rows back to the pre-replay state the crash left
    # (append had not run): drop half-1's rows, keep the manifest
    man = index_store.load(idx, tier)
    kept = (
        spark.read.parquet(rows_dir)
        .filter(~((F.col("vec_id") >= s) & (F.col("vec_id") % 2 == 1)))
        .localCheckpoint()
    )
    shutil.rmtree(rows_dir)
    kept.write.mode("overwrite").partitionBy(part).parquet(rows_dir)
    index_store.commit(idx, **man)
    cb(halves[1], 1)
    assert verdicts() == first_v
    assert codes() == first_c
