"""Structured Streaming over the events table.

The reference is pure batch (SURVEY.md §2 'Streaming — none'); this is
north-star surface. The same hourly rollup as the batch
``time_bucket_hourly`` query, run as a streaming windowed aggregation —
``readStream`` over the parquet directory, event-time window, memory
sink drained synchronously with ``processAllAvailable`` so the catalog
query is deterministic and oracle-checkable against the batch SQL.

Scale notes: in production the source is Kafka/files-on-arrival; the
watermark bounds state for append sinks. Here the finite file feed +
complete output mode gives the exact batch answer, which is the point
of the oracle pairing.

Every entry ends in one of two drains, each written once:
:func:`_drain` (memory sink, ``processAllAvailable``) and
:func:`_drain_feed` (a file feed streamed one file per micro-batch into
a ``foreachBatch`` callback). The ingest callbacks write their verdicts
through :func:`_write_verdicts` (batch_id-partitioned dynamic
overwrite), and :func:`_ingest_callback` guards each vector tier's
index append with a done-marker written last.
"""

from __future__ import annotations

import functools
import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.par import salted_by_partition
from ..operators import index_store
from ..plans.catalog import register
from ..plans.relational import _scratch_dir
from ..sources.parquet import load_table

_counter = itertools.count()
_TS = "yyyy-MM-dd HH:mm:ss"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, with the SAME timestamp
    normalization as ``sources/parquet.py:load_table`` — both confs set
    at RUNTIME because the driver invokes catalog queries on a vanilla
    session (builder-level conf never reaches it): TIMESTAMP(NANOS)
    reads as nano-longs (legacy conf) rebuilt via ``timestamp_micros``,
    and NTZ inference is disabled so naive-micros timestamps read as
    epoch-UTC TIMESTAMP — the type watermarks and ``unix_micros``
    require (TIMESTAMP_NTZ is rejected by both)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def _drain(stream: DataFrame, mode: str) -> DataFrame:
    """Run ``stream`` into a fresh memory-sink table in output ``mode``,
    drain the finite feed with ``processAllAvailable`` (the query is
    stopped even when the drain raises), and return the sink table."""
    name = f"stream_{next(_counter)}"
    q = stream.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream.sparkSession.table(name)


def _drain_feed(batch: DataFrame, base: str, n_files: int, callback) -> None:
    """The file-feed drain: clear the scratch ``base``, write ``batch``
    under it as ``n_files`` parquet files, and stream them one file per
    micro-batch (``maxFilesPerTrigger=1`` + ``availableNow``) into
    ``callback(batch_df, batch_id)`` through foreachBatch, checkpointed
    under ``base``; returns once the whole feed is drained. Clearing
    first makes every call a fresh run: a stale checkpoint, store
    pointer or done-marker from an earlier call in this process would
    mark its batches already applied (idempotence working as designed,
    but wrong for a rerun)."""
    shutil.rmtree(base, ignore_errors=True)
    feed = os.path.join(base, "feed")
    batch.repartition(n_files).write.mode("overwrite").parquet(feed)
    q = (
        batch.sparkSession.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
        .writeStream.foreachBatch(callback)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _write_verdicts(verdicts: DataFrame, out: str, batch_id: int, key: str) -> None:
    """The exactly-once verdict write of one ingest micro-batch.
    foreachBatch is at-least-once, so the rows land in their own
    ``batch_id`` partition via dynamic partition overwrite: a re-fired
    batch replaces its own rows instead of duplicating them. Clustered
    like the index writers: ``batch_id`` is ONE value per write, so the
    ``key`` salt alone sizes the write to a single wave of evenly loaded
    tasks."""
    salted_by_partition(
        verdicts.withColumn("batch_id", F.lit(int(batch_id))), "batch_id", key, n_dirs=1
    ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "batch_id"
    ).parquet(out)


def _candidate_verdicts(keys: DataFrame, cands: DataFrame, cand_key: str, *extra) -> DataFrame:
    """One verdict row per ingested key (``keys``' one column): its
    corpus-candidate count, 0 when it has none, plus the ``extra``
    aggregates over its candidates."""
    key = keys.columns[0]
    roll = cands.groupBy(F.col(cand_key).alias(key)).agg(
        F.count(F.lit(1)).alias("n_corpus_candidates"), *extra
    )
    return keys.join(roll, key, "left").withColumn(
        "n_corpus_candidates", F.coalesce(F.col("n_corpus_candidates"), F.lit(0))
    )


def hourly_event_rollup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hourly (window × event_type) counts + value sums."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return _drain(agg, "complete").select(
        F.date_format(F.col("window.start"), _TS).alias("hour_bucket"),
        "event_type",
        "n",
        "total_value",
    )


register(
    "streaming_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
           event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)(hourly_event_rollup_stream)


def sessionize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming operator: per-user session counting with
    a 30-minute inactivity gap, via applyInPandasWithState (the
    Spark-idiomatic slot for operators the built-in windowed aggs can't
    express — the reference has no streaming at all, SURVEY.md §2).

    State carries (n_events, n_sessions, last_us) across micro-batches so
    a long-running feed keeps exact session counts; with the finite file
    feed here every user closes in one batch and the result equals the
    batch sessionize query — which is what the oracle checks."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stream = _events_stream(spark, sf_dir)
    # _events_stream already normalized ts to TIMESTAMP whatever the
    # parquet physical type, so epoch micros is one expression
    stream = stream.withColumn("us", F.unix_micros(F.col("ts")))

    gap_us = 1_800_000_000

    def track(key, pdf_iter, state: GroupState):
        n_events, n_sessions, last_us = (
            state.get if state.exists else (0, 0, None)
        )
        stamps = []
        for pdf in pdf_iter:
            stamps.extend(pdf.sort_values(["us", "event_id"])["us"].tolist())
        stamps.sort()
        for us in stamps:
            if last_us is None or us - last_us > gap_us:
                n_sessions += 1
            last_us = us
            n_events += 1
        state.update((n_events, n_sessions, last_us))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n_events], "n_sessions": [n_sessions]}
        )

    out = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, n_sessions long",
            stateStructType="n_events long, n_sessions long, last_us long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # update-mode memory sink may hold one row per state update; keep the
    # final state per user
    return (
        _drain(out, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("n_sessions").alias("n_sessions"),
        )
    )


def enrich_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream enriched against a batch
    dimension (customer), then aggregated per market segment — the
    canonical streaming-ETL shape (dimension broadcast into every
    micro-batch; no state, no watermark needed for inner stream-static
    joins). Finite feed ⇒ equals the batch join, which the oracle
    checks."""
    stream = _events_stream(spark, sf_dir)
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("total_value")
    )
    return _drain(agg, "complete")


register(
    "streaming_enrich_join",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events, round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)(enrich_join_stream)


def _click_purchase_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """Stream-STREAM click→purchase attribution join of type ``how``
    (``inner``, ``leftOuter``, ``fullOuter`` or ``leftSemi``): a
    purchase matches every click by the same user in the preceding 30
    minutes. BOTH sides are unbounded, so Spark buffers each side in
    state keyed by user, and the time-range predicate plus the two
    1-hour watermarks bound how long a row is held (state eviction, the
    thing that makes the join runnable forever at 100 TB/day). Each
    watermark sits after its event-type filter, so it advances off that
    side's own max event time. The append-mode sink is drained with
    ``processAllAvailable``; what each join type emits by then — and so
    what its oracle replays — is noted at its registration below.
    Columns: (user_id, click_at[, purchase_at])."""
    stream = _events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 minutes"))
    )
    sink = _drain(clicks.join(purchases, cond, how), "append")
    user = F.coalesce(F.col("c_user"), F.col("p_user")) if how == "fullOuter" else F.col("c_user")
    cols = [user.alias("user_id"), F.date_format("click_ts", _TS).alias("click_at")]
    if how != "leftSemi":
        cols.append(F.date_format("purchase_ts", _TS).alias("purchase_at"))
    return sink.select(*cols)


# Inner: matches emit as soon as both sides arrive, so the drained
# finite feed yields exactly the batch range-join answer.
stream_stream_join = register(
    "streaming_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_at,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_at
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)(functools.partial(_click_purchase_join, how="inner"))


# Left outer — clicks that never converted too. A null-extended row for
# a click may only emit once the join state KNOWS no purchase can still
# arrive: when the click's entire 30-minute match window has passed the
# watermark and its state is evicted (Spark emits these in the no-data
# micro-batch that follows the feed). Clicks whose window is still open
# when the feed drains stay buffered and produce NO row, so this is NOT
# the batch left join: the oracle replays the eviction rule — matches,
# plus null rows only for unmatched clicks with click_ts + 30 min < the
# final JOINT watermark, the MIN across the two watermark operators:
# least(max click_ts, max purchase_ts) − 1 h (verified empirically:
# using max over ALL events over-emits one null row for the final click
# at sf0.001).
stream_stream_left_outer_join = register(
    "streaming_stream_stream_left_outer",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                    - INTERVAL 1 HOUR AS w),
    m AS (
      SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
    u AS (
      SELECT c.user_id, c.ts AS click_ts
      FROM c
      WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        AND c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm))
    SELECT user_id,
           strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_at,
           strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_at
    FROM m
    UNION ALL
    SELECT user_id, strftime(click_ts, '%Y-%m-%d %H:%M:%S'), NULL FROM u
    """,
)(functools.partial(_click_purchase_join, how="leftOuter"))


# Full outer — both unmatched sides surface, each under its OWN eviction
# rule (the asymmetry is the point): an unconverted click emits null
# once its entire 30-minute match window passes the joint watermark
# (click_ts + 30 min < wm, as in the left-outer form), but an orphan
# purchase only needs the watermark to pass its own timestamp
# (purchase_ts < wm) — every click that could still match it (click_ts
# ∈ [purchase_ts − 30 min, purchase_ts]) has then provably arrived. The
# oracle replays both rules against the min-of-sides final watermark.
stream_stream_full_outer_join = register(
    "streaming_stream_stream_full_outer",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
                    - INTERVAL 1 HOUR AS w),
    m AS (
      SELECT c.user_id, c.ts AS click_ts, p.ts AS purchase_ts
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
    uc AS (
      SELECT c.user_id, c.ts AS click_ts
      FROM c
      WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        AND c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)),
    up AS (
      SELECT p.user_id, p.ts AS purchase_ts
      FROM p
      WHERE NOT EXISTS (
              SELECT 1 FROM c
              WHERE c.user_id = p.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        AND p.ts < (SELECT w FROM wm))
    SELECT user_id,
           strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_at,
           strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_at
    FROM m
    UNION ALL
    SELECT user_id, strftime(click_ts, '%Y-%m-%d %H:%M:%S'), NULL FROM uc
    UNION ALL
    SELECT user_id, NULL, strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') FROM up
    """,
)(functools.partial(_click_purchase_join, how="fullOuter"))


# Left semi — converted clicks only: a click emits (once, without
# purchase columns) as soon as SOME purchase in its 30-minute window
# arrives, and state still evicts on the same dual watermarks. Distinct
# from the inner form in both output shape (no row multiplication per
# matching purchase) and state behavior (a matched click can be dropped
# immediately). Finite feed ⇒ equals the batch EXISTS, which needs no
# watermark modeling in the oracle — unmatched clicks simply never emit.
stream_stream_semi_join = register(
    "streaming_stream_stream_semi",
    oracle="""
    SELECT c.user_id, strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_at
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (SELECT 1 FROM events p
                  WHERE p.event_type = 'purchase'
                    AND p.user_id = c.user_id
                    AND p.ts >= c.ts
                    AND p.ts <= c.ts + INTERVAL 30 MINUTE)
    """,
)(functools.partial(_click_purchase_join, how="leftSemi"))


def sliding_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING event-time windows (2-hour window, 1-hour slide): every
    event lands in exactly two overlapping windows — the
    moving-aggregate view a monitoring pipeline reads. Complete mode +
    finite feed ⇒ equals the batch expansion the oracle runs (each
    event duplicated into its two window starts)."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    return _drain(agg, "complete").select(
        F.date_format(F.col("window.start"), _TS).alias("window_start"),
        "n",
        "total_value",
    )


register(
    "streaming_sliding_counts",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM (SELECT value,
                 unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                         date_trunc('hour', ts)]) AS ws
          FROM events)
    GROUP BY ws
    """,
)(sliding_window_stream)


def dedup_within_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEDUPLICATION: dropDuplicatesWithinWatermark on
    (user_id, event_type) — the stream-side twin of exact dedup, with
    state bounded by the watermark instead of growing forever (the
    plain dropDuplicates alternative keys state on every value seen).
    Each first occurrence is emitted immediately (dedup is a filter,
    not an aggregation, so append mode never holds rows back); with the
    finite file feed every duplicate arrives inside the watermark, so
    the output is exactly the batch DISTINCT — which the oracle checks."""
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _drain(deduped, "append")


register(
    "streaming_dedup_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)(dedup_within_watermark_stream)


def _make_upsert_merge(spark: SparkSession, store_base: str):
    """Build the idempotent foreachBatch merge for the per-user running
    state store (n_events, last_ts, total_value).

    The exactly-once recipe on plain object storage, in three rules:
    (1) each micro-batch is pre-aggregated to one row per key (the only
    corpus-sized work, map-side combinable); (2) the store update is
    read-current → full-outer merge → write-NEW-version → atomically
    repoint, never in-place mutation; (3) the applied batch_id set is
    versioned WITH the store, so a redelivered batch (failure/retry
    replay) is detected and skipped — applying it twice would
    double-count. Returns ``merge(batch_df, batch_id)``."""
    import json

    pointer = os.path.join(store_base, "CURRENT")

    def current() -> dict | None:
        if not os.path.exists(pointer):
            return None
        with open(pointer) as fh:
            return json.load(fh)

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        cur = current()
        applied = set(cur["applied"]) if cur else set()
        if batch_id in applied:
            return  # redelivered batch: already folded in, skip
        part = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.sum("value").alias("total_value"),
        )
        if cur is not None:
            old = batch_df.sparkSession.read.parquet(
                os.path.join(store_base, cur["version"])
            )
            o, p = old.alias("o"), part.alias("p")
            part = o.join(p, F.col("o.user_id") == F.col("p.user_id"), "full_outer").select(
                F.coalesce(F.col("o.user_id"), F.col("p.user_id")).alias("user_id"),
                (
                    F.coalesce(F.col("o.n_events"), F.lit(0))
                    + F.coalesce(F.col("p.n_events"), F.lit(0))
                ).alias("n_events"),
                F.greatest(F.col("o.last_ts"), F.col("p.last_ts")).alias("last_ts"),
                (
                    F.coalesce(F.col("o.total_value"), F.lit(0.0))
                    + F.coalesce(F.col("p.total_value"), F.lit(0.0))
                ).alias("last_total"),
            ).withColumnRenamed("last_total", "total_value")
        version = f"v{batch_id}_{len(applied)}"
        part.write.mode("overwrite").parquet(os.path.join(store_base, version))
        # atomic repoint = the commit
        index_store.publish_json(
            pointer, {"version": version, "applied": sorted(applied | {batch_id})}
        )

    merge.current = current  # type: ignore[attr-defined]
    return merge


def foreach_batch_upsert_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch EXACTLY-ONCE upsert — the sink pattern for keyed
    state on storage with no transactional table format: the event feed
    is split into 4 files and streamed one file per micro-batch
    (``maxFilesPerTrigger=1`` + ``availableNow``), and every batch is
    folded into a per-user running store (event count, last event time,
    value total) through the versioned merge of ``_make_upsert_merge``
    — idempotent under batch redelivery (pinned by
    tests/test_streaming.py). The merge is commutative and associative,
    so ANY batch arrival order yields the batch answer, which the
    oracle checks. At 100 TB: per-batch work is one partial+final agg
    of the batch plus a |keys|-sized merge join; the store is the
    fact-sized side only when the key space is, and then it's a
    bucketed table."""
    base = _scratch_dir("fbupsert", sf_dir)
    store = os.path.join(base, "store")
    merge = _make_upsert_merge(spark, store)
    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    _drain_feed(events, base, 4, merge)
    final = spark.read.parquet(os.path.join(store, merge.current()["version"]))
    return final.select(
        "user_id",
        "n_events",
        F.date_format(F.col("last_ts"), _TS).alias("last_ts"),
        F.round(F.col("total_value"), 2).alias("total_value"),
    )


register(
    "streaming_foreach_batch_upsert",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY user_id
    """,
)(foreach_batch_upsert_stream)


def _protobuf_available() -> bool:
    """transformWithStateInPandas requires google.protobuf (Spark's
    state-server protocol runs INSIDE the python workers). The package
    __init__ already exposed the vendored minimal runtime
    (`mapreduce_itwiki_spark/_vendor`, proto3 wire format sufficient
    for StateMessage) on sys.path AND $PYTHONPATH at import time — the
    env export must precede JVM launch because the tws driver worker is
    a separate process built from the JVM's environment. This gate just
    confirms SOME protobuf (real or vendored) resolves."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_stats_tws_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's transformWithStateInPandas — the successor API to
    applyInPandasWithState (typed state variables via a
    StatefulProcessorHandle, timers, composite state). Per-user running
    (count, value-sum) kept in a ValueState; finite feed ⇒ the final
    emission per user equals the batch aggregate the oracle computes."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    # tws keeps each state variable in its own column family, which the
    # default HDFS-backed provider rejects; RocksDB (bundled with Spark
    # 4) is the supported provider. Runtime conf so the driver's vanilla
    # session gets it too (same pattern as the timestamp confs).
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = _events_stream(spark, sf_dir)

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n LONG, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self._agg.get() if self._agg.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    out = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningStats(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )
    # update-mode sink: keep each user's final (largest-n) emission
    return _drain(out, "update").groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.round(F.max_by("total_value", "n_events"), 2).alias("total_value"),
    )


if _protobuf_available():  # container lacks protobuf; see _protobuf_available
    register(
        "streaming_running_stats_tws",
        oracle="""
        SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM events GROUP BY user_id
        """,
    )(running_stats_tws_stream)


register(
    "streaming_sessionize_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events, CAST(sum(brk) AS BIGINT) AS n_sessions
    FROM (
      SELECT user_id,
             CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM (
        SELECT user_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                 AS prev_us
        FROM events))
    GROUP BY user_id
    """,
)(sessionize_stream)


def chained_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators (Spark >= 3.4): a 10-minute windowed
    count re-aggregated into an hourly rollup (max + sum of the 10-min
    counts per event_type) INSIDE one streaming query — two stateful
    window aggregations back to back, the shape that used to require
    two jobs with an intermediate sink. The second groupBy windows over
    the FIRST window's struct column (`F.window(w10, "1 hour")`), which
    is what makes operator chaining legal in append mode.

    Append-mode semantics are part of the contract: a window emits only
    once the watermark (max event time − delay; delay 0 here) passes
    its END, so the trailing partial hour of the feed never emits — the
    oracle replays exactly that visibility rule with
    `hour_end <= max(ts)` rather than pretending the batch answer and
    the streaming answer coincide. At 100 TB-equivalent event rates
    this chaining halves the state-store traffic vs two queries and
    needs no intermediate topic/table."""
    stream = _events_stream(spark, sf_dir)
    ten = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "10 minutes").alias("w10"), "event_type")
        .agg(F.count(F.lit(1)).alias("n10"))
    )
    hourly = (
        ten.groupBy(F.window(F.col("w10"), "1 hour").alias("w60"), "event_type")
        .agg(F.max("n10").alias("max_10min_n"), F.sum("n10").alias("n_total"))
    )
    return _drain(hourly, "append").select(
        F.date_format("w60.start", _TS).alias("hour_bucket"),
        "event_type",
        "max_10min_n",
        "n_total",
    )


register(
    "streaming_chained_windows",
    # the WHERE clause is the append-mode visibility rule: a window is
    # emitted once the final watermark (= max event time, delay 0)
    # passes its end — the trailing partial hour stays in state
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    t10 AS (SELECT time_bucket(INTERVAL '10 minutes', ts) AS b10, event_type,
                   count(*) AS n10
            FROM events GROUP BY 1, 2)
    SELECT strftime(time_bucket(INTERVAL '1 hour', b10), '%Y-%m-%d %H:%M:%S')
             AS hour_bucket,
           event_type, max(n10) AS max_10min_n,
           CAST(sum(n10) AS BIGINT) AS n_total
    FROM t10
    WHERE time_bucket(INTERVAL '1 hour', b10) + INTERVAL '1 hour'
            <= (SELECT m FROM mx)
    GROUP BY 1, 2
    """,
)(chained_window_stream)


def seasonal_anomaly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC anomaly scoring — the deployment shape of
    seasonal_hour_anomaly (plans/ml_features.py): the hour-of-day
    baseline (μ, σ) is fitted in BATCH over the history table,
    broadcast into the stream, and each arriving event's residual
    z-score is flagged beyond 3σ; the streaming agg rolls anomaly
    counts up per hour-of-day. This is the canonical
    model-trained-offline / scored-online split: the 24-row baseline
    is a broadcast stream-static join (no stream-side state), the
    rollup a complete-mode aggregation. Same rounding discipline as
    the batch twin, so the finite file feed drains to the exact batch
    answer."""
    stream = _events_stream(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events")
    g = batch.groupBy(F.hour("ts").alias("hod")).agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sd"),
    )
    z = F.round(
        (F.col("value") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)), 6
    )
    # coalesce: a zero-variance hour yields z=NULL (guarded divisor) on
    # both engines; the rollup counts it as not-anomalous, matching the
    # oracle's CASE ... ELSE 0
    enriched = (
        stream.withColumn("hod", F.hour("ts"))
        .join(F.broadcast(g), "hod")
        .withColumn(
            "is_anom", F.coalesce((F.abs(z) > 3.0).cast("int"), F.lit(0))
        )
    )
    agg = enriched.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("is_anom").cast("long").alias("n_anomalies"),
    )
    return _drain(agg, "complete").select(
        F.col("hod").cast("int").alias("hod"), "n_events", "n_anomalies"
    )


register(
    "streaming_seasonal_anomaly",
    oracle="""
    WITH g AS (
      SELECT date_part('hour', ts) AS hod,
             round(avg(value), 6) AS mu,
             round(stddev_pop(value), 6) AS sd
      FROM events GROUP BY 1)
    SELECT CAST(e.hod AS INTEGER) AS hod,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs(round((e.value - g.mu) / nullif(g.sd, 0), 6))
                              > 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM (SELECT date_part('hour', ts) AS hod, value FROM events) e
    JOIN g ON g.hod = e.hod
    GROUP BY 1
    """,
)(seasonal_anomaly_stream)


def neardup_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest NEAR-DUP screening against the PERSISTED corpus
    minhash index — the streaming lift of neardup_incremental_index,
    and the shape a 100 TB ingest pipeline actually runs: documents
    arrive as a stream (here: the new-batch half of the documents table
    split into 3 files, one micro-batch each via maxFilesPerTrigger=1 +
    availableNow), and every micro-batch probes the index through
    foreachBatch — batch-sized MinHash hashing, a driver-derived pkey
    IN-list (static partition pruning of the index), the frozen ``bsz``
    hot-bucket cap as a pushed predicate, and a broadcast of the batch
    band rows (zero corpus shuffles per batch) — appending one verdict
    row per ingested doc: (doc_id, n_corpus_candidates,
    neardup_of_corpus). Per-doc verdicts depend only on the persisted
    index, never on co-batched docs, so the drained result is
    batch-partitioning-invariant and equals the batch answer — which is
    exactly what the oracle checks. Nothing is appended to the index,
    so the idempotent verdict write needs no done-marker."""
    from ..operators import dedup as D
    from ..plans.llm_pipeline import _ensure_minhash_index, _mh_split

    idx_path = _ensure_minhash_index(spark, sf_dir)
    base = _scratch_dir("ndingest", sf_dir)
    out = os.path.join(base, "out")
    batch_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") >= _mh_split(spark, sf_dir))
        .select("doc_id", "text")
    )

    def probe(bdf: DataFrame, batch_id: int) -> None:
        cands = D.neardup_candidates_against_index(spark, idx_path, bdf)
        verdicts = _candidate_verdicts(bdf.select("doc_id"), cands, "doc_b")
        _write_verdicts(
            verdicts.withColumn("neardup_of_corpus", F.col("n_corpus_candidates") > 0),
            out, batch_id, "doc_id",
        )

    _drain_feed(batch_docs, base, 3, probe)
    return spark.read.parquet(out).drop("batch_id")


def _neardup_ingest_oracle() -> str:
    from ..operators import dedup
    from ..plans.llm_pipeline import (
        _BANDS_UNION,
        _MH_SPLIT_SQL,
        _SHINGLES,
        _SIG_AGREE,
        _SIG_EXPRS,
    )

    return f"""
    WITH sp AS ({_MH_SPLIT_SQL}),
    sh AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    sig AS (SELECT doc_id, {_SIG_EXPRS} FROM sh),
    bands AS ({_BANDS_UNION}),
    cbf AS (
      SELECT doc_id, band_id, band_key
      FROM (SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS bsz
            FROM bands WHERE doc_id < (SELECT s FROM sp))
      WHERE bsz <= {dedup.MINHASH_MAX_BUCKET}),
    qb AS (SELECT doc_id, band_id, band_key FROM bands
           WHERE doc_id >= (SELECT s FROM sp)),
    cand AS (
      SELECT DISTINCT c.doc_id AS da, q.doc_id AS db
      FROM cbf c JOIN qb q
        ON c.band_id = q.band_id AND c.band_key = q.band_key
      JOIN sig sa ON sa.doc_id = c.doc_id
      JOIN sig sb ON sb.doc_id = q.doc_id
      WHERE c.doc_id <> q.doc_id
        AND ({_SIG_AGREE}) >= {dedup.MINHASH_MIN_AGREE}),
    roll AS (SELECT db, count(*) AS n FROM cand GROUP BY 1)
    SELECT d.doc_id, CAST(coalesce(r.n, 0) AS BIGINT) AS n_corpus_candidates,
           coalesce(r.n, 0) > 0 AS neardup_of_corpus
    FROM (SELECT doc_id FROM documents WHERE doc_id >= (SELECT s FROM sp)) d
    LEFT JOIN roll r ON r.db = d.doc_id
    """


register("streaming_neardup_ingest", oracle=_neardup_ingest_oracle())(
    neardup_ingest_stream
)


def _ingest_callback(
    spark: SparkSession,
    kind: str,
    idx: str,
    out: str,
    done_dir: str,
    corpus: DataFrame,
    corpus_max_id: int,
):
    """The foreachBatch callback that keeps the persisted vector index
    at ``idx`` fresh — ``kind`` is its manifest kind, ``lsh`` (banded
    ANN index) or ``ivfpq`` (compressed codes) — as a factory, so the
    redelivery contract is unit-testable. Per (batch_df, batch_id):

    1. a batch whose done-marker exists is a redelivery of a completed
       batch: no-op;
    2. compute the verdicts, (vec_id, n_corpus_candidates,
       nearest_corpus_cosine), restricted to corpus ids ≤
       ``corpus_max_id`` so they never depend on appended vectors;
    3. write them exactly once (:func:`_write_verdicts`);
    4. run the tier's append — a blind parquet append, which a re-fired
       completed batch would double;
    5. write the marker LAST.

    A crash between the append and the marker replays the batch whole:
    the verdict overwrite absorbs the replay, and the append re-runs.
    Closing that window needs the stage-to-batch_id-prefix +
    atomic-commit pattern a production object-store deployment would
    use. ``corpus`` is the float corpus the IVF-PQ tier reranks
    against; the LSH tier reads candidate floats from its own rows."""
    from ..operators import similarity as S

    def lsh_verdicts(bdf: DataFrame) -> DataFrame:
        cands = S.ann_candidates_against_index(
            spark, idx, bdf, corpus_max_id=corpus_max_id
        )
        return _candidate_verdicts(
            bdf.select("vec_id"), cands, "qid",
            F.max("cosine").alias("nearest_corpus_cosine"),
        )

    def ivfpq_verdicts(bdf: DataFrame) -> DataFrame:
        return S.ivfpq_probe_batch(
            spark, idx, bdf, corpus, corpus_max_id=corpus_max_id
        ).withColumnRenamed("qid", "vec_id")

    verdicts, append = {
        "lsh": (lsh_verdicts, S.ann_index_append),
        "ivfpq": (ivfpq_verdicts, S.ivfpq_index_append),
    }[kind]

    def probe_and_append(bdf: DataFrame, batch_id: int) -> None:
        marker = os.path.join(done_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return
        _write_verdicts(verdicts(bdf), out, batch_id, "vec_id")
        append(spark, idx, bdf)
        os.makedirs(done_dir, exist_ok=True)
        open(marker, "w").close()

    return probe_and_append


def _vector_ingest(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """The vector-ingest entries on the ``kind`` tier: index the corpus
    (vec_ids below the split), then stream the top-quarter vec_ids in
    as 3 files, one micro-batch each, through :func:`_ingest_callback`;
    returns the drained verdicts."""
    from ..operators import similarity as S
    from ..plans.llm_pipeline import _vec_split

    s = _vec_split(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") < s)
    idx = _scratch_dir(f"{kind}in_idx", sf_dir)
    {"lsh": S.ann_index_write, "ivfpq": S.ivfpq_index_write}[kind](corpus, idx)
    base = _scratch_dir(f"{kind}in", sf_dir)
    out = os.path.join(base, "out")
    callback = _ingest_callback(
        spark, kind, idx, out, os.path.join(base, "done"), corpus, s - 1
    )
    batch = emb.filter(F.col("vec_id") >= s).select("vec_id", "embedding")
    _drain_feed(batch, base, 3, callback)
    return spark.read.parquet(out).drop("batch_id")


def ann_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming VECTOR ingest against the persisted ANN index — the
    embedding twin of neardup_ingest_stream, and the shape that keeps a
    100 TB vector index fresh: new embeddings arrive as a stream (the
    top-quarter vec_ids split into 3 files, one micro-batch each), and
    every micro-batch through foreachBatch (1) probes the index for its
    corpus near-neighbors — batch-sized band hashing, driver-derived
    pkey IN-list (static partition pruning), per-bucket work bounded by
    the PROBE_CAP candidate budget (each bucket's md5-first ≤ cap
    members — see ann_candidates_against_index for why a bucket-count
    skip rule would collapse here), candidate embeddings read from the index
    rows themselves (the corpus table is never touched) — and (2)
    APPENDS its own band rows under the two-phase shard rule
    (operators/similarity.py:ann_index_append), so the index the NEXT
    day's batches probe already contains today's vectors. Verdicts are
    restricted to corpus ids, so they depend only on the frozen corpus
    index, never on co-batched or earlier-streamed vectors — the
    drained result is batch-partitioning-invariant and equals the batch
    answer, which is what the oracle checks; the appends' correctness
    is pinned by the ann_index_append unit invariants, and their
    redelivery safety by the ingest-callback test. Columns:
    (vec_id, n_corpus_candidates, nearest_corpus_cosine)."""
    return _vector_ingest(spark, sf_dir, "lsh")


def _ann_ingest_oracle() -> str:
    from ..operators.similarity import PROBE_CAP
    from ..plans.llm_pipeline import (
        _BITS_SQL,
        _VEC_BANDS_SQL,
        _VEC_CORP_CAPPED_SQL,
        _VEC_SPLIT_SQL,
    )

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      {_BITS_SQL} AS bits FROM embeddings),
    sp AS ({_VEC_SPLIT_SQL}),
    bands AS ({_VEC_BANDS_SQL}),
    corp AS ({_VEC_CORP_CAPPED_SQL}),
    qb AS (SELECT vec_id, band_id, band_key FROM bands
           WHERE vec_id >= (SELECT s FROM sp)),
    cand AS (SELECT DISTINCT q.vec_id AS qid, c.vec_id AS cid
             FROM corp c
             JOIN qb q ON c.band_id = q.band_id
                      AND c.band_key = q.band_key
             WHERE c.rn <= {PROBE_CAP}),
    scored AS (SELECT cand.qid,
                      round(list_dot_product(a.v, b.v) /
                            (sqrt(list_dot_product(a.v, a.v)) *
                             sqrt(list_dot_product(b.v, b.v))), 6) AS cos
               FROM cand
               JOIN e a ON a.vec_id = cand.qid
               JOIN e b ON b.vec_id = cand.cid),
    roll AS (SELECT qid, count(*) AS n_corpus_candidates,
                    max(cos) AS nearest_corpus_cosine
             FROM scored GROUP BY qid)
    SELECT nb.vec_id,
           COALESCE(r.n_corpus_candidates, 0) AS n_corpus_candidates,
           r.nearest_corpus_cosine
    FROM (SELECT DISTINCT vec_id FROM qb) nb
    LEFT JOIN roll r ON r.qid = nb.vec_id
    """


register("streaming_ann_ingest", oracle=_ann_ingest_oracle())(ann_ingest_stream)


def ivfpq_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector ingest against the persisted IVF-PQ index —
    the COMPRESSED-tier twin of ann_ingest_stream, and the shape a
    100 TB deployment actually runs once the float index no longer
    fits its storage budget: the corpus lives as PQ_M-byte codes
    partitioned by cell, new embeddings stream in (top-quarter vec_ids,
    3 files, one micro-batch each), and every micro-batch through
    foreachBatch (1) probes the code index for its nearest corpus
    neighbor — nprobe cells per query against the broadcast centroids,
    each probed cell's md5-first PROBE_CAP members ADC-scored from
    their byte codes, the per-query ADC-top shortlist exact-reranked
    via a rerank-bounded semi-join of the corpus floats
    (operators/similarity.py:ivfpq_probe_batch) — and (2) APPENDS its
    own codes under the frozen quantizers
    (similarity.ivfpq_index_append), so tomorrow's batches probe an
    index that already contains today's vectors. Verdicts are
    corpus-restricted (batch-partitioning-invariant, which is what the
    oracle replays); appends are idempotent per batch_id (the marker
    rule of :func:`_ingest_callback`). Columns: (vec_id,
    n_corpus_candidates, nearest_corpus_cosine)."""
    return _vector_ingest(spark, sf_dir, "ivfpq")


def _ivfpq_ingest_oracle() -> str:
    from ..operators.similarity import IVF_NPROBE, PQ_RERANK, PROBE_CAP
    from ..plans.llm_pipeline import _IVFPQ_INCR_CTES, _pq_subdist

    qdist = (
        "round(list_sum(list_transform(range(1, 65), "
        "i -> (qv.v[i] - c.cv[i]) * (qv.v[i] - c.cv[i]))), 6)"
    )
    return f"""
    {_IVFPQ_INCR_CTES},
    qv AS (SELECT vec_id AS qid, v FROM alle
           WHERE vec_id >= (SELECT s FROM sp)),
    probe AS (SELECT qid, cid AS cell FROM (
                SELECT qv.qid, c.cid,
                       row_number() OVER (PARTITION BY qv.qid
                           ORDER BY {qdist}, c.cid) AS rn
                FROM ivc1 c CROSS JOIN qv) WHERE rn <= {IVF_NPROBE}),
    crank AS (SELECT vec_id, cid AS cell,
                     row_number() OVER (PARTITION BY cid
                         ORDER BY md5(CAST(cid AS VARCHAR) || ':'
                                      || CAST(vec_id AS VARCHAR)),
                                  vec_id) AS crn
              FROM ivlists WHERE vec_id < (SELECT s FROM sp)),
    cand AS (SELECT p.qid, c.vec_id FROM crank c JOIN probe p USING (cell)
             WHERE c.crn <= {PROBE_CAP}),
    qs AS (SELECT vec_id AS qid, s, sv FROM sub
           WHERE vec_id >= (SELECT s FROM sp)),
    dt AS (SELECT qs.qid, c.s, c.cid,
                  CAST(round({_pq_subdist('qs')} * 1000000.0) AS BIGINT) AS dti
           FROM c1 c JOIN qs ON c.s = qs.s),
    adc AS (SELECT cand.qid, cand.vec_id, sum(dti) AS adc
            FROM cand JOIN enc ON enc.vec_id = cand.vec_id
            JOIN dt ON dt.qid = cand.qid AND dt.s = enc.s AND dt.cid = enc.cid
            GROUP BY cand.qid, cand.vec_id),
    short AS (SELECT qid, vec_id FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY adc, vec_id) AS rn
                FROM adc) WHERE rn <= {PQ_RERANK}),
    scored AS (SELECT short.qid,
                      round(list_dot_product(a.v, q.v) /
                            (sqrt(list_dot_product(a.v, a.v)) *
                             sqrt(list_dot_product(q.v, q.v))), 6) AS cos
               FROM short
               JOIN alle a ON a.vec_id = short.vec_id
               JOIN qv q ON q.qid = short.qid),
    ncand AS (SELECT qid, count(DISTINCT vec_id) AS n_corpus_candidates
              FROM cand GROUP BY qid),
    best AS (SELECT qid, max(cos) AS nearest_corpus_cosine
             FROM scored GROUP BY qid)
    SELECT q.qid AS vec_id,
           COALESCE(n.n_corpus_candidates, 0) AS n_corpus_candidates,
           b.nearest_corpus_cosine
    FROM (SELECT DISTINCT qid FROM qv) q
    LEFT JOIN ncand n ON n.qid = q.qid
    LEFT JOIN best b ON b.qid = q.qid
    """


register("streaming_ivfpq_ingest", oracle=_ivfpq_ingest_oracle())(
    ivfpq_ingest_stream
)
