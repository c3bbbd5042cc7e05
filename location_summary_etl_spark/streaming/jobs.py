"""Structured Streaming jobs (extension -- the reference is batch-only,
SURVEY §2.D).

Same event-time semantics as the batch formulations in
``operators/windows.py``, expressed with the native streaming
primitives: ``readStream`` -> ``withWatermark`` -> windowed agg /
``applyInPandasWithState`` -> sink. Tests drive these with the parquet
events table as a bounded stream (``processAllAvailable`` drains it
synchronously), which exercises exactly the operators a Kafka-backed
deployment would run.

Watermarks bound state: a 30-minute watermark means window state older
than (max event time - 30 min) is evicted, so state size tracks the
window span, not the stream length -- the property that keeps these
jobs viable on an unbounded 100 TB/day stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from location_summary_etl_spark.functions.scalars import fixed_units
from pyspark.sql import types as T

from location_summary_etl_spark.sources.registry import table_path

# Streaming reads need an explicit schema (no inference): the physical
# parquet schema (ts is naive TIMESTAMP(MICROS) -> TIMESTAMP_NTZ, same
# as the batch registry in sources/registry.py).
EVENTS_PHYSICAL_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampNTZType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded parquet-backed stream of the events table.

    Watermarks reject TIMESTAMP_NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE),
    so the naive parquet timestamp is cast to session-time TIMESTAMP --
    an identity on the wall clock under the pinned UTC session, keeping
    window boundaries identical to the batch (NTZ) plans."""
    # FileStreamSource needs a directory; filter to the events file.
    raw = (
        spark.readStream.schema(EVENTS_PHYSICAL_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts_stream(events: DataFrame,
                           window: str = "10 minutes",
                           watermark: str = "30 minutes") -> DataFrame:
    """Watermarked tumbling-window counts per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        # exact cents into the streaming state (fixed-point policy,
        # functions/scalars.py): incremental micro-batch merges add
        # longs, so the drained state is byte-stable across replays
        # and batch/stream parity is structural, not float luck
        .agg(F.count("*").alias("n_events"),
             F.sum(fixed_units("value", 2)).alias("_sv"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n_events",
            (F.col("_sv") / F.lit(100.0)).alias("sum_value"),
        )
    )


def session_stats_stream(events: DataFrame,
                         gap: str = "30 minutes") -> DataFrame:
    """Native streaming session windows (gap-based), per user."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


USER_STATS_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, max_value double"
)


def user_running_stats_stream(events: DataFrame,
                              watermark: str = "1 hour") -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, sum, max) over the whole stream.

    This is the escape hatch for aggregation logic the built-in windowed
    aggs can't express (here deliberately simple so the test can verify
    it against a batch groupBy).  State per key is a 3-tuple of scalars;
    the state store shuffles by user_id once and each micro-batch folds
    its rows into the existing state -- O(|keys|) state, O(batch) work,
    the shape that survives an unbounded stream.

    STATE-SCHEMA COMPATIBILITY: the state tuple changed in r11 from
    ``(n bigint, total double, mx double)`` to the integer-cents form
    ``(n bigint, cents bigint, mx double)``.  A checkpoint written by
    the old schema CANNOT be restored by this operator (Spark fails
    the state-schema check, or on stores without schema validation
    silently misreads the second field) -- deploying this version
    against a live stream requires a FRESH checkpoint location (or an
    offline state rewrite multiplying ``total`` by 100).  The repo's
    own streaming entries build fresh checkpoints per run, so only
    external deployments are affected.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        # the running total is EXACT INTEGER CENTS (fixed-point
        # policy, functions/scalars.py): a float state fold accretes
        # error in micro-batch arrival order, so two replays of the
        # same stream could emit different last digits -- integer
        # state makes the fold order-free and replay-stable
        n, cents, mx = state.get if state.exists else (0, 0, float("-inf"))
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            cents += int(pdf["value"].mul(100).round()
                         .astype("int64").sum())
            mx = max(mx, float(pdf["value"].max()))
        state.update((n, cents, mx))
        yield pd.DataFrame({
            "user_id": [user_id], "n_events": [n],
            "total_value": [cents / 100.0], "max_value": [mx],
        })

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=USER_STATS_SCHEMA,
            stateStructType="n bigint, cents bigint, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_events_stream(events: DataFrame,
                        watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on event_id: dropDuplicates scoped by a
    watermark, so the dedup state retains only ids newer than
    (max event time - watermark) instead of growing with the stream --
    the standard at-least-once -> effectively-once repair on an
    unbounded ingest."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def purchase_view_join_stream(events: DataFrame,
                              band: str = "10 minutes",
                              watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream self-join: each purchase paired with the same
    user's views in the ``band`` before it (the streaming form of the
    batch ``events_interval_join``, corpus_pipeline.py).

    Both sides carry a watermark and the join condition includes a
    time RANGE on the two event-time columns -- that pair is what lets
    Spark compute a state-eviction bound: a buffered view can be
    dropped once the purchase-side watermark passes (v_ts + band), so
    join state tracks the band + watermark span, not the stream
    length.  Without the range condition, both sides buffer forever --
    the difference between a job that runs for months and one that
    OOMs in an hour on an unbounded ingest."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", watermark)
    )
    return purchases.join(
        views,
        (purchases["user_id"] == views["v_user"])
        & (views["v_ts"] >= purchases["p_ts"] - F.expr(f"INTERVAL {band}"))
        & (views["v_ts"] < purchases["p_ts"]),
        "inner",
    ).select("event_id", "user_id", "p_ts", "v_ts")


def purchase_view_left_join_stream(events: DataFrame,
                                   band: str = "10 minutes",
                                   watermark: str = "30 minutes"
                                   ) -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase is emitted, with
    NULL ``v_ts`` when no view preceded it in the band.

    Outer stream-stream joins are the strictly harder stateful case:
    an unmatched left row cannot be emitted when it arrives -- a
    matching view may still come -- so the engine holds it in state
    and emits the NULL-padded row only once the watermark proves no
    match can appear.  The same watermark + time-range pair that
    bounds inner-join state is what makes the NULL emission *correct*
    here, not just space-bounded; without them Spark rejects the
    outer join outright (UNSUPPORTED_OPERATION)."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", watermark)
    )
    return purchases.join(
        views,
        (purchases["user_id"] == views["v_user"])
        & (views["v_ts"] >= purchases["p_ts"] - F.expr(f"INTERVAL {band}"))
        & (views["v_ts"] < purchases["p_ts"]),
        "leftOuter",
    ).select("event_id", "user_id", "p_ts", "v_ts")


def enrich_events_stream(events: DataFrame, customer: DataFrame,
                         window: str = "10 minutes",
                         watermark: str = "30 minutes") -> DataFrame:
    """Stream-static enrichment: join the event stream against a
    (batch) dimension, then aggregate per enriched attribute.  The
    static side is re-planned per micro-batch, so it must be BROADCAST
    -- a shuffled stream-static join would re-shuffle every micro-batch
    against a re-scanned dimension.  With the broadcast hint the stream
    side never shuffles for the join; only the windowed aggregate
    exchanges data.  (At warehouse scale the dimension is a slowly
    changing table; per-batch re-scan is what picks up its updates.)"""
    dim = F.broadcast(customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    return (
        events.join(dim, "user_id")            # inner: unknown users dropped
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "c_mktsegment")
        .agg(F.count("*").alias("n_events"),
             F.sum(fixed_units("value", 2)).alias("_sv"))
        .select(
            F.col("window.start").alias("window_start"),
            "c_mktsegment", "n_events",
            (F.col("_sv") / F.lit(100.0)).alias("sum_value"),
        )
    )


def foreach_batch_warehouse_append(stream_df: DataFrame, db_path: str,
                                   table: str, checkpoint_dir: str):
    """Exactly-once streaming APPEND into the external warehouse
    (sources/warehouse.py) via ``foreachBatch`` + transactional batch
    markers -- the streaming edition of the reference's warehouse
    append sink (App.scala:265-270).

    foreachBatch delivers each micro-batch AT LEAST once (checkpoint
    recovery replays the in-flight batch), so a bare append would
    duplicate rows on every recovery.  The duckwarehouse writer's
    ``batch_id`` option closes the gap at the sink: the commit
    transaction inserts (table, batch_id) into the warehouse's commit
    log IN THE SAME TRANSACTION as the data, and a replayed batch --
    same id, already logged -- commits nothing.  Marker and rows are
    atomic, so there is no crash window between "data landed" and
    "batch recorded"; this is the transactional-sink contract that
    upgrades at-least-once delivery to exactly-once effects, the same
    mechanism warehouse streaming sinks (Snowpipe Streaming, Delta
    txn ids) use.

    Append output mode: the upstream must be append-safe (watermarked
    aggregation or stateless projection).  Returns the started query.
    """

    def append(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.write.format("duckwarehouse")
            .option("path", db_path)
            .option("table", table)
            .option("batch_id", str(batch_id))
            .mode("append")
            .save()
        )

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(append)
        .start()
    )


def run_to_memory(stream_df: DataFrame, name: str,
                  mode: str | None = None) -> DataFrame:
    """Drain a bounded stream into an in-memory table; return the
    result as a batch DataFrame (test/driver harness).  ``mode``
    overrides the inferred output mode (stateful ops require
    'update')."""
    if mode is None:
        mode = "complete" if _has_agg(stream_df) else "append"
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().analyzed().toString()


def foreach_batch_upsert(stream_df: DataFrame, target_path: str,
                         checkpoint_dir: str,
                         partition_cols: list[str]):
    """Idempotent streaming upsert into a partitioned parquet table via
    ``foreachBatch`` + dynamic partition overwrite.

    Each micro-batch (update output mode: only the groups that changed)
    overwrites exactly the partitions it touches, so a replayed batch
    -- the at-least-once delivery case every checkpoint-recovery hits
    -- rewrites the same partitions with the same content instead of
    appending duplicates.  This is the exactly-once-effect pattern for
    sinks with no transactional commit (plain parquet): idempotence by
    keyed overwrite, the streaming analogue of
    ``sources/writers.write_summary``.

    CORRECTNESS REQUIREMENT: ``partition_cols`` must contain the FULL
    grouping key of the aggregation.  Update mode emits only changed
    groups; if a partition held several groups, overwriting it with
    the changed subset would drop the unchanged ones.  One group per
    partition makes overwrite == upsert.

    Returns the started StreamingQuery (caller drains/stops it).
    """

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_cols)
            .parquet(target_path)
        )

    return (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(upsert)
        .start()
    )


def foreach_batch_versioned_append(stream_df: DataFrame, table,
                                   checkpoint_dir: str):
    """Transactional streaming ingest into a lakehouse
    :class:`~location_summary_etl_spark.sources.versioned.VersionedTable`
    via ``foreachBatch`` -- the Delta-streaming-sink pattern, built on
    this repo's manifest commit instead of plain parquet.

    Exactly-once EFFECT on top of the engine's at-least-once
    ``foreachBatch`` delivery: every commit records its micro-batch id
    in the manifest's operation tag (``stream-append/<id>``), and a
    replayed batch -- the checkpoint-recovery case -- finds its id
    already committed and skips.  That is the txn-version idempotence
    Delta's ``txnAppId``/``txnVersion`` gives, reduced to what the
    manifest already stores.  Snapshot isolation does the rest: a
    reader planned mid-stream sees some committed prefix of batches,
    never a torn batch.

    Unlike :func:`foreach_batch_upsert` (keyed overwrite into plain
    parquet, update-mode aggregations), this sink is APPEND-mode
    ingest: rows flow in, every batch becomes one table version, and
    the table's history IS the ingest log.

    Returns the started StreamingQuery (caller drains/stops it)."""
    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(lambda b, i: versioned_append_batch(table, b, i))
        .start()
    )


def versioned_append_batch(table, batch: DataFrame, batch_id: int) -> None:
    """Commit one micro-batch as one table version, idempotently: the
    manifest operation tag carries the batch id, so a replayed
    (batch, id) pair -- at-least-once delivery after checkpoint
    recovery -- finds its tag in the history and skips.  Exposed
    separately from the sink so the replay contract is directly
    testable."""
    if batch.isEmpty():
        return
    op = f"stream-append/{batch_id}"
    if any(h["operation"] == op for h in table.history()):
        return
    table.commit(batch, mode="append", operation=op)


def user_running_stats_tws(events: DataFrame,
                           watermark: str = "1 hour") -> DataFrame:
    """Per-user running (count, sum, max) via ``transformWithStateInPandas``
    -- Spark 4's successor to ``applyInPandasWithState`` (timers, typed
    state variables, TTL, RocksDB-only state store).  Same semantics as
    :func:`user_running_stats_stream`, so the cross-check test compares
    both operators against one batch aggregate; the point of the second
    implementation is covering the new API's lifecycle (init/
    handleInputRows/close + ValueState) on a real stream.

    Requires the RocksDB state store provider (OSS transformWithState
    does not run on the HDFS-backed provider): set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``...state.RocksDBStateStoreProvider`` BEFORE starting the query.
    The conf is deliberately NOT set here -- a construction-time
    session-wide mutation would silently move every other streaming
    query in the session onto RocksDB, breaking restarts against
    checkpoints written with the default provider.  Also requires
    protobuf at run time (the operator's Python driver worker speaks
    the state-server protocol over it) -- declared by pyspark, absent
    from this sandbox, so the cross-check test import-skips here.
    """
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._stats = handle.getValueState(
                "stats", "n bigint, total double, mx double")

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            prev = self._stats.get()
            n, total, mx = prev if prev is not None else (0, 0.0, float("-inf"))
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                n += len(pdf)
                total += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
            self._stats.update((n, total, mx))
            yield pd.DataFrame({
                "user_id": [user_id], "n_events": [n],
                "total_value": [total], "max_value": [mx],
            })

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=RunningStats(),
            outputStructType=USER_STATS_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


def foreach_batch_indexed_ingest(stream_df: DataFrame, table, index_root,
                                 checkpoint_dir: str, *,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding",
                                 label_col: str = "label",
                                 rebuild_fraction: float = 0.2,
                                 compact_files: int | None = 64,
                                 refresh_every: int = 1):
    """Continuously-indexed corpus: every micro-batch is (1) committed
    to the base :class:`VersionedTable` under
    :func:`versioned_append_batch`'s exactly-once-effect contract,
    then (2) folded into the persisted ANN index with
    :func:`~location_summary_etl_spark.operators.ann_index.refresh_ivf_index`
    -- CDC delta, file-granular inverted-file merge, touched-cell
    centroid recompute.  The index must exist (built with
    ``base_version=`` pinned) before the stream starts.

    Crash-safety is COMPOSITION, not coupling: the batch commit and
    the index refresh are separate manifest transactions.  A crash
    between them leaves the index one generation behind -- exactly the
    state the next batch's refresh repairs, because refresh diffs the
    base against the INDEX'S OWN PIN, not against "this batch".  A
    replayed batch (checkpoint recovery) skips its commit and its
    refresh no-ops (base unchanged -> current generation returned
    without a write).  Idempotent end-to-end, no 2-phase anything.

    MEASURED per-batch cost (SURVEY.md §8.aa, sf10 tier =
    200k vectors, probe-bracketed quiet window, 2026-08-15): the
    refresh is a FIXED ~2.0-2.6 s regardless of batch size -- batches
    of 200 / 1000 / 4000 rows refresh in ~2.6 / 2.2 / 2.2 s (13 ->
    2.2 -> 0.55 s/krow) -- because the cost is the pipeline (CDC
    manifest diff, merge discovery scan, touched-cell centroid
    recompute: a random batch touches every cell), not the delta rows.
    Consequences, measured:

    * per-batch refresh is the FRESHNESS-max configuration; when the
      stream's batches are small relative to that fixed cost, refresh
      every N batches instead -- the deferred shape is already
      crash-equivalent (refresh diffs against the index's own pin, so
      one refresh spanning 4 x 200-row commits cost 1.98 s vs 10.6 s
      for 4 per-batch refreshes, byte-identical index);
    * the full rebuild fallback cost 6.6 s on the same corpus, ~3x one
      delta refresh -- the rebuild_fraction=0.2 default sits well on
      the right side of that trade;
    * fragmentation grows ~1 cell file per refresh; the default
      compact_files=64 threshold trips roughly every ~55 batches, and
      the compaction-tripping refresh measured 8.0 s (vs ~2.2 s
      steady-state; files 20 -> 10) -- an O(corpus) rewrite amortized
      to ~0.1 s/batch, paid inside the refresh that trips it.

    ``refresh_every``: the executable form of that curve.  1 (default)
    refreshes per batch (freshness-max); N refreshes on every Nth
    batch id (a deterministic cadence -- batch ids are stable across
    checkpoint restarts, so a replayed cycle re-lands on the same
    schedule), and each refresh covers EVERY batch since the index's
    own pin, so skipped batches are never lost -- the same property
    that makes the crash window safe makes the cadence safe.  The
    index then lags the base by at most N-1 committed batches (the
    caller's staleness budget); after stopping the stream mid-cycle,
    one direct ``refresh_ivf_index`` call catches the index up.

    Returns the started StreamingQuery (caller drains/stops it)."""
    from location_summary_etl_spark.operators.ann_index import (
        refresh_ivf_index,
    )

    if refresh_every < 1:
        raise ValueError(f"refresh_every must be >= 1, got {refresh_every}")

    def step(batch: DataFrame, batch_id: int) -> None:
        versioned_append_batch(table, batch, batch_id)
        if batch_id % refresh_every == refresh_every - 1:
            refresh_ivf_index(batch.sparkSession, table, index_root,
                              id_col=id_col, vec_col=vec_col,
                              label_col=label_col,
                              rebuild_fraction=rebuild_fraction,
                              compact_files=compact_files)

    return (
        stream_df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(step)
        .start()
    )
