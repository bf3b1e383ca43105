"""Streaming jobs: rate windows, counters, sessionization.

Batch/stream parity: each streaming query has the same semantics as its
batch operator (tests assert stream output == batch output on the same
finite input via ``trigger(availableNow)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over an events directory (schema enforced —
    streaming sources cannot infer)."""
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(events_dir)


def stream_rate_windows(
    events: DataFrame,
    window: str = "60 seconds",
    watermark: str = "2 minutes",
) -> DataFrame:
    """W4 as a stream: tumbling per-user counts with an event-time
    watermark bounding state for late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n")
    )


def stream_stage_counters(
    events: DataFrame, watermark: str = "2 minutes"
) -> DataFrame:
    """A2 as a stream: running metric counters per event type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.concat(F.lit("metrics:"), F.col("event_type")).alias("metric"))
        .agg(F.count("*").alias("n"))
    )


USER_TOTALS_OUTPUT = (
    "user_id long, n_events long, max_ts_epoch long"
)
USER_TOTALS_STATE = "n long, max_ts long"


def stream_user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + latest event time, carried in GroupState across
    micro-batches (the shape W5's progressive throttle needs — the delay
    decision is a function of exactly this running state).

    Outputs exact integers only (count, epoch seconds) so results are
    engine-portable. Each batch emits the user's updated running totals;
    on a finite drained stream the *last* emission per user equals the
    batch aggregate (tests take max, which is equivalent since both fields
    are monotone).

    Scale shape: state is shuffled by user_id once per micro-batch and
    lives in the state store (RocksDB on a real cluster); per-group work
    is a vectorized pandas sum/max, no per-row Python.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, max_ts = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += int(len(pdf))
            if len(pdf):
                batch_max = int(
                    pd.to_datetime(pdf["ts"]).astype("int64").max() // 10**9
                )
                max_ts = max(max_ts, batch_max)
        state.update((n, max_ts))
        yield pd.DataFrame(
            [{"user_id": key[0], "n_events": n, "max_ts_epoch": max_ts}]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=USER_TOTALS_OUTPUT,
        stateStructType=USER_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sessionize_batch(
    events: DataFrame, gap: str = "5 minutes", ts: str = "ts", key: str = "user_id"
) -> DataFrame:
    """Sessionization via ``session_window`` (works identically in batch
    and streaming). Emits (user_id, session_start, n_events)."""
    return (
        events.groupBy(F.session_window(F.col(ts), gap).alias("sw"), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


def stream_sessions(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    ts: str = "ts",
    key: str = "user_id",
) -> DataFrame:
    """Streaming sessionization: the same ``session_window`` aggregate
    as ``sessionize_batch``, with an event-time watermark so merged
    session state is bounded — a session closes (and emits, in append
    mode) once the watermark passes its end, where end is already
    last-event + gap. State per open session only; late events inside
    the watermark still MERGE into their session (session windows grow,
    unlike tumbling windows).
    """
    return (
        events.withWatermark(ts, watermark)
        .groupBy(F.session_window(F.col(ts), gap).alias("sw"), F.col(key))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col(key),
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


def _store_parts(spark, root: str, exclude: str | None = None) -> list[str]:
    """Subdirectories of a per-batch store, minus ``exclude`` (this
    batch's own) — listed via the Hadoop FS API so any scheme (file://,
    hdfs://, s3a://) works. The subdir-per-batch layout is what makes
    at-least-once replay exactly-once: a replayed batch re-reads exactly
    the pre-batch store state and OVERWRITES (never re-appends) its own
    outputs. Read a whole store with ``spark.read.parquet(*parts)``, not
    a ``root + "/*"`` glob: a glob read makes Spark probe every match for
    a ``FileStreamSink`` metadata log and log a WARN with a stack trace."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(root)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return []  # first batch of an unseeded store
    return [
        str(st.getPath().toString())
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName() != exclude
    ]


def dedup_upsert_stream(src: DataFrame, store_dir: str, key: str = "event_id"):
    """Exactly-once-per-key streaming sink via ``foreachBatch``: each
    micro-batch dedups within itself, anti-joins keys already in the
    store (cross-batch), and appends only the remainder — the idempotent
    upsert pattern for feeding a dedup'd table from a replayable stream
    (at scale the store is an Iceberg MERGE target; here a parquet dir).

    Returns the DataStreamWriter — caller ``.start()``s it.
    """
    from pyspark.errors import AnalysisException

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        new = batch_df.dropDuplicates([key])
        # probe the store through Spark, not os.path (which silently
        # disables cross-batch dedup for file:///hdfs://s3a:// paths —
        # r5 review): a missing or empty store raises AnalysisException
        try:
            seen = spark.read.parquet(store_dir).select(key)
            new = new.join(seen, key, "left_anti")
        except AnalysisException:
            pass  # first batch — nothing to dedup against yet
        new.write.mode("append").parquet(store_dir)

    return src.writeStream.foreachBatch(upsert).trigger(availableNow=True)


def incremental_dedup_stream(
    src: DataFrame,
    band_dir: str,
    text_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.6,
):
    """Streaming face of ``dedup.incremental_near_dups``: each micro-batch
    of newly crawled docs is banded and probed against the PERSISTED band
    store via ``foreachBatch``, writing verified near-dup pairs; the
    batch's own bands and texts join the stores, so every later batch
    sees this one as "existing corpus" — cross-batch dups are caught
    without ever re-banding history. ``pair_kind`` is relative to the
    probing batch (a dup against ANY earlier doc is ``new_old``).

    This is the nightly-crawl composition at 100 TB: the stores are
    Iceberg tables (bands bucketed by (band_idx, band_hash)) fed by
    MERGE; here each store is a directory of SUBDIRECTORIES — seed the
    existing corpus into ``{band_dir}/seed`` / ``{text_dir}/seed``
    (``lsh_bands`` + an (id, text) projection), or leave the stores
    empty to start from nothing; each micro-batch OVERWRITES its own
    ``b{batch_id}`` subdir.

    A batch is three Spark jobs, in this order: write its ``(id, text)``
    to ``{text_dir}/b{id}``; band that written table into
    ``{band_dir}/b{id}``; then one fused probe-verify-write of the
    pairs to ``{pairs_dir}/b{id}``, built lazily over parquet reads of
    the stores and of the batch's own two outputs. The writes are the
    materialization — nothing is checkpointed or cached — and every
    read takes its schema from the batch or its band output, so no
    read infers a schema (an unseeded store reads as empty).

    At-least-once replay stays exactly-once: the probe reads every store
    subdir EXCEPT the batch's own, so a replayed batch sees exactly the
    pre-batch store state, and it overwrites — never re-appends — its
    three outputs, so partial-failure replays converge instead of
    duplicating pairs or double-growing the stores. Read the
    pair output with ``spark.read.parquet(*_store_parts(spark,
    pairs_dir))``.

    Returns the DataStreamWriter — caller ``.start()``s it.
    """
    from ktpm___ocr_spark.operators.dedup import (
        incremental_near_dups,
        lsh_bands,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sub = f"b{batch_id}"
        texts_out, bands_out = f"{text_dir}/{sub}", f"{band_dir}/{sub}"

        def read(schema, *paths) -> DataFrame:
            return spark.read.schema(schema).parquet(*paths)

        docs = batch_df.select(id_col, text_col)
        docs.write.mode("overwrite").parquet(texts_out)
        new_docs = read(docs.schema, texts_out)
        bands = lsh_bands(new_docs, id_col, text_col)
        bands.write.mode("overwrite").parquet(bands_out)
        incremental_near_dups(
            read(bands.schema, *_store_parts(spark, band_dir, sub)),
            read(docs.schema, *_store_parts(spark, text_dir, sub)),
            new_docs,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            new_bands=read(bands.schema, bands_out),
            eager=False,
        ).write.mode("overwrite").parquet(f"{pairs_dir}/{sub}")

    return src.writeStream.foreachBatch(process).trigger(availableNow=True)


def stream_dedup_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    ts: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Built-in state-store streaming dedup: emit the FIRST row per key
    set and suppress later duplicates, with dedup state evicted once the
    event-time watermark passes (``dropDuplicatesWithinWatermark``) —
    the complement of ``dedup_upsert_stream``: that pattern dedups
    against an external store with unbounded history, this one holds
    state inside the engine, bounded to keys seen within the watermark
    horizon — the exactly-once feed when no external MERGE target
    exists. A duplicate arriving AFTER its key's state is evicted
    re-emits; that is the documented trade (bounded state) and is
    pinned in tests.

    Emits only the key columns: WHICH duplicate's payload survives is
    arrival-order-dependent, the key set is not — so the finite-input
    drain equals batch ``SELECT DISTINCT keys`` exactly.
    """
    return (
        events.withWatermark(ts, watermark)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )


def politeness_fetch_stream(
    src: DataFrame,
    schedule_dir: str,
    offsets_dir: str,
    host_col: str = "event_type",
    id_col: str = "event_id",
    order_col: str = "ts",
    delay_s: int = 5,
    workers: int = 16,
):
    """Streaming face of :func:`textstats.politeness_schedule`: a crawl
    FRONTIER stream (each row = one fetch request against ``host_col``)
    is turned into a rate-limited fetch schedule — host *h*'s *i*-th
    request ever seen is scheduled at ``i · delay_s`` seconds and
    sticky-routed to ``word_hash(h) % workers`` — via ``foreachBatch``
    with a per-host offset store, so the politeness index keeps counting
    ACROSS micro-batches without any engine state: batch N's base index
    for a host is the sum of that host's request counts over batches
    < N.

    Store layout is the replay-safe subdir-per-batch pattern of
    :func:`incremental_dedup_stream`: each batch OVERWRITES
    ``{offsets_dir}/b{id}`` (its per-host counts) and
    ``{schedule_dir}/b{id}`` (its schedule rows), and probes every
    offsets subdir EXCEPT its own — an at-least-once replay re-reads
    exactly the pre-batch state and converges instead of double-counting.
    Within a batch, per-host order is pinned by ``(order_col, id_col)``
    (deterministic, so the drained schedule of a finite in-order stream
    equals the batch window ``row_number() - 1`` — the oracle). The
    window sort is micro-batch-bounded, never corpus-bounded, and the
    offsets relation is O(hosts·batches) — both safe at frontier scale;
    the sticky worker mapping means a 1000-executor fetch fleet needs no
    shared limiter (same property as the batch operator).

    Read the schedule with ``spark.read.parquet(*_store_parts(spark,
    schedule_dir))``.
    Returns the DataStreamWriter — caller ``.start()``s it.

    Reference anchor: per-key rate limiting / queue pacing
    (backend/middleware/rateLimiters, backend/queues) re-expressed as a
    crawl-politeness scheduler (Najork 2001 web-crawler etiquette).
    """
    from pyspark.sql import Window

    from ktpm___ocr_spark.functions.textstats import word_hash

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sub = f"b{batch_id}"
        # the offset store is ORDER-dependent (batch N's base = counts of
        # batches < N), unlike the set-semantics band/text stores of
        # incremental_dedup_stream where excluding only the batch's own
        # subdir suffices — a replayed batch must also ignore LATER
        # batches' subdirs or it double-counts them into its base
        parts = [
            p
            for p in _store_parts(spark, offsets_dir, sub)
            if int(p.rstrip("/").rsplit("/b", 1)[-1]) < batch_id
        ]
        if parts:
            base = (
                spark.read.parquet(*parts)
                .groupBy(host_col)
                .agg(F.sum("n_requests").alias("_base"))
            )
        else:
            base = spark.createDataFrame(
                [], f"{host_col} string, _base long"
            )
        seq = (
            F.row_number().over(
                Window.partitionBy(host_col).orderBy(order_col, id_col)
            )
            - 1
        ).cast("long")
        sched = (
            batch_df.select(host_col, id_col, order_col)
            .withColumn("_seq", seq)
            # hosts not yet in the store get base 0; the store side is
            # O(hosts) — broadcast keeps the frontier side shuffle-free
            # beyond the window's own host-keyed Exchange
            .join(F.broadcast(base), host_col, "left")
            .select(
                F.col(host_col).alias("host"),
                F.col(id_col),
                (F.coalesce(F.col("_base"), F.lit(0)) + F.col("_seq"))
                .cast("long")
                .alias("fetch_idx"),
                (
                    (F.coalesce(F.col("_base"), F.lit(0)) + F.col("_seq"))
                    * delay_s
                )
                .cast("long")
                .alias("scheduled_at_s"),
                F.pmod(
                    word_hash(F.col(host_col).cast("string")),
                    F.lit(workers),
                )
                .cast("long")
                .alias("worker"),
            )
        )
        sched.write.mode("overwrite").parquet(f"{schedule_dir}/{sub}")
        (
            batch_df.groupBy(host_col)
            .agg(F.count(F.lit(1)).alias("n_requests"))
            .write.mode("overwrite")
            .parquet(f"{offsets_dir}/{sub}")
        )

    return src.writeStream.foreachBatch(process).trigger(availableNow=True)
