"""Stream/batch parity: the streaming W4/A2 queries produce exactly the
batch results on the same finite input (availableNow trigger)."""

from __future__ import annotations

import shutil

import pytest

from ktpm___ocr_spark.operators.windows import rate_window_counts
from ktpm___ocr_spark.streaming.jobs import (
    read_events_stream,
    sessionize_batch,
    stream_rate_windows,
    stream_stage_counters,
)


@pytest.fixture(scope="module")
def events_dir(sf001_dir, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(f"{sf001_dir}/events.parquet", d / "part-0.parquet")
    return str(d)


def _run_stream(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}")


def test_stream_rate_windows_equals_batch(spark, events_dir):
    stream = _run_stream(
        spark,
        stream_rate_windows(read_events_stream(spark, events_dir)),
        "rate_win",
    )
    batch = rate_window_counts(spark.read.parquet(events_dir), "ts", "user_id")
    got = {(r["window_start"], r["user_id"]): r["n"] for r in stream.collect()}
    want = {(r["window_start"], r["user_id"]): r["n"] for r in batch.collect()}
    assert got == want


def test_stream_counters_equals_batch(spark, events_dir):
    from pyspark.sql import functions as F

    stream = _run_stream(
        spark,
        stream_stage_counters(read_events_stream(spark, events_dir)),
        "counters",
    )
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.concat(F.lit("metrics:"), F.col("event_type")).alias("metric"))
        .count()
    )
    got = {r["metric"]: r["n"] for r in stream.collect()}
    want = {r["metric"]: r["count"] for r in batch.collect()}
    assert got == want


def test_sessionize_batch_sane(spark, events_dir):
    ev = spark.read.parquet(events_dir)
    sess = sessionize_batch(ev, gap="5 minutes")
    total = sess.agg({"n_events": "sum"}).first()[0]
    assert total == ev.count()  # every event in exactly one session
    # sessions per user ≥ 1 and start bounded by user's event range
    per_user = sess.groupBy("user_id").count()
    assert per_user.filter("count < 1").count() == 0


def test_stateful_user_totals_across_batches(spark, events_dir, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches:
    split the input into two files, force one file per trigger, and check
    the final emissions equal the batch aggregate."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        stream_user_totals_stateful,
    )

    ev = spark.read.parquet(events_dir)
    d = tmp_path / "two_files"
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "a.parquet")
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "b.parquet")
    )
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*/")
    )
    q = (
        stream_user_totals_stateful(src)
        .writeStream.format("memory")
        .queryName("user_totals")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = (
        spark.table("user_totals")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_ts_epoch").alias("max_ts_epoch"),
        )
    )
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        # ts is TIMESTAMP_NTZ in the source parquet: NTZ→long is disallowed,
        # go via timestamp (session TZ is UTC, matching pandas' naive epoch)
        F.max(F.col("ts").cast("timestamp").cast("long")).alias("max_ts_epoch"),
    )
    g = {r["user_id"]: (r["n_events"], r["max_ts_epoch"]) for r in got.collect()}
    w = {r["user_id"]: (r["n_events"], r["max_ts_epoch"]) for r in want.collect()}
    assert g == w
    # state genuinely crossed batches: at least two emissions for some user
    emissions = spark.table("user_totals").groupBy("user_id").count()
    assert emissions.agg(F.max("count")).first()[0] >= 2


def test_dedup_upsert_stream_cross_batch(spark, events_dir, tmp_path):
    """foreachBatch upsert: replaying the same file in a second micro-batch
    adds nothing to the store (exactly-once per key)."""
    import shutil

    from pyspark.sql import functions as F

    from ktpm___ocr_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        dedup_upsert_stream,
    )

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    shutil.copy(f"{events_dir}/part-0.parquet", src_dir / "a.parquet")
    shutil.copy(f"{events_dir}/part-0.parquet", src_dir / "b.parquet")  # replay
    store = str(tmp_path / "store")
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir))
    )
    q = dedup_upsert_stream(src, store).start()
    assert q.awaitTermination(180), "stream must drain fully (else the replay batch never runs)"
    got = spark.read.parquet(store)
    want = spark.read.parquet(events_dir)
    assert got.count() == want.count()  # doubled input, deduped store
    assert got.select("event_id").distinct().count() == want.count()


def test_stream_hdr_cells_merge_across_batches(spark, events_dir, tmp_path):
    """The HDR histogram's merge-by-addition is exactly what makes it
    streamable: two micro-batches (one file per trigger) must drain to
    the same cell relation as the batch histogram over the whole input."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.functions.sketches import hdr_cells
    from ktpm___ocr_spark.streaming.jobs import EVENTS_SCHEMA

    ev = spark.read.parquet(events_dir)
    d = tmp_path / "hdr_two_files"
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        str(d / "a.parquet")
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        str(d / "b.parquet")
    )
    src = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d) + "/*/")
    )
    q = (
        hdr_cells(src, "value")
        .writeStream.format("memory")
        .queryName("hdr_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["bl"], r["sub"], r["lb"]): r["cnt"]
        for r in spark.table("hdr_stream").collect()
    }
    want = {
        (r["bl"], r["sub"], r["lb"]): r["cnt"]
        for r in hdr_cells(ev, "value").collect()
    }
    assert got == want


def test_incremental_dedup_stream_cross_batch(spark, tmp_path):
    """Streaming incremental dedup: batch A's docs join the band store
    after probing, so a batch-B doc duplicating a batch-A doc is caught
    WITHOUT re-banding history — plus the seeded old corpus is probed by
    both batches."""
    from ktpm___ocr_spark.operators.dedup import lsh_bands
    from ktpm___ocr_spark.streaming.jobs import incremental_dedup_stream

    base = "the quick brown fox jumps over the lazy dog again and again today"
    old = spark.createDataFrame(
        [(1, base), (2, "completely different corpus content here")],
        "doc_id bigint, text string",
    )
    band_dir = str(tmp_path / "bands")
    text_dir = str(tmp_path / "texts")
    pairs_dir = str(tmp_path / "pairs")
    # store contract: seed subdir + one overwritten subdir per batch
    lsh_bands(old, "doc_id", "text").write.parquet(f"{band_dir}/seed")
    old.write.parquet(f"{text_dir}/seed")

    inc_dir = tmp_path / "inc"
    inc_dir.mkdir()
    spark.createDataFrame(
        [(101, base)], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(str(inc_dir / "a.parquet"))
    spark.createDataFrame(
        [(201, base), (202, "novel increment text nothing shared")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(inc_dir / "b.parquet"))

    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inc_dir) + "/*/")
    )
    q = incremental_dedup_stream(
        src, band_dir, text_dir, pairs_dir, threshold=0.6
    ).start()
    assert q.awaitTermination(180), "stream must drain both files"

    got = {
        (r["id_a"], r["id_b"]): r["pair_kind"]
        for r in spark.read.parquet(pairs_dir + "/*").collect()
    }
    assert got[(1, 101)] == "new_old"          # batch A vs seeded corpus
    assert got[(1, 201)] == "new_old"          # batch B vs seeded corpus
    assert got[(101, 201)] == "new_old"        # batch B vs batch A — the
    # cross-batch catch: 101 entered the band store after batch A probed
    assert all(202 not in p for p in got)      # novel doc pairs with nothing
    # and the stores grew: 2 seeded + 3 streamed docs
    assert spark.read.parquet(text_dir + "/*").count() == 5

    # replay idempotence (at-least-once → exactly-once): a fresh query
    # over the same files re-runs batches b0/b1; every write OVERWRITES
    # its batch subdir and the probe excludes the batch's own subdir, so
    # the final state is identical — no duplicated pairs, no double-grown
    # stores
    src2 = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inc_dir) + "/*/")
    )
    q2 = incremental_dedup_stream(
        src2, band_dir, text_dir, pairs_dir, threshold=0.6
    ).start()
    assert q2.awaitTermination(180)
    got2 = {
        (r["id_a"], r["id_b"]): r["pair_kind"]
        for r in spark.read.parquet(pairs_dir + "/*").collect()
    }
    assert got2 == got
    assert spark.read.parquet(text_dir + "/*").count() == 5


def _inc_stream(spark, tmp_path, batches):
    """One parquet file per micro-batch (``maxFilesPerTrigger=1``)."""
    inc_dir = tmp_path / "inc"
    inc_dir.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(
            1
        ).write.parquet(str(inc_dir / f"{chr(97 + i)}.parquet"))
    return (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inc_dir) + "/*/")
    )


def test_incremental_dedup_stream_unseeded_stores(spark, tmp_path):
    """Empty band and text stores are a valid start (the first night of
    a crawl): batch 0 probes nothing old and emits only its internal
    new_new pair; batch 1 catches its dup of a batch-0 doc."""
    from ktpm___ocr_spark.streaming.jobs import incremental_dedup_stream

    base = "the quick brown fox jumps over the lazy dog again and again today"
    band_dir, text_dir = tmp_path / "bands", tmp_path / "texts"
    band_dir.mkdir()
    text_dir.mkdir()
    pairs_dir = str(tmp_path / "pairs")
    src = _inc_stream(
        spark, tmp_path, [[(101, base), (102, base)], [(201, base)]]
    )
    q = incremental_dedup_stream(
        src, str(band_dir), str(text_dir), pairs_dir
    ).start()
    assert q.awaitTermination(180), "stream must drain both files"
    assert q.exception() is None, q.exception()

    def batch_pairs(sub):
        return {
            (r["id_a"], r["id_b"]): r["pair_kind"]
            for r in spark.read.parquet(f"{pairs_dir}/{sub}").collect()
        }

    assert batch_pairs("b0") == {(101, 102): "new_new"}
    assert batch_pairs("b1") == {(101, 201): "new_old", (102, 201): "new_old"}


def test_incremental_dedup_stream_rejects_stale_band_store(spark, tmp_path):
    """A seeded band store in the pre-r7 64-hex format must fail the
    stream loudly, not match zero cross-batch candidates: the lazy
    probe carries the format guard inside its plan."""
    from pyspark.errors import StreamingQueryException

    from ktpm___ocr_spark.streaming.jobs import incremental_dedup_stream

    base = "the quick brown fox jumps over the lazy dog again and again today"
    band_dir = str(tmp_path / "bands")
    text_dir = str(tmp_path / "texts")
    spark.createDataFrame(
        [(1, b, "ab" * 32) for b in range(4)],
        "doc_id bigint, band_idx int, band_hash string",
    ).write.parquet(f"{band_dir}/seed")
    spark.createDataFrame(
        [(1, base)], "doc_id bigint, text string"
    ).write.parquet(f"{text_dir}/seed")
    src = _inc_stream(spark, tmp_path, [[(101, base)]])
    q = incremental_dedup_stream(
        src, band_dir, text_dir, str(tmp_path / "pairs")
    ).start()
    with pytest.raises(
        StreamingQueryException, match="rebuild it with lsh_bands"
    ):
        q.awaitTermination(180)


def test_stream_sessions_equals_batch(spark, events_dir):
    """Streaming session_window (merging windows + watermark) must
    produce exactly the batch sessionization on the same finite input
    (complete mode keeps open sessions, so the sets match 1:1)."""
    from ktpm___ocr_spark.streaming.jobs import stream_sessions

    stream = _run_stream(
        spark,
        stream_sessions(read_events_stream(spark, events_dir), gap="5 minutes"),
        "sessions",
    )
    batch = sessionize_batch(spark.read.parquet(events_dir), gap="5 minutes")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in stream.collect()
    }
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in batch.collect()
    }
    assert got == want and got


def test_stream_sessions_watermark_merge_and_close(spark, tmp_path):
    """The APPEND-mode properties complete mode can't see: a late
    in-watermark event MERGES into its open session, the session emits
    only once the watermark passes its end, and still-open sessions are
    withheld. Three availableNow runs over one checkpoint:
      1. u1@00:00, u1@00:01 -> watermark <0, NOTHING emits (session
         held open across the run boundary)
      2. u1@00:02 (late vs run 1's data but inside the watermark,
         so it MERGES) + clock u9@00:30 -> watermark advances to
         00:20 > u1 session end 00:07, and availableNow's trailing
         no-data batch evicts+emits (u1, 00:00, n=3) within this run
      3. clock u9@00:31 -> emits nothing more; u9's own session
         (end 00:36 > watermark 00:21) stays open and is withheld
    """
    import datetime

    from ktpm___ocr_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        read_events_stream,
        stream_sessions,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def mk(minute, user):
        return (
            user * 100 + minute,
            t0 + datetime.timedelta(minutes=minute),
            user,
            "view",
            1.0,
            "{}",
        )

    batches = [
        [mk(0, 1), mk(1, 1)],
        [mk(2, 1), mk(30, 9)],
        [mk(31, 9)],
    ]
    src_dir = tmp_path / "sess_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    emitted = []
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(
            str(src_dir / f"b{i}.parquet")
        )
        q = (
            stream_sessions(
                # each write lands in its own subdir -> glob one level
                read_events_stream(spark, str(src_dir) + "/*/"),
                gap="5 minutes",
                watermark="10 minutes",
            )
            .writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if i == 0:
            assert not emitted, emitted  # open session must be withheld
    got = [(r["user_id"], r["session_start"], r["n_events"]) for r in emitted]
    assert got == [(1, t0, 3)], got  # late event merged; u9 still open


def test_stream_dedup_within_watermark_equals_distinct(spark, events_dir):
    """On a finite single-batch input the engine-state dedup must emit
    exactly batch SELECT DISTINCT over the key columns."""
    from ktpm___ocr_spark.streaming.jobs import stream_dedup_within_watermark

    q = (
        stream_dedup_within_watermark(read_events_stream(spark, events_dir))
        .writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_type"])
        for r in spark.sql("select * from dedup_wm").collect()
    }
    want = {
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(events_dir)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == want and got
    # append-mode emit is one row per distinct key, no duplicates
    assert spark.sql("select count(*) from dedup_wm").first()[0] == len(want)


def test_stream_dedup_watermark_suppress_then_evict(spark, tmp_path):
    """The state-lifecycle properties: a duplicate key in a LATER run
    inside the watermark is suppressed; after the watermark passes and
    evicts the key's state, the same key RE-emits (the documented
    bounded-state trade). Three availableNow runs over one checkpoint:
      1. u1 'view'@00:00 -> emits (1, view)
      2. u1 'view'@00:02 (dup, within watermark) + clock u9@00:30 ->
         only (9, view) emits; the duplicate is suppressed. Watermark
         after this run is 00:20, past 00:00+10m, so u1's state evicts
      3. u1 'view'@00:31 (same key, state gone) -> RE-emits (1, view)
    """
    import datetime

    from ktpm___ocr_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        read_events_stream,
        stream_dedup_within_watermark,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def mk(minute, user):
        return (
            user * 1000 + minute,
            t0 + datetime.timedelta(minutes=minute),
            user,
            "view",
            1.0,
            "{}",
        )

    batches = [[mk(0, 1)], [mk(2, 1), mk(30, 9)], [mk(31, 1)]]
    src_dir = tmp_path / "dedup_src"
    src_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    per_run: list[list] = []
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, EVENTS_SCHEMA).coalesce(1).write.parquet(
            str(src_dir / f"b{i}.parquet")
        )
        emitted: list = []
        q = (
            stream_dedup_within_watermark(
                read_events_stream(spark, str(src_dir) + "/*/"),
                watermark="10 minutes",
            )
            .writeStream.foreachBatch(
                lambda bdf, bid, sink=emitted: sink.extend(bdf.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        per_run.append([(r["user_id"], r["event_type"]) for r in emitted])

    assert per_run[0] == [(1, "view")]
    assert sorted(per_run[1]) == [(9, "view")]  # duplicate suppressed
    assert per_run[2] == [(1, "view")]  # state evicted -> re-emits


def test_politeness_stream_cross_batch_offsets_and_replay(
    spark, events_dir, tmp_path
):
    """Politeness streaming sink: per-host fetch indices keep counting
    across micro-batches (batch B's base index per host = that host's
    request count in batch A), the drained schedule of a ts-ordered
    finite stream equals the batch row_number() model, and replaying the
    whole stream over the same stores converges (overwrite-per-batch, no
    double counting)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.functions.textstats import word_hash
    from ktpm___ocr_spark.streaming.jobs import (
        EVENTS_SCHEMA,
        politeness_fetch_stream,
    )

    ev = spark.read.parquet(events_dir)
    # ts-ordered two-file split (strict boundary): every batch-A row
    # precedes every batch-B row in event time, so cross-batch chaining
    # must reproduce the global per-host order
    m = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as long), 0.5) as m"
    ).first()["m"]
    ts_long = F.col("ts").cast("timestamp").cast("long")
    d = tmp_path / "frontier"
    ev.filter(ts_long < m).coalesce(1).write.parquet(str(d / "a.parquet"))
    ev.filter(ts_long >= m).coalesce(1).write.parquet(str(d / "b.parquet"))

    sched = str(tmp_path / "sched")
    offs = str(tmp_path / "offsets")

    def run():
        src = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(d) + "/*/")
        )
        q = politeness_fetch_stream(src, sched, offs).start()
        assert q.awaitTermination(180), "stream must drain both files"

    run()
    got = {
        r["event_id"]: (
            r["host"], r["fetch_idx"], r["scheduled_at_s"], r["worker"]
        )
        for r in spark.read.parquet(sched + "/*").collect()
    }
    idx = (
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("ts").cast("timestamp"), "event_id"
            )
        )
        - 1
    ).cast("long")
    want = {
        r["event_id"]: (
            r["event_type"], r["i"], r["i"] * 5,
            r["w"],
        )
        for r in ev.select(
            "event_id", "event_type", idx.alias("i"),
            F.pmod(word_hash(F.col("event_type")), F.lit(16))
            .cast("long").alias("w"),
        ).collect()
    }
    assert got == want
    # the chain genuinely crossed batches: some host appears in both
    # batch subdirs with nonzero base in the second
    per_batch = {
        sub: {
            r["event_type"]: r["n_requests"]
            for r in spark.read.parquet(f"{offs}/{sub}").collect()
        }
        for sub in ("b0", "b1")
    }
    assert set(per_batch["b0"]) & set(per_batch["b1"])

    # at-least-once replay converges: same schedule, same offsets
    run()
    got2 = {
        r["event_id"]: (
            r["host"], r["fetch_idx"], r["scheduled_at_s"], r["worker"]
        )
        for r in spark.read.parquet(sched + "/*").collect()
    }
    assert got2 == got
    assert {
        sub: {
            r["event_type"]: r["n_requests"]
            for r in spark.read.parquet(f"{offs}/{sub}").collect()
        }
        for sub in ("b0", "b1")
    } == per_batch
