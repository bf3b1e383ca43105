"""Tests of the benchmark's own arithmetic and event-log parser.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import pytest

from perfbench import eventlog
from perfbench.trace import Span, Tracer, percentile, self_times, summarize


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "parent", 0.0, 10.0, None),
        Span(1, "a", 1.0, 4.0, 0),
        Span(2, "b", 3.0, 6.0, 0),  # overlaps a: covered once
        Span(3, "c", 9.0, 12.0, 0),  # clipped to the parent's end
        Span(4, "grandchild", 1.5, 2.0, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_and_disabled_tracer_records_nothing():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
        t.add("measured", 1.0, 2.0)
    names = {s.name: s for s in t.spans}
    assert names["inner"].parent == names["outer"].id
    assert names["measured"].parent == names["outer"].id
    assert names["outer"].end >= names["inner"].end
    off = Tracer(enabled=False)
    with off.span("x"):
        off.add("y", 0.0, 1.0)
    assert off.spans == []


def test_percentile_interpolates():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0], 50) == 1.5
    assert percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_highest_supported_percentile():
    small = summarize([float(i) for i in range(8)])
    assert small["n"] == 8 and small["p50"] == 3.5
    assert small["p_hi"] is None  # no tail percentile has 10 samples beyond it
    hundred = summarize([float(i) for i in range(100)])
    assert hundred["p_hi"] == 90  # p95 has only 5 samples beyond it
    assert hundred["p_hi_value"] == pytest.approx(89.1)
    assert summarize([float(i) for i in range(1000)])["p_hi"] == 99


def test_call_of_prefers_description_then_streaming():
    calls = {"dedup.incremental"}
    assert eventlog.call_of({"spark.job.description": "dedup.incremental"}, calls) == "dedup.incremental"
    assert eventlog.call_of({"sql.streaming.queryId": "q"}, calls) == eventlog.STREAMING_BATCH
    assert eventlog.call_of({"spark.job.description": "other"}, calls) is None


@pytest.fixture(scope="module")
def logged(tmp_path_factory):
    """A tiny mapInArrow job and a tiny repartition, each tagged as a
    call, on a session with the event log on; returns the parsed log."""
    from perfbench import host
    from perfbench.chain import set_call

    work = str(tmp_path_factory.mktemp("perfbench"))
    log_dir = f"{work}/eventlog"
    machine = host.Host(cpus=2, mem_mb=4096)
    spark = host.start_session(machine, work, event_log_dir=log_dir)
    try:
        def double(batches):
            import pyarrow.compute as pc

            for b in batches:
                yield b.set_column(0, "id", pc.multiply(b.column(0), 2))

        set_call(spark, "kernel")
        spark.range(0, 50_000, numPartitions=2).mapInArrow(double, "id long").write.format(
            "noop"
        ).mode("overwrite").save()
        set_call(spark, "shuffle")
        spark.range(0, 50_000, numPartitions=2).repartition(3).write.format("noop").mode(
            "overwrite"
        ).save()
        set_call(spark, None)
    finally:
        host.shutdown(spark)  # flushes the event log and stops the JVM
    return eventlog.parse(log_dir, {"kernel", "shuffle"})


def test_event_log_meters_python_and_arrow_bytes(logged):
    k = logged.call("kernel")
    assert k.attempts >= 2 and k.failed == 0
    assert k.task_s > 0
    assert k.acc[eventlog.PY_RUN] > 0
    assert k.acc[eventlog.TO_PY] > 0 and k.acc[eventlog.FROM_PY] > 0
    assert logged.output_rows_of("kernel", "MapInArrow") == 50_000
    assert k.shuffle_write_b == 0


def test_event_log_meters_shuffle_bytes(logged):
    s = logged.call("shuffle")
    assert s.shuffle_write_b > 0
    assert eventlog.PY_RUN not in s.acc
    assert s.task_skew >= 1.0


def test_steal_frac_is_the_steal_share_of_cpu_time():
    from perfbench.host import steal_frac

    start = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
    end = [200, 0, 80, 1030, 0, 0, 0, 90, 0, 0]  # +400 ticks, 40 stolen
    assert steal_frac(start, end) == pytest.approx(0.1)
    assert steal_frac(start, start) == 0.0


def test_per_layer_names_match_benchmark_json():
    import json
    import os

    from perfbench import host, layers

    with open(os.path.join(host.ROOT, "BENCHMARK.json")) as f:
        listed = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    assert listed == [(n, layers.unit_of(n)) for n in layers.metric_names()]
