"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 5 --trace 0

Run from the root of a checkout of the repository. One driver process
runs the named workload on ``local[nproc]``. With ``--trace 0`` it sets
up three times (input generation, base banding; the first also launches
the JVM and starts the session), then runs units of work until
``--seconds`` have passed, checking every output, and reports the
end-to-end metrics, ``setup_s`` as the median set-up.
With ``--trace 1`` it sets up once, runs a warm-up unit, one untraced
unit in a fresh SparkContext and one traced unit in a fresh
SparkContext with Spark's event log on, and reports the per-layer
table.

Stdout: a stamped record of the run, then, as the last line, one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host  # noqa: E402

SETUPS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Sessions:
    """The run's SparkContexts, one at a time, with the task attempts of
    every context counted before it stops."""

    def __init__(self, machine: host.Host, work: str) -> None:
        self.machine, self.work = machine, work
        self.spark = None
        self.tasks = self.failed_tasks = 0

    def fresh(self, event_log_dir: str | None = None):
        """Stop the current SparkContext (if any) and start a new one in
        the same JVM."""
        self.stop()
        self.spark = host.start_session(self.machine, self.work, event_log_dir)
        return self.spark

    def _count(self):
        spark, self.spark = self.spark, None
        tasks, failed = host.task_attempts(spark)
        self.tasks, self.failed_tasks = self.tasks + tasks, self.failed_tasks + failed
        return spark

    def stop(self) -> None:
        if self.spark is not None:
            self._count().stop()

    def shutdown(self) -> None:
        """Stop the JVM too (this also flushes an event log) and wait for
        it and its Python workers to exit."""
        if self.spark is not None:
            host.shutdown(self._count())


def _unit_record(u) -> dict:
    return {"wall_s": u.wall_s, "docs": u.docs, "latencies_s": u.latencies_s, **u.extra}


def _timed(sessions: Sessions, wl, seconds: float, checks, record: dict) -> dict:
    """Units of work with tracing off until ``seconds`` have passed; the
    end-to-end metrics."""
    from perfbench.trace import Tracer, summarize

    spark = sessions.spark
    off = Tracer(enabled=False)
    units, t0 = [], time.perf_counter()
    with host.RssSampler(host.jvm_pid(spark)) as rss:
        while not units or time.perf_counter() - t0 < seconds:
            units.append(wl.unit(spark, off, checks))
    record["phases"]["measure_s"] = time.perf_counter() - t0
    latency = summarize([x for u in units for x in u.latencies_s])
    if hasattr(wl, "pinned_pass"):
        # (docs/s on every CPU / docs/s pinned to one) / nproc, extract
        # only: one pinned pass a run, kept in the record
        t1 = wl.pinned_pass(spark)
        t_all = statistics.median(u.wall_s for u in units)
        record["scaling_eff_1_4"] = t1 / t_all / sessions.machine.cpus
    record.update(
        {
            "units": [_unit_record(u) for u in units],
            "latency": latency,
            # not gated: G1's heap-growth timing and Python-worker
            # placement move it by a quarter or more from run to run on
            # the same input
            "peak_rss_mb": rss.peak_mb,
            "rss_detail": rss.peak_detail,
        }
    )
    return {
        "docs_per_s": (statistics.median(u.docs / u.wall_s for u in units), "docs/s"),
        "batch_p50_s": (latency["p50"], "s"),
    }


def _traced(sessions: Sessions, wl, workload: str, checks, record: dict) -> dict:
    """A warm-up unit, one untraced unit in a fresh SparkContext, then
    one traced unit in a fresh SparkContext with the event log on (both
    start from a warm JVM and new Python workers, so their difference is
    the tracing overhead); the per-layer table."""
    from perfbench import eventlog, layers
    from perfbench.trace import Tracer

    t0 = time.perf_counter()
    off = Tracer(enabled=False)
    wl.unit(sessions.spark, off, checks)  # compiles the unit's plans in the JVM
    ref = wl.unit(sessions.fresh(), off, checks)
    log_dir = os.path.join(wl.work, "eventlog")
    spark = sessions.fresh(event_log_dir=log_dir)
    tracer = Tracer()
    traced = wl.unit(spark, tracer, checks)
    ratios = wl.ratios(spark, traced)
    sessions.shutdown()
    record["phases"]["trace_s"] = time.perf_counter() - t0
    log = eventlog.parse(log_dir, set(layers.CALLS))
    traced_dps = traced.docs / traced.wall_s
    ref_dps = ref.docs / ref.wall_s
    ratios.update(
        {
            "trace.docs_per_s_untraced": ref_dps,
            "trace.docs_per_s_traced": traced_dps,
            "trace.overhead_frac": 1 - traced_dps / ref_dps,
        }
    )
    per_layer = layers.table(
        tracer.spans, log, layers.rows_out(workload, traced, log),
        sessions.machine.cpus, ratios,
    )
    tracer.dump(os.path.join(wl.work, "spans.json"))
    record.update(
        {
            "units": [_unit_record(u) for u in (ref, traced)],
            "spill_mb": sum(c.spill_b for c in log.calls.values()) / 1e6,
        }
    )
    return {k: (v, layers.unit_of(k)) for k, v in per_layer.items()}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(host.ROOT, "ktpm___ocr_spark", "__init__.py")):
        print(f"perfbench: no ktpm___ocr_spark/ package in {host.ROOT}", file=sys.stderr)
        return 2

    from perfbench.workloads import WORKLOADS, Checks

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(host.ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    machine = host.Host.detect()
    wl = WORKLOADS[args.workload](work, args.seed)
    record = {
        "workload": args.workload, "seed": args.seed, **host.stamp(machine),
        "input": wl.sizes, "phases": {},
    }
    cpu_start = host.cpu_ticks()

    sessions, setups, checks = Sessions(machine, work), [], Checks()
    try:
        # setup_s is reported by the timed run only
        for _ in range(1 if args.trace else SETUPS):
            t0 = time.perf_counter()
            wl.setup(sessions.spark or sessions.fresh())
            setups.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.prepare(sessions.spark)
        wl.check(sessions.spark, checks)
        record["phases"].update({"setup_s": sum(setups), "prepare_s": time.perf_counter() - t0})
        if args.trace:
            metrics = _traced(sessions, wl, args.workload, checks, record)
        else:
            metrics = _timed(sessions, wl, args.seconds, checks, record)
            metrics["setup_s"] = (statistics.median(setups), "s")
    finally:
        sessions.shutdown()

    batches = sum(u.get("batches", 0) for u in record["units"])
    attempted = sessions.tasks + batches + checks.attempted
    failed = sessions.failed_tasks + checks.failed
    record.update(
        {
            "loadavg_1m_end": host.loadavg_1m(),
            "steal_frac": host.steal_frac(cpu_start, host.cpu_ticks()),
            "setup_s_each": setups,
            "failed_frac": failed / attempted,
            "check_failures": checks.notes,
        }
    )
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1)
    print(json.dumps(record))
    if args.trace:
        for k, (v, u) in metrics.items():
            print(f"  {k:<48} {v:>14.4f} {u}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
