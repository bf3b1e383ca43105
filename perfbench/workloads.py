"""The workloads: inputs from the seed, one unit of measured work, and
the checks on its outputs.

All three are closed loops: one driver thread runs one job or
micro-batch at a time. Every input is generated from the seed by
``sources.generator.synth_corpus`` (1/1000 of docs are 9-11k-span
mega-docs, ~9 % are planted exact duplicates) and written to parquet;
the engine only ever reads that parquet.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from ktpm___ocr_spark.sources.generator import materialize

from perfbench import host
from perfbench.chain import doc_text, run_chain, set_call
from perfbench.trace import Tracer

EXTRACT = "arrow_native.extract"
INCREMENTAL = "dedup.incremental"
BATCH = "streaming.batch"

# Input sizes, bounded by the run budget (see README). Docs i with
# i % 1000 == 999 are mega-docs: the extract and corpus inputs hold
# some, the nightly base none.
EXTRACT_DOCS = 4000
CORPUS_DOCS = 3000
NIGHTLY_BASE_DOCS = 400
NIGHTLY_INCREMENTS = 6
NIGHTLY_INC_DOCS = 45


@dataclass
class Checks:
    """Output checks; every failed check counts in ``failed``."""

    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)

    def expect(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 20:
                self.notes.append(what)


@dataclass
class Unit:
    """One unit of measured work."""

    wall_s: float  # what docs_per_s divides by
    latencies_s: list[float]  # what batch_p50_s summarizes
    docs: int
    extra: dict = field(default_factory=dict)


def _spans(docs) -> int:
    """Total spans over a documents(doc_id, spans) frame."""
    from pyspark.sql import functions as F

    return docs.select(F.sum(F.size("spans"))).first()[0]


class Extract:
    """``extract_arrow_native`` over the corpus into a noop sink, one pass
    per unit; ``pinned_pass`` gives the one-CPU side of the scaling pair."""

    name = "extract"
    sizes = {"docs": EXTRACT_DOCS}

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.corpus = os.path.join(work, "corpus")

    def setup(self, spark) -> None:
        partitions = 4 * spark.sparkContext.defaultParallelism
        materialize(spark, self.corpus, EXTRACT_DOCS, self.seed, partitions)

    def prepare(self, spark) -> None:
        pass

    def _pass(self, spark, tracer: Tracer) -> float:
        from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

        t0 = time.perf_counter()
        with tracer.span(EXTRACT):
            set_call(spark, EXTRACT)
            df = extract_arrow_native(spark.read.parquet(self.corpus))
            df.write.format("noop").mode("overwrite").save()
            set_call(spark, None)
        return time.perf_counter() - t0

    def unit(self, spark, tracer: Tracer, checks: Checks) -> Unit:
        t = self._pass(spark, tracer)
        return Unit(t, [t], EXTRACT_DOCS)

    def pinned_pass(self, spark) -> float:
        """A pass with the JVM and its Python workers pinned to one CPU."""
        jvm = host.jvm_pid(spark)
        everything = os.sched_getaffinity(0)
        host.pin(jvm, {min(everything)})
        try:
            return self._pass(spark, Tracer(enabled=False))
        finally:
            host.pin(jvm, everything)

    def ratios(self, spark, unit: Unit) -> dict[str, float]:
        from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

        docs = spark.read.parquet(self.corpus)
        return {f"{EXTRACT}.spans_kept_ratio": _spans(extract_arrow_native(docs)) / _spans(docs)}

    def check(self, spark, checks: Checks) -> None:
        """Span-sequence equality against the pure-Python oracle on a
        deterministic sample: two mega-docs and every 47th doc."""
        from pyspark.sql import functions as F

        from ktpm___ocr_spark.oracle import extract_corpus
        from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

        ids = [f"doc{i:08d}" for i in (999, 1999)] + [
            f"doc{i:08d}" for i in range(0, EXTRACT_DOCS, 47)
        ]
        # extraction is per document, so the sample is extracted alone
        sample = spark.read.parquet(self.corpus).filter(F.col("doc_id").isin(ids))
        want = extract_corpus([r.asDict(recursive=True) for r in sample.collect()])
        got = {
            r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in extract_arrow_native(sample).collect()
        }
        checks.expect(len(want) == len(ids), f"sample has {len(want)} of {len(ids)} docs")
        for doc_id, spans in want.items():
            checks.expect(got.get(doc_id) == spans, f"{doc_id}: spans differ from oracle")


class CorpusBuild:
    """The 12-stage corpus-build chain, every stage committed to parquet.
    A unit is one pass. Its batches are the stages (call, write and
    commit), so ``batch_p50_s`` is the median stage latency. No warm-up
    pass: a corpus build is one chain per driver, so the measured pass
    pays the Python-worker start a real build pays."""

    name = "corpus_build"
    sizes = {"docs": CORPUS_DOCS}

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.corpus = os.path.join(work, "corpus")
        self.chain_dir = os.path.join(work, "chain")
        self.first_rows: dict[str, int] | None = None

    def setup(self, spark) -> None:
        materialize(spark, self.corpus, CORPUS_DOCS, self.seed)

    def prepare(self, spark) -> None:
        pass

    def unit(self, spark, tracer: Tracer, checks: Checks) -> Unit:
        t0 = time.perf_counter()
        rows, stage_s = run_chain(spark, self.corpus, CORPUS_DOCS, self.chain_dir, tracer)
        wall = time.perf_counter() - t0
        self._check(rows, checks)
        return Unit(wall, list(stage_s.values()), CORPUS_DOCS, {"rows": rows})

    def ratios(self, spark, unit: Unit) -> dict[str, float]:
        rows = unit.extra["rows"]
        out = spark.read.parquet(os.path.join(self.chain_dir, "extract"))
        return {
            f"{EXTRACT}.spans_kept_ratio": _spans(out) / _spans(spark.read.parquet(self.corpus)),
            "text_kernels.gate.kept_ratio": rows["gate"] / rows["extract"],
        }

    def _check(self, rows: dict[str, int], checks: Checks) -> None:
        """Every planted exact-duplicate pair (doc i clones doc i-5 when
        i % 11 == 10) whose two docs survive gate and line_dedup is a
        minhash pair; each stage writes as many rows as in the first
        pass."""
        import pyarrow.parquet as pq

        if self.first_rows is None:
            self.first_rows = rows
        for stage, n in rows.items():
            checks.expect(
                n == self.first_rows[stage],
                f"{stage}: {n} rows, first pass wrote {self.first_rows[stage]}",
            )
        kept = set(pq.read_table(os.path.join(self.chain_dir, "line_dedup"), columns=["id"])["id"].to_pylist())
        pairs_t = pq.read_table(os.path.join(self.chain_dir, "minhash_pairs"), columns=["id_a", "id_b"])
        pairs = set(zip(pairs_t["id_a"].to_pylist(), pairs_t["id_b"].to_pylist()))
        for i in range(10, CORPUS_DOCS, 11):
            if i - 5 in kept and i in kept:
                checks.expect((i - 5, i) in pairs, f"planted pair ({i - 5}, {i}) not found")

    def check(self, spark, checks: Checks) -> None:
        pass  # checked after every unit


@contextmanager
def wrapped(module, attr: str, make_wrapper):
    """Temporarily replace ``module.attr`` with ``make_wrapper(original)``."""
    original = getattr(module, attr)
    setattr(module, attr, make_wrapper(original))
    try:
        yield
    finally:
        setattr(module, attr, original)


def _epoch(ts: str) -> float:
    """Streaming progress timestamp (``2026-01-01T00:00:00.123Z``) -> epoch s."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class NightlyIncrement:
    """K increment files through ``streaming.jobs.incremental_dedup_stream``,
    one file per micro-batch, against a base corpus banded in set-up."""

    name = "nightly_increment"
    sizes = {
        "base_docs": NIGHTLY_BASE_DOCS,
        "increments": NIGHTLY_INCREMENTS,
        "increment_docs": NIGHTLY_INC_DOCS,
    }
    INC_ID = 100_000_000  # increment i uses ids from (i + 1) * INC_ID

    def __init__(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.corpus = os.path.join(work, "corpus")
        self.texts = os.path.join(work, "base_texts")
        self.bands = os.path.join(work, "base_bands")
        self.src = os.path.join(work, "increments")
        self.reference: set[tuple[int, int]] = set()

    def setup(self, spark) -> None:
        """Generate and extract the base corpus, band it once, and write
        the increment files."""
        from ktpm___ocr_spark.operators import dedup as dd
        from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native

        materialize(spark, self.corpus, NIGHTLY_BASE_DOCS, self.seed)
        doc_text(extract_arrow_native(spark.read.parquet(self.corpus))).write.mode(
            "overwrite"
        ).parquet(self.texts)
        texts = spark.read.parquet(self.texts)
        dd.lsh_bands(texts, "id", "text").write.mode("overwrite").parquet(self.bands)
        # increment i revises base docs [i*m, i*m + m/2) and adds m/2 new
        # docs (vowel-rotated text of base docs [i*m + m/2, (i+1)*m)):
        # half near-dups of the base, half far below the threshold
        shutil.rmtree(self.src, ignore_errors=True)
        os.makedirs(self.src)
        k, m = NIGHTLY_INCREMENTS, NIGHTLY_INC_DOCS
        ordered = sorted(texts.filter(texts["id"] < k * m).collect(), key=lambda r: r["id"])
        half = m // 2
        for i in range(k):
            rows = ordered[i * m:(i + 1) * m]
            base = (i + 1) * self.INC_ID
            inc = [(base + r["id"], r["text"] + f" rev{i + 1} nightly") for r in rows[:half]]
            inc += [
                (base + r["id"], r["text"].translate(str.maketrans("aeiou", "01234")))
                for r in rows[half:]
            ]
            self._write_file(inc, os.path.join(self.src, f"inc_{i:03d}.parquet"), i)

    def _write_file(self, rows, path: str, i: int) -> None:
        """One increment as one parquet file, written on the driver with
        pyarrow; mtimes increase with i so the file source's order is
        the increment order."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ids, texts = zip(*rows)
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
            path,
        )
        t = time.time() - 3600 + i
        os.utime(path, (t, t))

    def prepare(self, spark) -> None:
        """Reference pair set, once per seed: the full-corpus LSH pairs
        (base + every increment) that touch an increment doc."""
        from pyspark.sql import functions as F

        from ktpm___ocr_spark.operators import dedup as dd

        full = spark.read.parquet(self.texts).unionByName(spark.read.parquet(self.src))
        pairs = dd.minhash_near_dups(full, "id", "text", threshold=0.6)
        self.reference = {
            (r["id_a"], r["id_b"])
            for r in pairs.filter(F.col("id_b") >= self.INC_ID).select("id_a", "id_b").collect()
        }

    def _drain(self, spark) -> tuple[float, list, list]:
        """Fresh stores seeded with the base, then every increment file
        through the stream. Returns (drain wall, progress reports,
        incremental-call intervals)."""
        from ktpm___ocr_spark.operators import dedup as dd
        from ktpm___ocr_spark.streaming.jobs import incremental_dedup_stream

        run = os.path.join(self.work, "stream")
        shutil.rmtree(run, ignore_errors=True)
        band_dir, text_dir = os.path.join(run, "bands"), os.path.join(run, "texts")
        shutil.copytree(self.bands, os.path.join(band_dir, "seed"))
        shutil.copytree(self.texts, os.path.join(text_dir, "seed"))
        calls: list[tuple[float, float]] = []

        def timed(original):
            def incremental(*args, **kwargs):
                sc = spark.sparkContext
                before = sc.getLocalProperty("spark.job.description")
                sc.setLocalProperty("spark.job.description", INCREMENTAL)
                t0 = time.time()
                try:
                    return original(*args, **kwargs)
                finally:
                    calls.append((t0, time.time()))
                    sc.setLocalProperty("spark.job.description", before)

            return incremental

        stream = (
            spark.readStream.schema("id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        t0 = time.perf_counter()
        with wrapped(dd, "incremental_near_dups", timed):
            writer = incremental_dedup_stream(
                stream, band_dir, text_dir, os.path.join(run, "pairs"), id_col="id"
            )
        q = writer.option("checkpointLocation", os.path.join(run, "checkpoint")).start()
        try:
            q.awaitTermination(120)  # a stalled stream fails the batch check
        finally:
            q.stop()
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return wall, progress, calls

    def _pairs(self) -> set[tuple[int, int]]:
        """The pair store, read by listing its per-batch subdirectories."""
        import pyarrow.parquet as pq

        root = os.path.join(self.work, "stream", "pairs")
        out = set()
        for sub in sorted(os.listdir(root)):
            t = pq.read_table(os.path.join(root, sub), columns=["id_a", "id_b"])
            out.update(zip(t["id_a"].to_pylist(), t["id_b"].to_pylist()))
        return out

    def unit(self, spark, tracer: Tracer, checks: Checks) -> Unit:
        wall, progress, calls = self._drain(spark)
        latencies = [p["durationMs"]["triggerExecution"] / 1000 for p in progress]
        for p in progress:
            start = _epoch(p["timestamp"])
            batch = tracer.add(BATCH, start, start + p["durationMs"]["triggerExecution"] / 1000)
            for c0, c1 in calls:
                if start <= c0 < batch.end:
                    tracer.add(INCREMENTAL, c0, c1, parent=batch.id)
        checks.expect(
            len(progress) == NIGHTLY_INCREMENTS,
            f"{len(progress)} batches for {NIGHTLY_INCREMENTS} files",
        )
        pairs = self._pairs()
        checks.expect(
            pairs == self.reference,
            f"pairs differ from reference: {len(pairs - self.reference)} extra, "
            f"{len(self.reference - pairs)} missing",
        )
        rows_in = sum(p["numInputRows"] for p in progress)
        return Unit(wall, latencies, rows_in, {"batches": len(progress), "pairs": len(pairs)})

    def ratios(self, spark, unit: Unit) -> dict[str, float]:
        return {}

    def check(self, spark, checks: Checks) -> None:
        pass  # checked after every unit


WORKLOADS = {w.name: w for w in (Extract, CorpusBuild, NightlyIncrement)}
