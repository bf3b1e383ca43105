"""The 12-stage corpus-build chain, driven stage by stage from outside.

The stages, their order and their parameters are those of
``bench_composed.run_chain``: extract -> gate -> line_dedup ->
minhash_pairs -> cc_clusters -> canonical_ids -> canonical_keep ->
embed -> embed_center -> semantic_dups -> mixture_plan -> packing.
Every stage is written to parquet and committed through the engine's
``metrics.StagedRun`` manifest; the next stage reads the committed
table back. Keeping the chain here, rather than calling the harness,
lets the benchmark time each call into a layer and tag its Spark jobs
without changing the engine, and keeps the workload fixed when the
harness changes.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from perfbench.trace import Tracer

# stage -> the layer call it makes (<module>.<call>)
STAGE_CALLS = {
    "extract": "arrow_native.extract",
    "gate": "text_kernels.gate",
    "line_dedup": "dedup.line_dedup",
    "minhash_pairs": "dedup.minhash_pairs",
    "cc_clusters": "dedup.cc_clusters",
    "canonical_ids": "dedup.canonical_ids",
    "canonical_keep": "dedup.canonical_keep",
    "embed": "text_kernels.embed",
    "embed_center": "similarity.embed_center",
    "semantic_dups": "similarity.semantic_dups",
    "mixture_plan": "textstats.mixture_plan",
    "packing": "packing.packing",
}
COMMIT = "metrics.commit"


def set_call(spark, call: str | None) -> None:
    """Tag the Spark jobs this thread starts from now on."""
    spark.sparkContext.setLocalProperty("spark.job.description", call)


def parquet_rows(path: str) -> int:
    """Row count of a written parquet table, from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def doc_text(df):
    """(id, text): int64 id from ``docNNNNNNNN`` and the kept text spans
    joined by newlines — the chain's document-text projection."""
    from pyspark.sql import functions as F

    return df.select(
        F.substring("doc_id", 4, 8).cast("long").alias("id"),
        F.array_join(
            F.expr("transform(filter(spans, s -> s.kind = 'text'), s -> s.text)"),
            "\n",
        ).alias("text"),
    )


def run_chain(
    spark, corpus_path: str, n_docs: int, workdir: str, tracer: Tracer
) -> tuple[dict[str, int], dict[str, float]]:
    """One fresh pass of the chain; returns rows written per stage and
    each stage's latency (its call, write and commit)."""
    from pyspark.sql import functions as F

    from ktpm___ocr_spark.functions.packing import pack_samples, token_windows
    from ktpm___ocr_spark.functions.textstats import mixture_plan
    from ktpm___ocr_spark.metrics import StagedRun
    from ktpm___ocr_spark.operators import dedup as dd
    from ktpm___ocr_spark.operators.arrow_native import extract_arrow_native
    from ktpm___ocr_spark.operators.similarity import center_vectors, embedding_near_dups
    from ktpm___ocr_spark.operators.text_kernels import (
        gopher_filter_arrow,
        hashed_bow_embedding_arrow,
    )

    shutil.rmtree(workdir, ignore_errors=True)
    sr = StagedRun(spark, workdir)
    rows: dict[str, int] = {}
    latency: dict[str, float] = {}

    def stage(name: str, mk_df):
        call = STAGE_CALLS[name]
        started: list[float] = []

        def thunk():
            started.append(time.time())
            set_call(spark, call)
            return mk_df()

        t0 = time.perf_counter()
        with tracer.span(COMMIT):
            out, _skipped, wall = sr.run_stage(name, thunk)
            set_call(spark, None)
            # run_stage's returned wall covers the thunk and the write
            tracer.add(call, started[0], started[0] + wall)
        latency[name] = time.perf_counter() - t0
        rows[name] = parquet_rows(out)
        return spark.read.parquet(out)

    docs = spark.read.parquet(corpus_path)
    ex = doc_text(stage("extract", lambda: extract_arrow_native(docs)))
    gated = stage("gate", lambda: gopher_filter_arrow(ex, "text"))
    clean = stage(
        "line_dedup",
        lambda: dd.boilerplate_line_filter(gated, "id", "text", max_line_df=4)
        .select("id", F.col("clean_text").alias("text"))
        .filter(F.length("text") > 0),
    )
    pairs = stage(
        "minhash_pairs", lambda: dd.minhash_near_dups(clean, "id", "text", threshold=0.6)
    )
    cc = stage("cc_clusters", lambda: dd.connected_components(pairs))
    canon = stage("canonical_ids", lambda: dd.keep_canonical(clean, cc, id_col="id"))
    drop = (
        cc.join(canon, "cluster_id")
        .filter(F.col("node") != F.col("keep_id"))
        .select(F.col("node").alias("id"))
    )
    surv = stage("canonical_keep", lambda: clean.join(drop, "id", "left_anti"))
    emb_raw = stage(
        "embed", lambda: hashed_bow_embedding_arrow(surv, "id", "text", dim=32)
    )
    emb = stage(
        "embed_center", lambda: center_vectors(emb_raw, "id", "vec", dim=32)
    ).repartition(spark.sparkContext.defaultParallelism * 8)
    n_planes = max(8, math.ceil(math.log2(max(n_docs, 1024) / 25)))
    stage(
        "semantic_dups",
        lambda: embedding_near_dups(
            emb, id_col="id", vec_col="vec", threshold=0.95, n_planes=n_planes, dim=32
        ),
    )
    hosted = surv.withColumn(
        "host", F.concat(F.lit("h"), (F.abs(F.xxhash64("id")) % 200))
    )
    stage("mixture_plan", lambda: mixture_plan(hosted, "host", "text", budget=100_000_000))
    wins = token_windows(hosted, "id", "text", size=512, stride=512).join(
        hosted.select("id", "host"), "id"
    )
    stage(
        "packing",
        lambda: pack_samples(
            wins.select(
                (F.col("id") * 100_000 + F.col("win_idx")).alias("wid"),
                "n_tokens",
                "host",
            ),
            id_col="wid",
            tokens_col="n_tokens",
            part_col="host",
            capacity=2048,
        ),
    )
    return rows, latency

