"""The per-layer table: one row of metrics per layer call.

Layers are named by engine module and each metric by
``<layer>.<call>.<metric>``. Every workload reports every metric; a
call the workload never makes reads 0.
"""

from __future__ import annotations

from collections import defaultdict

from perfbench import eventlog as ev
from perfbench.chain import COMMIT, STAGE_CALLS
from perfbench.trace import Span, self_times
from perfbench.workloads import BATCH, EXTRACT, INCREMENTAL

CALLS = [
    EXTRACT,
    "text_kernels.gate",
    "text_kernels.embed",
    "dedup.line_dedup",
    "dedup.minhash_pairs",
    "dedup.cc_clusters",
    "dedup.canonical_ids",
    "dedup.canonical_keep",
    INCREMENTAL,
    "similarity.embed_center",
    "similarity.semantic_dups",
    "textstats.mixture_plan",
    "packing.packing",
    COMMIT,
    BATCH,
]
# calls that run a MapInArrow kernel / an Exchange. No workload spills
# at its size, so disk spill is a run total in the record, not a column.
ARROW_CALLS = {
    EXTRACT, "text_kernels.gate", "text_kernels.embed", "dedup.minhash_pairs",
    INCREMENTAL, "similarity.semantic_dups", BATCH,
}
SHUFFLE_CALLS = {
    "dedup.line_dedup", "dedup.minhash_pairs", "dedup.cc_clusters",
    "dedup.canonical_ids", INCREMENTAL, "similarity.semantic_dups",
    "textstats.mixture_plan", "packing.packing", BATCH,
}
# verify kernels, named by the metric column they add
VERIFIED = {
    "dedup.minhash_pairs": ("jaccard",),
    INCREMENTAL: ("jaccard",),
    "similarity.semantic_dups": ("cos",),
}
TRACE = ["trace.docs_per_s_untraced", "trace.docs_per_s_traced", "trace.overhead_frac"]
EXTRA = [
    f"{EXTRACT}.spans_kept_ratio",
    "text_kernels.gate.kept_ratio",
    f"{BATCH}.self_s",
] + [f"{c}.candidate_precision" for c in VERIFIED]


def _call_metrics(call: str) -> list[str]:
    if call == COMMIT:  # manifest work on the driver: no Spark tasks
        return ["wall_s", "rows_out"]
    names = ["wall_s", "rows_out", "task_s", "core_util", "task_skew"]
    if call in ARROW_CALLS:
        names += ["py_run_s", "py_init_s", "arrow_to_py_mb", "arrow_from_py_mb"]
    if call in SHUFFLE_CALLS:
        names += ["shuffle_write_mb"]
    return names


def metric_names() -> list[str]:
    return [f"{c}.{m}" for c in CALLS for m in _call_metrics(c)] + EXTRA + TRACE


UNITS = {
    "wall_s": "s", "task_s": "s", "py_run_s": "s", "py_init_s": "s", "self_s": "s",
    "rows_out": "count", "core_util": "ratio", "task_skew": "ratio",
    "arrow_to_py_mb": "MB", "arrow_from_py_mb": "MB", "shuffle_write_mb": "MB",
    "docs_per_s_untraced": "docs/s", "docs_per_s_traced": "docs/s",
}


def unit_of(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[1], "ratio")


def rows_out(workload: str, unit, log: ev.EventLog) -> dict[str, float]:
    """Rows each call wrote in the traced unit."""
    if workload == "extract":
        return {EXTRACT: log.output_rows_of(EXTRACT, "MapInArrow")}
    if workload == "corpus_build":
        rows = unit.extra["rows"]
        out = {STAGE_CALLS[s]: n for s, n in rows.items()}
        out[COMMIT] = sum(rows.values())
        return out
    return {BATCH: unit.docs, INCREMENTAL: unit.extra["pairs"]}


def table(
    spans: list[Span], log: ev.EventLog, rows: dict[str, float], cpus: int, ratios: dict
) -> dict[str, float]:
    """Every per-layer metric from the traced unit's spans and log."""
    wall: dict[str, float] = defaultdict(float)
    own: dict[str, float] = defaultdict(float)
    selft = self_times(spans)
    for s in spans:
        wall[s.name] += s.duration
        own[s.name] += selft[s.id]
    out: dict[str, float] = dict.fromkeys(metric_names(), 0.0)
    for call in CALLS:
        st = log.call(call)
        w = own[call] if call == COMMIT else wall[call]
        vals = {
            "wall_s": w,
            "rows_out": rows.get(call, 0),
            "task_s": st.task_s,
            "core_util": st.task_s / (w * cpus) if w else 0.0,
            "task_skew": st.task_skew,
            "py_run_s": st.acc.get(ev.PY_RUN, 0.0) / 1000,
            "py_init_s": (st.acc.get(ev.PY_START, 0.0) + st.acc.get(ev.PY_INIT, 0.0)) / 1000,
            "arrow_to_py_mb": st.acc.get(ev.TO_PY, 0.0) / 1e6,
            "arrow_from_py_mb": st.acc.get(ev.FROM_PY, 0.0) / 1e6,
            "shuffle_write_mb": st.shuffle_write_b / 1e6,
        }
        for m in _call_metrics(call):
            out[f"{call}.{m}"] = vals[m]
    out[f"{BATCH}.self_s"] = own[BATCH]
    for call, cols in VERIFIED.items():
        cand = log.input_rows_of(call, cols)
        out[f"{call}.candidate_precision"] = rows.get(call, 0) / cand if cand else 0.0
    out.update(ratios)
    return out
