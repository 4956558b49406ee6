"""The benchmark's metrics: what each measures, on which layer, and which
end-to-end metric it should move on which workload.  `BENCHMARK.json`
lists the same names (tests/test_workloads.py keeps the two in step); the
traced run prints each per-layer value with its layer and prediction.
"""

from __future__ import annotations

from dataclasses import dataclass

from .trace import EVENT_METRICS, Span, root_self_time, self_times
from .workloads import WORKLOADS


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str  # "lower" | "higher"
    layer: str = ""
    moves: str = ""  # the end-to-end metric and workload it should move


END_TO_END = (
    Metric("latency_s_p50", "s", "lower",
           moves="median wall of one unit: a run_linkage call until the "
           "clusters snapshot is committed, or one process_linkage_batch call"),
    Metric("cpu_s_p50", "s", "lower",
           moves="median CPU seconds (user + system) the process tree spends "
           "in one unit: the compute a unit costs, whatever else the host runs"),
    Metric("pages_per_s", "pages/s", "higher",
           moves="pages linked per second at the workload's corpus size"),
    Metric("peak_pss_mb", "MB", "lower",
           moves="peak summed PSS of the process tree (JVM + Python workers)"),
    Metric("setup_s", "s", "lower",
           moves="session start + corpus generation + one untimed warm-up unit"),
)

# run_linkage's store stages, in pipeline order
BATCH_STAGES = (
    "features", "blocks", "oversized_blocks", "pairs", "scored",
    "metrics_score_hist", "metrics_lineage", "links", "clusters",
)
# stages the incremental path also keeps a store for
STREAM_STAGES = ("features", "blocks", "pairs", "links", "clusters")
STREAM_BATCHES = WORKLOADS["stream_dup4"].micro_batches  # indices reported

# Per-layer times are shares of the traced wall (or of the traced unit's
# summed task time): a layer that a workload does not run then reads 0
# as a ratio, never as a time that is exactly 0 on every run.  Absolute
# times are only the unit-level ones every workload measures; a stage's
# seconds are its share times `trace.wall_s`.
_BATCH = "batch_dup4 and batch_unique"
_LAYERS = {
    "features": ("operators.features + functions.embedder/minhash_np",
                 "pages_per_s on batch_unique"),
    "blocks": ("operators.features.band_keys_from_sig + embedder.hyperplane_lsh_udf",
               "pages_per_s on batch_unique"),
    "oversized_blocks": ("operators.pairs", "pages_per_s, missed_pairs on batch_dup4"),
    "pairs": ("operators.pairs", "pages_per_s, missed_pairs on batch_dup4"),
    "scored": ("operators.scoring + functions.similarity", "latency_s_p50 on batch_dup4"),
    "links": ("operators.scoring.match_links", "latency_s_p50 on batch_dup4"),
    "metrics_score_hist": ("metrics", "latency_s_p50 on batch_dup4"),
    "metrics_lineage": ("metrics", "latency_s_p50 on batch_dup4"),
    "clusters": ("operators.cc",
                 "latency_s_p50 on batch_dup4; fixed cost only on batch_unique"),
}
# event-log figures kept per stage: the ones a change to that stage is
# most likely to move
_EVENT_KEPT = {
    "features": ("task_share",),
    "blocks": ("shuffle_write_mb",),
    "pairs": ("task_share", "shuffle_read_mb", "spill_mb"),
    "scored": ("task_share", "shuffle_read_mb"),
    "clusters": ("task_share", "shuffle_read_mb"),
}
_UNIT = {"self_share": "ratio", "task_share": "ratio", "shuffle_read_mb": "MB",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "bytes_written_mb": "MB",
         "spark_jobs": "count", "tasks": "count", "failed_tasks": "count",
         "rows_out": "count", "files_written": "count"}


def _per_layer() -> tuple[Metric, ...]:
    out = [
        Metric("trace.wall_s", "s", "lower", "linkbench tracing",
               "latency_s_p50: the traced run_linkage call or stream pass"),
        Metric("trace.overhead_s", "s", "lower", "linkbench tracing",
               "none: traced wall minus the mean of the untraced units before "
               "and after it"),
        Metric("trace.span_share", "ratio", "higher", "linkbench tracing",
               "none: share of the traced wall inside stage spans"),
        Metric("unit.executor_run_s", "s", "lower", "all Spark tasks of the traced unit",
               "cpu_s_p50 on every workload"),
        Metric("unit.executor_cpu_s", "s", "lower", "all Spark tasks of the traced unit",
               "cpu_s_p50 on every workload"),
        Metric("linkage.self_share", "ratio", "lower", "plans.linkage (driver planning)",
               f"latency_s_p50 on {_BATCH}"),
        Metric("linkage.spark_jobs", "count", "lower", "plans.linkage",
               f"latency_s_p50 on {_BATCH}"),
    ]
    for stage in BATCH_STAGES:
        layer, moves = _LAYERS[stage]
        for n in ("self_share", "spark_jobs", "tasks", "failed_tasks",
                  *_EVENT_KEPT.get(stage, ()), "rows_out"):
            out.append(Metric(f"{stage}.{n}", _UNIT[n], "lower", layer, moves))
        for n in ("bytes_written_mb", "files_written"):
            out.append(Metric(f"{stage}.{n}", _UNIT[n], "lower", "sources.snapshots",
                              "latency_s_p50 on every workload"))
    out += [
        Metric("pairs.pairs_per_page", "pairs/page", "lower", "operators.pairs",
               "pages_per_s, missed_pairs on batch_dup4"),
        Metric("pairs.oversized_blocks", "count", "lower", "operators.pairs",
               "missed_pairs on batch_dup4"),
        Metric("links.link_yield", "ratio", "higher", "operators.scoring",
               "latency_s_p50 on batch_dup4 (links / scored pairs)"),
    ]
    for b in range(STREAM_BATCHES):
        for n, unit in (("wall_share", "ratio"), ("spark_jobs", "count"),
                        ("tasks", "count"), ("files_written", "count"),
                        ("shuffle_mb", "MB"), ("task_share", "ratio")):
            out.append(Metric(
                f"stream.b{b}.{n}", unit, "lower", "streaming.incremental",
                "latency_s_p50 on stream_dup4; no change on batch workloads"))
    out += [
        Metric("stream.store_mb", "MB", "lower", "streaming.incremental",
               "latency_s_p50 on stream_dup4"),
        Metric("checks.missed_pairs", "count", "lower", "correctness check",
               "gold pairs the final clusters miss (exact)"),
        Metric("checks.false_pairs", "count", "lower", "correctness check",
               "clustered pairs that are not gold pairs (exact)"),
    ]
    return tuple(out)


PER_LAYER = _per_layer()


def _common_values(v: dict, wall: float, spans: list[Span], jobs: dict[str, dict],
                   events: dict[str, dict], footprint: dict[str, dict],
                   pages: int) -> None:
    v["trace.wall_s"] = wall
    v.update({f"{s}.self_share": t / wall for s, t in self_times(spans).items()})
    for group, stats in jobs.items():
        v.update({f"{group}.{k}": x for k, x in stats.items()})
    run_s = sum(e.get("executor_run_s", 0.0) for e in events.values())
    v["unit.executor_run_s"] = run_s
    v["unit.executor_cpu_s"] = sum(e.get("executor_cpu_s", 0.0) for e in events.values())
    for group, stats in events.items():
        v.update({f"{group}.{k}": stats.get(k, 0.0) for k in EVENT_METRICS})
        v[f"{group}.task_share"] = stats.get("executor_run_s", 0.0) / run_s if run_s else 0.0
    for stage, fp in footprint.items():
        v.update({f"{stage}.{k}": x for k, x in fp.items()})
    v["pairs.pairs_per_page"] = footprint.get("pairs", {}).get("rows_out", 0) / pages


def batch_layer_values(
    *, t0: float, t1: float, spans: list[Span], jobs: dict[str, dict],
    events: dict[str, dict], footprint: dict[str, dict], pages: int,
) -> dict[str, float]:
    """Per-layer values of one traced run_linkage call: [t0, t1] is its
    wall, `spans` the store spans, `jobs`/`events` the status-tracker and
    event-log stats per job group, `footprint` the committed stages."""
    v: dict[str, float] = {}
    _common_values(v, t1 - t0, spans, jobs, events, footprint, pages)
    linkage_self = root_self_time(t0, t1, spans) / (t1 - t0)
    v["linkage.self_share"] = linkage_self
    v["trace.span_share"] = 1.0 - linkage_self
    v["pairs.oversized_blocks"] = footprint.get("oversized_blocks", {}).get("rows_out", 0)
    scored = footprint.get("scored", {}).get("rows_out", 0)
    v["links.link_yield"] = (
        footprint.get("links", {}).get("rows_out", 0) / scored if scored else 0.0
    )
    return v


def stream_layer_values(
    *, pass_wall: float, spans: list[Span], jobs: dict[str, dict],
    events: dict[str, dict], files: dict[str, int], footprint: dict[str, dict],
    store_mb: float, pages: int,
) -> dict[str, float]:
    """Per-layer values of one traced stream pass: one span (and job
    group) `stream.b<i>` per micro-batch; `files` counts the parquet
    files each micro-batch left in the store."""
    v: dict[str, float] = {}
    _common_values(v, pass_wall, spans, jobs, events, footprint, pages)
    v["trace.span_share"] = sum(s.end - s.start for s in spans) / pass_wall
    for s in spans:
        v[f"{s.name}.wall_share"] = v.pop(f"{s.name}.self_share")
        v[f"{s.name}.shuffle_mb"] = events.get(s.name, {}).get("shuffle_write_mb", 0.0)
    v.update({f"{g}.files_written": n for g, n in files.items()})
    v["stream.store_mb"] = store_mb
    pairs = footprint.get("pairs", {}).get("rows_out", 0)
    # every new pair of a micro-batch is scored: links / pairs
    v["links.link_yield"] = (
        footprint.get("links", {}).get("rows_out", 0) / pairs if pairs else 0.0
    )
    return v


def select(values: dict[str, float]) -> dict[str, float]:
    """Every PER_LAYER metric, 0 where the workload does not run the
    layer (e.g. stream.* on a batch workload)."""
    return {m.name: float(values.get(m.name, 0.0)) for m in PER_LAYER}
