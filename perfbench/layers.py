"""Per-layer metrics of a traced run, from call spans plus the event log.

Each timed call leaves a ``CallSpan``: its wall-clock span (split into the
compute and finish parts) and the job groups those parts ran under. The
event-log reduction (``eventlog.call_figures``) turns each part into
figures; this module sums them per layer and divides by the number of
timed passes, so every metric reads "per pass".

METRICS lists every per-layer metric with its unit; BENCHMARK.json's
``per_layer`` and METRICS.md follow it. A metric that does not apply to a
workload reads 0 there (graph metrics on relational_mix, for example).
"""

from __future__ import annotations

from dataclasses import dataclass

from eventlog import Figures, Trace, call_figures, median
from workloads import MODULE_LAYERS

_GRAPH = [
    ("wall_s", "s"), ("actions", "count"), ("jobs", "count"), ("tasks", "count"),
    ("job_s", "s"), ("driver_gap_s", "s"), ("task_run_s", "s"), ("task_cpu_s", "s"),
    ("gc_s", "s"), ("shuffle_write_mb", "MB"), ("shuffle_read_mb", "MB"),
    ("supersteps", "count"), ("jobs_per_superstep", "count"), ("superstep_s", "s"),
    ("superstep_gap_s", "s"), ("sizing_actions", "count"), ("convergence_actions", "count"),
]
_MODULE = [("wall_s", "s"), ("driver_gap_s", "s"), ("task_cpu_s", "s"), ("tasks", "count"),
           ("shuffle_write_mb", "MB")]

METRICS: list[tuple[str, str]] = (
    [(f"graph.{m}", u) for m, u in _GRAPH]
    + [("plans.checkpoint_s", "s"), ("plans.checkpoint_mb", "MB"),
       ("plans.tasks_per_stage", "count"), ("plans.task_median_ms", "ms"),
       ("plans.tiny_task_frac", "ratio")]
    + [("sources.input_mb", "MB"), ("sources.scan_task_s", "s"), ("sources.write_s", "s"),
       ("sources.output_mb", "MB")]
    + [(f"{mod}.{m}", u) for mod in MODULE_LAYERS for m, u in _MODULE]
    + [("udf.python_s", "s")]
    + [("session.get_spark_s", "s"), ("session.stage_inputs_s", "s")]
    + [("host.cold_pass_s", "s"), ("host.jvm_peak_rss_mb", "MB"),
       ("host.storage_retained_mb", "MB"), ("host.spill_mb", "MB"), ("host.steal_pct", "%")]
    + [("trace.overhead_s", "s"), ("error_rate", "ratio")]
)
UNITS = dict(METRICS)
TINY_TASK_MS = 10


@dataclass
class CallSpan:
    """One timed call. Times are epoch milliseconds: ``start`` to ``split``
    is the compute part (job group ``group``), ``split`` to ``end`` the
    finish part (job group ``group + '#out'``)."""

    call: str
    layer: str
    finish_layer: str | None
    group: str
    start: float
    split: float
    end: float


def _per_call(tr: Trace, s: CallSpan) -> tuple[Figures, Figures | None]:
    out = s.group + "#out"
    if s.finish_layer is None:
        return call_figures(tr, s.group, s.start, s.end, output_group=out), None
    return (call_figures(tr, s.group, s.start, s.split),
            call_figures(tr, out, s.split, s.end))


def layer_metrics(tr: Trace, spans: list[CallSpan], passes: int) -> dict[str, float]:
    """Event-log-derived per-layer metrics, per timed pass."""
    graph, every, written = Figures(), Figures(), Figures()
    modules = {mod: Figures() for mod in MODULE_LAYERS}
    for s in spans:
        main, finish = _per_call(tr, s)
        every.add(main)
        if finish is not None:
            every.add(finish)
            if s.finish_layer == "sources":
                written.add(finish)
        if s.layer == "graph":
            graph.add(main)
        elif s.layer in modules:
            modules[s.layer].add(main)

    n = max(1, passes)
    m: dict[str, float] = {}
    for name, _ in _GRAPH:
        if name not in ("jobs_per_superstep", "superstep_s", "superstep_gap_s"):
            m[f"graph.{name}"] = getattr(graph, name) / n
    m["graph.jobs_per_superstep"] = graph.jobs / graph.supersteps if graph.supersteps else 0.0
    m["graph.superstep_s"] = median(graph.superstep_ms) / 1e3
    m["graph.superstep_gap_s"] = median(graph.superstep_gap_ms) / 1e3
    m["plans.checkpoint_s"] = every.checkpoint_s / n
    m["plans.checkpoint_mb"] = every.checkpoint_mb / n
    m["plans.tasks_per_stage"] = every.tasks / every.stages if every.stages else 0.0
    m["plans.task_median_ms"] = median(every.task_ms)
    m["plans.tiny_task_frac"] = (
        sum(1 for t in every.task_ms if t < TINY_TASK_MS) / len(every.task_ms)
        if every.task_ms else 0.0)
    m["sources.input_mb"] = every.input_mb / n
    m["sources.scan_task_s"] = every.scan_task_s / n
    m["sources.write_s"] = written.wall_s / n
    m["sources.output_mb"] = written.output_mb / n
    for mod, f in modules.items():
        for name, _ in _MODULE:
            m[f"{mod}.{name}"] = getattr(f, name) / n
    m["udf.python_s"] = every.python_s / n
    m["host.spill_mb"] = every.spill_mb / n
    return m
