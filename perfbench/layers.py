"""Metric catalog and the per-layer metrics of a traced run.

Per-operation figures are means over the traced loop's operations (one
import, or one query execution), so runs of different lengths compare. A
layer the workload does not reach reports 0.
"""

from __future__ import annotations

import math

from spans import TaskTotals

FULL_TABLES = (
    "page", "revision", "contributor", "text", "pagelinks", "redirect",
    "pagelinks_resolved",
)
JDBC_TABLES = ("page", "redirect", "pagelinks_resolved")

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_geomean_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "plan.exchanges": "count",
    "plan.broadcast_joins": "count",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.core_utilisation": "ratio",
    "xml_pages.parse_s": "s",
    "xml_pages.scan_partitions": "count",
    "xml_pages.build_s": "s",
    "xml_pages.cached_mb_after": "MB",
    "dump_multistream.scan_s": "s",
    "dump_multistream.scan_partitions": "count",
    **{f"io.sink_parquet_s.{t}": "s" for t in FULL_TABLES},
    **{f"io.sink_jdbc_s.{t}": "s" for t in JDBC_TABLES},
    "io.jdbc_rows_per_s": "1/s",
    **{f"io.parquet_bytes.{t}": "bytes" for t in FULL_TABLES},
    "io.lake_bytes_per_dump_byte": "ratio",
    "trace.op_p50_s": "s",
    "trace.overhead_p50_s": "s",
    "trace.overhead_ops_per_s": "1/s",
}


def percentile(values: list[float], p: float) -> float:
    """The ``p``-th percentile with linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        return math.nan
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean_of_medians(by_op: dict[str, list[float]]) -> float:
    """The geometric mean, over operation types, of each type's median
    latency. Over a mix of queries of different lengths the median of all
    executions sits in a gap between two queries and jumps across it; this
    weighs every query's own median alike, so a change of x% to any one of
    n queries moves it by about x/n%."""
    medians = [percentile(v, 50) for v in by_op.values() if v]
    if not medians:
        return 0.0
    return math.exp(sum(math.log(m) for m in medians) / len(medians))


TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest of ``TAIL_PERCENTILES`` with at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in TAIL_PERCENTILES:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= 10:
            return p
    return None


def units() -> dict[str, str]:
    return {**END_TO_END_UNITS, **PER_LAYER_UNITS}


def per_layer(out, e2e: dict, events: dict[str, TaskTotals], cpus: int) -> dict[str, float]:
    """Every per-layer metric for a traced run's outcome ``out``."""
    tracer = out.tracer
    traced = out.traced
    ops = [s for s in tracer.spans if s.name in ("query", "import")]
    n_ops = max(1, len(ops))
    m = {k: 0.0 for k in PER_LAYER_UNITS}

    def per_op(name: str, attr: str = "seconds") -> float:
        return sum(getattr(s, attr) for s in tracer.named(name)) / n_ops

    is_query = any(s.name == "query" for s in ops)
    m["queries.build_s"] = per_op("queries.build")
    m["queries.build_jobs"] = per_op("queries.build", "jobs")
    m["catalyst.plan_s"] = per_op("catalyst.plan")
    sink_spans = tracer.named("io.sink_parquet") + tracer.named("io.sink_jdbc")
    m["exec.exec_s"] = (
        per_op("exec") if is_query else sum(s.seconds for s in sink_spans) / n_ops
    )

    totals = TaskTotals()
    jobs = stages = tasks = 0
    for op in ops:
        for s in tracer.subtree(op):
            jobs += s.jobs
            stages += s.stages
            tasks += s.tasks
            if s.span_id in events:
                totals.add(events[s.span_id])
    m["exec.jobs"] = jobs / n_ops
    m["exec.stages"] = stages / n_ops
    m["exec.tasks"] = tasks / n_ops
    m["exec.failed_tasks"] = sum(t.failed_tasks for t in events.values())
    m["exec.shuffle_write_bytes"] = totals.shuffle_write_bytes / n_ops
    m["exec.shuffle_read_bytes"] = totals.shuffle_read_bytes / n_ops
    m["exec.spill_bytes"] = totals.spill_bytes / n_ops
    m["exec.executor_run_s"] = totals.executor_run_ms / 1e3 / n_ops
    m["exec.executor_cpu_s"] = totals.executor_cpu_ns / 1e9 / n_ops
    if m["exec.exec_s"] > 0:
        m["exec.core_utilisation"] = m["exec.executor_run_s"] / (m["exec.exec_s"] * cpus)

    xml_build = [
        s for s in tracer.spans
        if s.name.startswith("xml_pages.") and s.name != "xml_pages.scan"
        and not any(p.name.startswith("xml_pages.") for p in _ancestors(tracer, s))
    ]
    m["xml_pages.build_s"] = sum(s.seconds for s in xml_build) / n_ops
    for s in tracer.named("io.sink_parquet"):
        key = f"io.sink_parquet_s.{s.attrs['table']}"
        if key in m:
            m[key] += s.seconds / n_ops
    jdbc_s = 0.0
    for s in tracer.named("io.sink_jdbc"):
        m[f"io.sink_jdbc_s.{s.attrs['table']}"] += s.seconds / n_ops
        jdbc_s += s.seconds
    if jdbc_s > 0:
        rows = sum(out.info["table_rows"].get(t, 0) for t in JDBC_TABLES) * n_ops
        m["io.jdbc_rows_per_s"] = rows / jdbc_s
    for t, b in out.info.get("table_bytes", {}).items():
        m[f"io.parquet_bytes.{t}"] = b
    if "lake_bytes" in out.info:
        m["io.lake_bytes_per_dump_byte"] = out.info["lake_bytes"] / out.info["input_bytes"]

    m.update(out.layers)
    lat = traced.latencies
    m["trace.op_p50_s"] = percentile(lat, 50) if lat else 0.0
    untraced = out.loop.latencies
    m["trace.overhead_p50_s"] = m["trace.op_p50_s"] - (percentile(untraced, 50) if untraced else 0.0)
    traced_rate = len(lat) / traced.elapsed if traced.elapsed else 0.0
    m["trace.overhead_ops_per_s"] = e2e["ops_per_s"] - traced_rate
    return m


def _ancestors(tracer, span):
    by_id = {s.span_id: s for s in tracer.spans}
    p = by_id.get(span.parent)
    while p is not None:
        yield p
        p = by_id.get(p.parent)
