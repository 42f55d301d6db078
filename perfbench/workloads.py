"""The workloads: the full dump import, and a mix of registered queries.

Each is a closed loop with one client, the driver thread, which issues
the next operation when the previous one returns. A workload function
builds its inputs (not timed), sets up (timed as ``setup_s``), checks the
program's outputs, runs the timed loop for ``ctx.seconds`` and returns a
:class:`Outcome`. In a traced run the loop runs twice, untraced and then
traced, so the tracing overhead is measured in the same process.
"""

from __future__ import annotations

import gc
import glob
import os
import random
import re
import shutil
import time
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import dumpgen
from layers import JDBC_TABLES
from spans import Tracer

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

# import_full: 4 plain files per Spark core, so the parse can spread over
# every core. The traced run also scans a one-file multistream
# repack of the same generator.
IMPORT_MB = 24
IMPORT_FILES_PER_CORE = 4
MULTISTREAM_MB = 8
WARMUP_IMPORTS = 3

# query_mix, short half: queries whose recorded sf0.1 time is under 0.5 s,
# at most one or two per queries/ module, plus the flagship and TPC-H Q1;
# graph_ops is represented by the iterative half. Outputs stay small enough
# that the per-run oracle check costs about one pass.
SHORT_QUERIES = (
    "flagship_star_revenue",
    "tpch_q1_pricing_summary",
    "join_broadcast",
    "agg_rollup_cube",
    "win_topk_per_group",
    "sample_frac",
    "fn_string",
    "stream_tumbling",
    "udaf_grouped_agg",
    "text_tf",
    "ts_resample_ohlc",
    "ts_gapfill",
)

# query_mix, iterative half: hand-rolled iterative graph loops, where
# per-round barriers dominate. Two of the seven take about half of each
# pass's time, so a change to the loops moves ops_per_s. The others are left
# out to keep a pass short: the loop runs whole passes, so a long pass
# overshoots --seconds on a slow host, and 22 runs of each workload must fit
# the benchmark's hour.
ITERATIVE_QUERIES = (
    "graph_pagerank_iter",
    "graph_label_prop",
)
MIX_TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents")

# The query lake: a byte-identical copy of the repo's sf0.01 fixture set,
# the data the queries, their oracles and the tier-1 tests were written
# against (``fixture/sf0.01/SHA256SUMS`` pins it). The run's seed permutes
# the query order.
FIXTURE_SF = 0.01
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture", "sf0.01")

# Every query runs at least twice per loop, so one slow pass (the host's
# speed drifts by tens of percent for minutes at a time) does not decide a
# run's figures alone.
MIN_PASSES = 2


@dataclass
class Ctx:
    work: str  # per-run scratch under the checkout, removed at exit
    inputs: str  # generated inputs, kept across runs
    seed: int
    seconds: float
    trace: bool
    cpus: int
    start_session: Callable  # () -> SparkSession


@dataclass
class Loop:
    latencies: list = field(default_factory=list)
    by_op: dict = field(default_factory=dict)  # op name -> its latencies
    elapsed: float = 0.0
    attempted: int = 0
    failed: int = 0


@dataclass
class Outcome:
    setup_s: float
    loop: Loop
    problems: list
    info: dict
    traced: Loop | None = None
    tracer: Tracer | None = None
    layers: dict = field(default_factory=dict)


def closed_loop(ops: list, seconds: float, tracer: Tracer, bad=frozenset()) -> Loop:
    """Run whole passes over ``ops``, at least ``MIN_PASSES``, and stop when
    one more pass, as long as the last one, would end more than half a pass
    past ``seconds`` of operation time. So the operation time stays within
    half a pass of ``seconds`` however fast the host runs, and every op runs
    equally often. An op is ``(name, fn, after)``: ``fn(tracer, op_id)`` is
    the timed operation and ``after()``, if given, checks its output
    outside the timed region and raises if it is wrong. Operations in
    ``bad`` failed their output check, so every execution counts failed."""
    loop = Loop()
    k = passes = 0
    last_pass = 0.0
    while passes < MIN_PASSES or loop.elapsed + last_pass / 2 < seconds:
        passes += 1
        pass_start = loop.elapsed
        for name, fn, after in ops:
            k += 1
            loop.attempted += 1
            t = time.perf_counter()
            try:
                fn(tracer, f"op{k}:{name}")
            except Exception as ex:  # noqa: BLE001 — a failed op is counted, the run goes on
                loop.elapsed += time.perf_counter() - t
                loop.failed += 1
                print(f"# op {name} failed: {type(ex).__name__}: {ex}"[:400], flush=True)
                continue
            dt = time.perf_counter() - t
            loop.elapsed += dt
            try:
                if after is not None:
                    after()
            except AssertionError as ex:
                loop.failed += 1
                print(f"# op {name} output wrong: {ex}"[:400], flush=True)
                continue
            loop.latencies.append(dt)
            loop.by_op.setdefault(name, []).append(dt)
            if name in bad:
                loop.failed += 1
        last_pass = loop.elapsed - pass_start
    return loop


def _loops(
    ctx: Ctx, spark, ops: list, bad=frozenset(), instrument=None
) -> tuple[Loop, Loop | None, Tracer]:
    """The timed loop, and in a traced run a second, traced loop, run
    inside ``instrument(tracer)`` when given."""
    loop = closed_loop(ops, ctx.seconds, Tracer(None), bad)
    if not ctx.trace:
        return loop, None, Tracer(None)
    tracer = Tracer(spark.sparkContext)
    with instrument(tracer) if instrument else nullcontext():
        traced = closed_loop(ops, ctx.seconds, tracer, bad)
    return loop, traced, tracer


# --------------------------------------------------------------------------
# imports
# --------------------------------------------------------------------------


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )


def _jdbc_count(spark, url: str, table: str) -> int:
    """Row count straight through the JVM's JDBC driver (no Spark job)."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        rs = conn.createStatement().executeQuery(f"SELECT COUNT(*) FROM {table}")
        rs.next()
        return rs.getLong(1)
    finally:
        conn.close()


def check_import(spark, out: str, expect: dict, jdbc_url: str | None) -> list[str]:
    """Row counts against the generator's tally, and each JDBC table
    against its Parquet twin."""
    problems = []
    for table, n in expect.items():
        got = _parquet_rows(f"{out}/{table}.parquet")
        if got != n:
            problems.append(f"{table}: {got} rows, expected {n}")
    if jdbc_url is not None:
        for table in JDBC_TABLES:
            want = _parquet_rows(f"{out}/{table}.parquet")
            got = _jdbc_count(spark, jdbc_url, f"wiki_{table}")
            if got != want:
                problems.append(f"jdbc wiki_{table}: {got} rows, parquet has {want}")
    return problems


@contextmanager
def _import_spans(tracer: Tracer):
    """Wrap the sinks and the public xml_pages / dump_multistream functions
    in spans, in this process only, while the traced loop runs."""
    from wikipedia_org_xmldump_importer_spark import io
    from wikipedia_org_xmldump_importer_spark.sources import dump_multistream, xml_pages

    def wrap(module, name, span, table_of=None):
        orig = getattr(module, name)

        def wrapped(*args, **kwargs):
            attrs = {"table": table_of(args, kwargs)} if table_of else {}
            with tracer.span(span, **attrs):
                return orig(*args, **kwargs)

        return module, name, orig, wrapped

    def parquet_table(args, kwargs):
        return os.path.basename(kwargs.get("path") or args[1]).removesuffix(".parquet")

    def jdbc_table(args, kwargs):
        return (kwargs.get("table") or args[2]).removeprefix("wiki_")

    patches = [
        wrap(io, "sink_parquet", "io.sink_parquet", parquet_table),
        wrap(io, "sink_jdbc", "io.sink_jdbc", jdbc_table),
        wrap(xml_pages, "scan_xml_pages", "xml_pages.scan"),
        wrap(dump_multistream, "scan_multistream", "dump_multistream.scan"),
        wrap(xml_pages, "extract_wikilinks", "xml_pages.extract_wikilinks"),
        wrap(xml_pages, "resolve_redirect_chains", "xml_pages.resolve_redirect_chains"),
    ]
    for name in ("flatten_pages", "flatten_revisions", "flatten_contributors", "flatten_text"):
        patches.append(wrap(xml_pages, name, f"xml_pages.{name}"))
    # import_dump{,_full} reach the flattens through this table, not by name
    flattens = dict(xml_pages._FLATTENS)
    wrapped_by_orig = {p[2]: p[3] for p in patches}
    for module, name, _orig, wrapped in patches:
        setattr(module, name, wrapped)
    xml_pages._FLATTENS.update(
        {k: wrapped_by_orig.get(fn, fn) for k, fn in flattens.items()}
    )
    try:
        yield
    finally:
        for module, name, orig, _wrapped in patches:
            setattr(module, name, orig)
        xml_pages._FLATTENS.update(flattens)


def import_full(ctx: Ctx) -> Outcome:
    from wikipedia_org_xmldump_importer_spark.sources import xml_pages

    dump_path, tally = dumpgen.cached_dump(
        ctx.inputs, ctx.seed, IMPORT_MB, IMPORT_FILES_PER_CORE * ctx.cpus
    )
    expect = {"page": tally["pages"], "revision": tally["revisions"],
              "redirect": tally["redirects"], "pagelinks": tally["links"]}
    jdbc_url = "jdbc:derby:memory:perfbench;create=true"
    out = os.path.join(ctx.work, "lake")
    problems: list[str] = []
    state = {"cached_mb": 0.0}

    def one_import(tracer: Tracer, op_id: str) -> None:
        with tracer.span("import", op_id=op_id):
            xml_pages.import_dump_full(
                spark, dump_path, out, jdbc_url=jdbc_url,
                jdbc_properties={"driver": DERBY},
            )
        if tracer.enabled:
            state["cached_mb"] = _cached_mb(spark)

    def after_import() -> None:
        """Check the lake, then empty it for the next import."""
        spark.catalog.clearCache()
        bad = check_import(spark, out, expect, jdbc_url)
        tables = [d.removesuffix(".parquet") for d in os.listdir(out)]
        state["table_bytes"] = {t: _dir_bytes(f"{out}/{t}.parquet") for t in tables}
        state["table_rows"] = {t: _parquet_rows(f"{out}/{t}.parquet") for t in tables}
        shutil.rmtree(out)
        if bad:
            problems.extend(bad)
            raise AssertionError("; ".join(bad))

    t0 = time.perf_counter()
    spark = ctx.start_session()
    setup_s = time.perf_counter() - t0
    warmup_s = 0.0
    # The first imports pay the JVM's class loading and JIT compilation;
    # their output checks are not set-up.
    for _ in range(WARMUP_IMPORTS):
        t = time.perf_counter()
        one_import(Tracer(None), "warmup")
        warmup_s += time.perf_counter() - t
        try:
            after_import()
        except AssertionError:
            pass  # recorded in problems
    setup_s += warmup_s

    ops = [("import", one_import, after_import)]
    loop, traced, tracer = _loops(ctx, spark, ops, instrument=_import_spans)
    info = {
        "input_bytes": tally["bytes"],
        "input_files": tally["files"],
        "tally": tally,
        "lake_bytes": sum(state["table_bytes"].values()),
        "table_bytes": state["table_bytes"],
        "table_rows": state["table_rows"],
        "warmup_s": warmup_s,
    }
    outcome = Outcome(setup_s, loop, problems, info, traced, tracer)
    if ctx.trace:
        traced_scans(ctx, spark, outcome)
        outcome.layers["xml_pages.cached_mb_after"] = state["cached_mb"]
    return outcome


def _cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def traced_scans(ctx: Ctx, spark, outcome: Outcome) -> None:
    """Separate noop scans, the parse on its own and warm: the plain dump
    through the XML source, and a multistream repack through
    dump_multistream."""
    from wikipedia_org_xmldump_importer_spark.sources import dump_multistream, xml_pages

    plain, _ = dumpgen.cached_dump(
        ctx.inputs, ctx.seed, IMPORT_MB, IMPORT_FILES_PER_CORE * ctx.cpus
    )
    packed, index, _ = dumpgen.cached_multistream(ctx.inputs, ctx.seed, MULTISTREAM_MB)
    scans = {
        "xml_pages.parse_s": lambda: xml_pages.scan_xml_pages(spark, plain),
        "dump_multistream.scan_s": lambda: dump_multistream.scan_multistream(
            spark, packed, index, include_text=False
        ),
    }
    for metric, scan in scans.items():
        df = scan()
        for _ in range(2):  # the second scan is the warm one reported
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            outcome.layers[metric] = time.perf_counter() - t
        outcome.layers[metric.split(".")[0] + ".scan_partitions"] = df.rdd.getNumPartitions()


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

_EXCHANGE = re.compile(r"\bExchange (?:hash|range|single|round|SinglePartition|RoundRobin)")
_BROADCAST_JOIN = re.compile(r"\bBroadcast(?:HashJoin|NestedLoopJoin)\b")


def check_query(name: str, qd, pdf, con) -> list[str]:
    """``pdf`` (Spark's rows) against the DuckDB oracle, with the repo's own
    comparison; ``sample_frac`` has no oracle, so only its row count."""
    import check_oracle

    if qd.oracle is None:
        if name != "sample_frac":
            return [f"{name}: no oracle"]
        n = con.sql("SELECT COUNT(*) FROM customer").fetchone()[0]
        sigma = (n * 0.1 * 0.9) ** 0.5
        if abs(len(pdf) - 0.1 * n) > 6 * sigma:
            return [f"sample_frac: {len(pdf)} rows from {n}, expected about {n // 10}"]
        return []
    return [f"{name}: {p}" for p in check_oracle.compare(name, pdf, con.sql(qd.oracle).df())]


def reset_peak_rss() -> None:
    """Restart this process's ``VmHWM`` from its current RSS, so the
    oracle's and the checked results' memory stays out of ``peak_rss_mb``."""
    gc.collect()
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def query_mix(ctx: Ctx) -> Outcome:
    """Both query lists in one session, one set-up and one check pass."""
    import check_oracle
    from wikipedia_org_xmldump_importer_spark import cbo, registry

    names = SHORT_QUERIES + ITERATIVE_QUERIES
    sf_dir = FIXTURE_DIR
    registry._ensure_loaded()
    defs = {n: registry.REGISTRY[n] for n in names}

    t0 = time.perf_counter()
    spark = ctx.start_session()
    t1 = time.perf_counter()
    cbo.register_tables_with_stats(spark, sf_dir, tables=MIX_TABLES)
    setup_s = time.perf_counter() - t0
    cbo_s = time.perf_counter() - t1
    check_spark_s = 0.0

    # The output check is the warm-up: every query runs once, outside the
    # timed loop. Its Spark time counts as set-up; the oracle's does not.
    con = check_oracle.duck_con(sf_dir)
    problems: list[str] = []
    bad = set()
    for name in names:
        t = time.perf_counter()
        try:
            pdf = defs[name].fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001 — reported as a failed check
            pdf, got = None, [f"{name}: {type(ex).__name__}: {ex}"[:400]]
        setup_s += time.perf_counter() - t
        check_spark_s += time.perf_counter() - t
        if pdf is not None:
            got = check_query(name, defs[name], pdf, con)
        if got:
            problems.extend(got)
            bad.add(name)
    con.close()
    del pdf
    reset_peak_rss()

    layers_acc = {"exchanges": [], "broadcast_joins": []}

    def make_op(name):
        fn = defs[name].fn

        def op(tracer: Tracer, op_id: str) -> None:
            with tracer.span("query", op_id=op_id, query=name):
                with tracer.span("queries.build"):
                    df = fn(spark, sf_dir)
                if tracer.enabled:
                    with tracer.span("catalyst.plan"):
                        plan = df._jdf.queryExecution().executedPlan().toString()
                    layers_acc["exchanges"].append(len(_EXCHANGE.findall(plan)))
                    layers_acc["broadcast_joins"].append(len(_BROADCAST_JOIN.findall(plan)))
                with tracer.span("exec"):
                    df.write.format("noop").mode("overwrite").save()

        return op

    order = list(names)
    random.Random(ctx.seed).shuffle(order)
    ops = [(n, make_op(n), None) for n in order]
    loop, traced, tracer = _loops(ctx, spark, ops, frozenset(bad))
    lake_bytes = sum(os.path.getsize(f) for f in glob.glob(f"{sf_dir}/*.parquet"))
    info = {"sf": FIXTURE_SF, "input_bytes": lake_bytes, "queries": len(names),
            "cbo_s": cbo_s, "warmup_s": check_spark_s}
    out = Outcome(setup_s, loop, problems, info, traced, tracer)
    if ctx.trace:
        n = max(1, len(layers_acc["exchanges"]))
        out.layers["plan.exchanges"] = sum(layers_acc["exchanges"]) / n
        out.layers["plan.broadcast_joins"] = sum(layers_acc["broadcast_joins"]) / n
    return out


WORKLOADS = {
    "import_full": import_full,
    "query_mix": query_mix,
}
