"""The repo's benchmark: one workload, one seed, one JSON result line.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload import_full --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py``): ``import_full`` and ``query_mix``. Both
run on ``local[<nproc / 2>]`` (``SPARK_GRAFT_CPUS`` overrides the core
count; see ``_cpus``), in a session built by ``session.build_session``
with its own settings, the driver heap included; the benchmark fixes only
the JVM's initial heap and young generation (see
``heap_fixed_at_program_size``).

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced loop, with Spark's event log on. Lines before
the last one are ``#`` comments: the run's stamp (cores, versions, seed,
input size), the named metrics of each path where they apply, and any failed
check. The last line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. A failed output check makes the
run exit 1; a checkout without the program makes it exit 2 before any
result. Generated inputs are kept under ``.perfbench/inputs`` and reused;
each run's scratch goes under ``.perfbench/run-<pid>`` and is removed, and
its full record is written to ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import re
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager

import layers
from layers import geomean_of_medians, percentile, tail_percentile
from spans import event_log_totals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "wikipedia_org_xmldump_importer_spark"
BENCH_DIR = os.path.join(ROOT, ".perfbench")
YOUNG_GEN = "512m"


def _cpus() -> int:
    """Spark's task threads: half the host's cores, so that the driver's
    Python, the JVM's collector and compiler threads and the Python workers
    have cores of their own. On all 4 cores of a 4-core host the threads
    outnumber the cores, and the figures measured the scheduler as much as
    the program."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else max(1, len(os.sched_getaffinity(0)) // 2)


def _prepare_env(work: str, cpus: int, trace: bool) -> tuple[str, str]:
    """Process environment for the JVM and the Python workers, set before
    the session starts. Returns the event-log directory and the driver's
    Java options."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    os.makedirs(tmp)
    os.makedirs(events)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # executor-side Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')} -XX:-UsePerfData"
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    args = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return events, java_opts


@contextmanager
def heap_fixed_at_program_size(java_opts: str):
    """While the program builds its session, start the driver JVM with the
    program's own heap (``spark.driver.memory``, as its builder sets it)
    committed from the start (``-Xms``), and a young generation of
    ``YOUNG_GEN``. With the collector free to size both, the driver's
    high-water RSS moved by 20-40% from run to run; pinned, by 3-4%."""
    from pyspark.sql import SparkSession

    orig = SparkSession.Builder.getOrCreate

    def get_or_create(builder):
        heap = builder._options.get("spark.driver.memory")
        pins = f"-Xms{heap} -Xmn{YOUNG_GEN} " if heap else ""
        builder.config("spark.driver.extraJavaOptions", pins + java_opts)
        return orig(builder)

    SparkSession.Builder.getOrCreate = get_or_create
    try:
        yield
    finally:
        SparkSession.Builder.getOrCreate = orig


def prune_inputs(inputs: str, seeds: set[int], keep: int = 6) -> None:
    """Keep the generated inputs of ``seeds`` and of the ``keep`` seeds
    generated most recently before them."""
    if not os.path.isdir(inputs):
        return
    by_seed: dict[str, list[str]] = {}
    for name in os.listdir(inputs):
        m = re.search(r"_s(\d+)_", name)
        if m:
            by_seed.setdefault(m.group(1), []).append(os.path.join(inputs, name))
    for seed in seeds:
        by_seed.pop(str(seed), None)
    recent = sorted(by_seed, key=lambda s: max(os.path.getmtime(p) for p in by_seed[s]))
    for old in recent[:-keep]:
        for path in by_seed[old]:
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _java_version() -> str:
    out = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, check=False
    ).stderr
    return out.splitlines()[0] if out else "unknown"


def stamp(args, cpus: int, spark, info: dict) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": cpus,
        "driver_memory": spark.conf.get("spark.driver.memory", None),
        "driver_java_options": spark.conf.get("spark.driver.extraJavaOptions", None),
        "spark": spark.version,
        "java": _java_version(),
        "python": platform.python_version(),
        "host": platform.node(),
        **info,
    }


def end_to_end(out) -> dict:
    lat = out.loop.latencies
    n = len(lat)
    return {  # a run where every operation failed reports 0, not NaN
        "setup_s": out.setup_s,
        "op_p50_geomean_s": geomean_of_medians(out.loop.by_op),
        "ops_per_s": n / out.loop.elapsed if out.loop.elapsed else 0.0,
        "peak_rss_mb": out.info["jvm_hwm_mb"] + out.info["python_hwm_mb"],
    }


def named_metrics(workload: str, out, e2e: dict) -> list[tuple[str, float, str]]:
    """The named end-to-end metrics of the import and query paths, where
    they apply."""
    n = len(out.loop.latencies)
    rows = [("setup_s", e2e["setup_s"], "s")]
    if workload.startswith("import"):
        mb = out.info["input_bytes"] / 1e6
        p50 = e2e["op_p50_geomean_s"]  # one operation type: its median
        rows.append(("import_mb_per_s", mb / p50 if p50 else 0.0, "MB/s"))
        rows.append(
            ("lake_bytes_per_dump_byte", out.info["lake_bytes"] / out.info["input_bytes"], "ratio")
        )
    else:
        tail = tail_percentile(n)
        rows.append(("query_p50_s", percentile(out.loop.latencies, 50) if n else 0.0, "s"))
        if tail not in (None, 50.0):
            rows.append((f"query_p{tail:g}_s", percentile(out.loop.latencies, tail), "s"))
        rows.append(("queries_per_s", e2e["ops_per_s"], "1/s"))
    attempted = max(1, out.loop.attempted)
    rows.append(("error_ratio", out.loop.failed / attempted, "ratio"))
    rows.append(("peak_rss_mb", e2e["peak_rss_mb"], "MB"))
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/ in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = _cpus()
    work = os.path.join(BENCH_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events, java_opts = _prepare_env(work, cpus, bool(args.trace))
    holder = {}

    def start_session():
        from wikipedia_org_xmldump_importer_spark.session import build_session

        t = time.perf_counter()
        with heap_fixed_at_program_size(java_opts):
            holder["spark"] = build_session(f"perfbench-{args.workload}")
        holder["session_s"] = time.perf_counter() - t
        return holder["spark"]

    ctx = workloads.Ctx(
        work=work,
        inputs=os.path.join(BENCH_DIR, "inputs"),
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        cpus=cpus,
        start_session=start_session,
    )
    try:
        out = workloads.WORKLOADS[args.workload](ctx)
        prune_inputs(ctx.inputs, {args.seed})
        spark = holder["spark"]
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        out.info["session_s"] = holder["session_s"]
        out.info["jvm_hwm_mb"] = _vm_hwm_kb(jvm_pid) / 1024.0
        out.info["python_hwm_mb"] = _vm_hwm_kb("self") / 1024.0
        st = stamp(args, cpus, spark, out.info)
        spark.stop()  # flushes and closes the event log
        e2e = end_to_end(out)
        metrics = layers.per_layer(out, e2e, event_log_totals(events), cpus) if args.trace else e2e
    finally:
        _stop_jvm(holder.get("spark"))
        shutil.rmtree(work, ignore_errors=True)

    print("# stamp " + json.dumps(st), flush=True)
    for name, value, unit in named_metrics(args.workload, out, e2e):
        print(f"# {name} = {value:.6g} {unit}")
    n = len(out.loop.latencies)
    print(f"# samples = {n}; highest percentile with >=10 beyond: {tail_percentile(n)}")
    for p in out.problems[:20]:
        print(f"# CHECK FAILED: {p}")

    units = layers.units()
    correct = not out.problems and out.loop.failed == 0
    result = {
        "correct": correct,
        "attempted": out.loop.attempted,
        "failed": out.loop.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    results = os.path.join(BENCH_DIR, "results")
    os.makedirs(results, exist_ok=True)
    base = os.path.join(results, f"{args.workload}_s{args.seed}_t{args.trace}_{int(time.time())}")
    with open(base + ".json", "w") as f:
        by_op = {k: round(percentile(v, 50), 4) for k, v in out.loop.by_op.items()}
        json.dump({"stamp": st, "end_to_end": e2e, "op_p50_by_name": by_op,
                   "latencies": out.loop.latencies, **result}, f, indent=1)
    if args.trace:
        out.tracer.dump(base + ".spans.jsonl")
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
