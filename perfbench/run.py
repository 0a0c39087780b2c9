"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_tpch --seed 1 --seconds 10 --trace 0

One run:

1. pins the environment: ``TMPDIR``, ``SPARK_GRAFT_RELAYOUT_DIR`` and
   ``SPARK_LOCAL_DIRS`` point into a fresh directory under
   ``.bench_build/perfbench/`` (deleted at exit), so every set-up pays the
   same cold table relayout and IMPORT staging; ``SPARK_GRAFT_CPUS`` is the
   number of usable cores and ``SPARK_DRIVER_MEMORY`` is fixed, with the
   initial heap equal to it, since a heap that grows on demand makes the
   driver's peak RSS swing by a fifth from run to run;
2. generates the input corpus once per checkout (``datagen.py``; untimed);
3. sets up ``SETUP_REPS`` times — session start, table load and relayout,
   DSV IMPORT, one warm-up query — stopping the session between set-ups,
   and reports the median as ``setup_s``; fails if the session's master,
   parallelism or driver memory differ from the pinned values;
4. checks every distinct operation once against DuckDB (untimed);
5. runs ``round(--seconds / pass_seconds)`` seeded passes of the workload
   (at least one), about ``--seconds`` of work on the reference box, timing
   each operation and comparing every result with its verified hash.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` the timed passes are traced, the
metrics are the per-layer ones, and the spans are written to
``.bench_build/perfbench/traces/``. The exit code is 0 only when every
result was correct and, traced, every Spark job carried a job group.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
STATE = REPO / ".bench_build" / "perfbench"
#: TPC-H scale factor of the generated corpus (120,000 lineitem rows)
SCALE = 0.02
#: seed of the corpus itself; ``--seed`` orders the operations and picks
#: the keys and values of the DML statements
DATA_SEED = 42
SETUP_REPS = 3
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "peak_rss_mb": "MB",
}
#: per-layer metrics; their times are of layers that every workload in
#: BENCHMARK.json calls, since a layer a workload never calls reads 0 on
#: every run of it
PER_LAYER = {
    "session.start_s": "s",
    "sources.import_s": "s",
    "dialect.parse_s": "s",
    "dialect.compile_s": "s",
    "dialect.lineage_nodes": "count",
    "plans.build_jobs": "count",
    "operators.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.fetch_s": "s",
    "spark.busy_ratio": "ratio",
    "trace.unattributed_jobs": "count",
    "trace.overhead_ratio": "ratio",
}
#: layer times of one workload each, printed on the ``# `` detail line
WORKLOAD_LAYERS = ("catalog.load_s", "dialect.dml_s", "plans.build_s", "operators.build_s")


def _pin_environment(work: Path) -> int:
    cpus = len(os.sched_getaffinity(0))
    for d in ("tmp", "relayout", "local"):
        (work / d).mkdir()
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        SPARK_GRAFT_RELAYOUT_DIR=str(work / "relayout"),
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-XX:-UsePerfData -Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def _wipe_caches(work: Path) -> None:
    """Remove the relayout copies and IMPORT staging of the last set-up."""
    shutil.rmtree(work / "relayout", ignore_errors=True)
    for p in (work / "tmp").iterdir():
        shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink()


def _check_env(spark, cpus: int) -> dict:
    sc = spark.sparkContext
    env = {
        "master": sc.master,
        "effective_parallelism": sc.defaultParallelism,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "max_heap_mb": sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
    }
    want = {"master": f"local[{cpus}]", "effective_parallelism": cpus, "driver_memory": DRIVER_MEMORY}
    bad = {k: (env[k], v) for k, v in want.items() if env[k] != v}
    if bad:
        raise RuntimeError(f"session differs from the pinned environment (got, wanted): {bad}")
    return env


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _gc_seconds(spark) -> float:
    """Collection time the driver JVM has spent so far, summed over its collectors."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = defaultdict(list)
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            out[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d.name))
    return out


def _descendants(pid: int) -> list[int]:
    kids, todo, out = _children(), [pid], []
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_spark() -> None:
    """Stop the SparkContext, end the JVM this process launched and wait
    for it and every process it started (Python workers) to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None or gateway.proc is None:
        return
    proc = gateway.proc
    leftover = _descendants(proc.pid)
    with contextlib.suppress(Exception):  # the gateway may already be gone
        gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 10
    while any(map(_alive, leftover)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, leftover):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(args, cpus: int, work: Path, corpus: Path) -> tuple[dict, dict]:
    from mutable_spark.session import get_spark

    from perfbench import datagen
    from perfbench import workloads as W
    from perfbench.results import Oracle
    from perfbench.trace import NullTracer, Tracer

    wl = W.WORKLOADS[args.workload](args.max_ops)
    oracle = Oracle(corpus, datagen.TABLES, STATE / "oracle")
    setups: list[dict[str, float]] = []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
            _wipe_caches(work)
        clock = W.Stopwatch()
        t0 = time.perf_counter()
        with clock.time("session.start"):
            spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        env = _check_env(spark, cpus)
        ctx = W.Ctx(spark, corpus, REPO, oracle, NullTracer(), args.corrupt)
        wl.setup(ctx, clock)
        wl.warmup(ctx)
        clock.seconds["total"] = time.perf_counter() - t0
        setups.append(dict(clock.seconds))

    t_verify = time.perf_counter()
    verified = wl.verify(ctx, random.Random(f"{args.seed}:verify"))
    verify_s = time.perf_counter() - t_verify
    oracle.close()

    tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
    ctx.tracer = tracer
    passes: list[list] = []
    gc_start = _gc_seconds(spark)
    t_start = time.perf_counter()
    # a pass count fixed in advance, not a deadline: every run does the same
    # work whatever the host's speed, and a pass is never cut short
    for p in range(max(1, round(args.seconds / wl.pass_seconds))):
        if tracer.enabled:
            tracer.begin()
        passes.append(wl.run_pass(ctx, random.Random(f"{args.seed}:{p}"), f"p{p}"))
        if tracer.enabled:
            tracer.collect()
    t_end = time.perf_counter()
    gc_s = _gc_seconds(spark) - gc_start
    peak_rss = _peak_rss_mb(spark)

    timed = [r for p in passes for r in p]
    ok_reads = [r.seconds for r in timed if r.kind == "read" and r.ok]
    ok_writes = [r.seconds for r in timed if r.kind == "write" and r.ok]
    attempted = len(verified) + len(timed)
    failed = sum(not r.ok for r in verified + timed)
    info = {
        "env": env,
        "workload": args.workload,
        "seed": args.seed,
        "corpus": corpus.name,
        "passes": len(passes),
        "reads": len(ok_reads),
        "writes": len(ok_writes),
        "failed_ratio": failed / attempted,
        "write_p50_s": _median(ok_writes),
        "setup_reps_s": [{k: round(v, 3) for k, v in s.items()} for s in setups],
        "verify_s": verify_s,
        "timed_s": t_end - t_start,
        "timed_gc_s": gc_s,
        "correct": failed == 0 and not ctx.errors,
        "attempted": attempted,
        "failed": failed,
    }
    by_op = defaultdict(list)
    for r in timed:
        if r.ok:
            by_op[r.name].append(r.seconds)
    info["op_p50_s"] = {k: round(_median(v), 4) for k, v in sorted(by_op.items())}
    info["pass_ops_s"] = [[[r.name, round(r.seconds, 4)] for r in p] for p in passes]
    info["verify_op_s"] = {r.name: round(r.seconds, 4) for r in verified if r.kind == "read"}
    if len(ok_reads) >= 100:
        info["query_p90_s"] = statistics.quantiles(ok_reads, n=10)[-1]

    busy = sum(r.seconds for r in timed if r.ok)
    end_to_end = {
        "setup_s": _median([s["total"] for s in setups]),
        "query_p50_s": _median(ok_reads),
        "queries_per_s": len(ok_reads) / busy if busy else 0.0,
        "peak_rss_mb": peak_rss,
    }
    if not args.trace:
        return info, {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    # the same figures under tracing; an untraced run of the same seed gives
    # the tracing overhead as their difference
    info["traced_end_to_end"] = end_to_end

    n = len(passes)
    totals = tracer.totals(tracer.spans)
    spark_totals = defaultdict(float)
    for row in totals.values():
        for k, v in row.items():
            spark_totals[k] += v
    values = {
        "session.start_s": _median([s.get("session.start", 0.0) for s in setups]),
        "catalog.load_s": _median([s.get("catalog.load", 0.0) for s in setups]),
        "sources.import_s": _median([s.get("sources.import", 0.0) for s in setups]),
        "dialect.lineage_nodes": _median(getattr(wl, "lineage_nodes", [])),
        "spark.plan_s": sum(tracer.plan_s.values()) / n,
        "spark.busy_ratio": spark_totals["executor_run_s"] / (busy * cpus),
        "trace.unattributed_jobs": tracer.unattributed_jobs,
        "trace.overhead_ratio": (tracer.hook_s + totals.get("dialect.parse", {}).get("seconds", 0.0)) / busy,
    }
    for layer in ("dialect.parse", "dialect.compile", "dialect.dml", "plans.build", "operators.build", "spark.fetch"):
        values[f"{layer}_s"] = totals.get(layer, {}).get("seconds", 0.0) / n
    for layer in ("plans.build", "operators.build"):
        values[f"{layer}_jobs"] = totals.get(layer, {}).get("jobs", 0.0) / n
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        values[f"spark.{k}"] = spark_totals[k] / n
    if tracer.unattributed_jobs:
        ctx.fail("trace", f"{tracer.unattributed_jobs} Spark jobs carry no job group")
        info["correct"] = False
    info["workload_layers"] = {k: values[k] for k in WORKLOAD_LAYERS}
    tracer.dump(STATE / "traces" / f"{args.workload}-seed{args.seed}.json", {"info": info, "values": values})
    return info, {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("sql_tpch", "curation", "dml_mixed"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="corpus TPC-H scale factor")
    ap.add_argument("--max-ops", type=int, default=None, help="keep only the first N operations")
    ap.add_argument("--corrupt", default=None, help="corrupt every result of this operation (self-test)")
    args = ap.parse_args(argv)

    if not (REPO / "mutable_spark" / "__init__.py").is_file():
        print(f"perfbench: no mutable_spark package in {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    STATE.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=STATE))
    cwd = os.getcwd()
    try:
        cpus = _pin_environment(work)
        os.chdir(work)  # Spark's warehouse and DuckDB's spill files land here
        from perfbench import datagen

        corpus = datagen.ensure(STATE, args.scale, DATA_SEED)
        info, metrics = measure(args, cpus, work, corpus)
    finally:
        _stop_spark()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    print("# " + json.dumps(info))
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": info["correct"],
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": metrics,
    }))
    return 0 if info["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
