#!/usr/bin/env python
"""Profile registry queries: one warm run of each, traced by layer.

    python scripts/query_profile.py tpch_q3 sim_pq_search [--sf DIR] [--plan]

For each name the query runs once untimed (codegen, parquet footers,
per-process memos), then once more under ``perfbench.trace.Tracer`` with
two job groups: ``<name>|build`` around the builder call and
``<name>|exec`` around the Arrow fetch (``toPandas``, as ``bench.py``
times it). One line per query reports build and execute seconds, jobs,
stages and tasks, executor run and CPU seconds, shuffle read/write and
spill bytes per group, Catalyst's analysis + optimization + planning
seconds, and the number of scans of each table in the executed plan.
The last line is a JSON object with every query's profile.

``--plan`` also prints each executed (AQE-final) plan with expression
ids, plan ids and file locations normalised, so the plans of two trees
diff cleanly. ``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time
from collections import Counter
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.trace import COUNTERS, Tracer  # noqa: E402

_METADATA_LEN = "spark.sql.maxMetadataStringLength"
_LOCATION = re.compile(r"Location: \w+\(\d+ paths?\)\[([^\]]*)\]")


def _table(location: str) -> str:
    """The table behind a scan's first path: ``lineitem`` for a source
    ``…/lineitem.parquet`` or a staged copy ``…/relayout-lineitem-<hash>``."""
    base = os.path.basename(location.split(",")[0].strip().rstrip("/"))
    return re.sub(r"^relayout-|(\.parquet|-[0-9a-f]{16})$", "", base)


def normalise_plan(text: str) -> str:
    """``text`` without the parts that differ between two runs of one plan."""
    text = _LOCATION.sub(lambda m: f"Location: {_table(m.group(1))}", text)
    text = re.sub(r"#\d+L?", "#", text)
    return re.sub(r"plan_id=\d+", "plan_id=", text)


def profile(spark, name: str, sf_dir: str) -> dict:
    """Run ``name`` twice at ``sf_dir`` and return the second run's profile;
    its ``plan`` is the normalised executed plan."""
    from mutable_spark import registry

    fn = registry.QUERIES[name]
    for _ in range(2):  # warm-up, then the profiled run
        spark.catalog.clearCache()
        registry.release_caches(spark, blocking=False)
        tracer = Tracer(spark.sparkContext)
        tracer.begin()
        t0 = time.perf_counter()
        with tracer.span("build", op=name):
            df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        with tracer.span("exec", op=name):
            rows = len(df.toPandas())
        t2 = time.perf_counter()
        tracer.collect()
    tracer.plan_seconds(name, df)
    # scan metadata (locations, filters) is cut at this many characters
    prev = spark.conf.get(_METADATA_LEN)
    spark.conf.set(_METADATA_LEN, "100000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(_METADATA_LEN, prev)
    out = {"build_s": t1 - t0, "exec_s": t2 - t1, "rows": rows, "plan_s": tracer.plan_s[name]}
    for s in tracer.spans:
        out[s.name] = {k: s.counters.get(k, 0.0) for k in COUNTERS}
    out["scans"] = dict(sorted(Counter(map(_table, _LOCATION.findall(plan))).items()))
    out["plan"] = normalise_plan(plan)
    return out


def _line(name: str, p: dict) -> str:
    parts = [f"{name}: build {p['build_s']:.3f}s exec {p['exec_s']:.3f}s plan {p['plan_s']:.3f}s"]
    for g in ("build", "exec"):
        c = p[g]
        parts.append(
            f"{g} jobs/stages/tasks {c['jobs']:.0f}/{c['stages']:.0f}/{c['tasks']:.0f} "
            f"run {c['executor_run_s']:.2f}s cpu {c['executor_cpu_s']:.2f}s "
            f"shuffle r/w {c['shuffle_read_bytes']:.0f}/{c['shuffle_write_bytes']:.0f}B "
            f"spill {c['spill_bytes']:.0f}B"
        )
    parts.append("scans " + " ".join(f"{t}×{n}" for t, n in p["scans"].items()))
    return " | ".join(parts)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="test data directory")
    ap.add_argument("--plan", action="store_true", help="print each normalised executed plan")
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf or $SPARK_GRAFT_SF_DIR is required")

    from mutable_spark import registry
    from mutable_spark.catalog import load_tables
    from mutable_spark.session import get_spark

    registry.load_all()
    unknown = [n for n in args.names if n not in registry.QUERIES]
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, args.sf)
    profiles = {}
    for name in args.names:
        p = profiles[name] = profile(spark, name, args.sf)
        print(_line(name, p), flush=True)
        if args.plan:
            print(f"== {name} executed plan ==\n{p['plan']}", flush=True)
    spark.stop()
    print(json.dumps({n: {k: v for k, v in p.items() if k != "plan"} for n, p in profiles.items()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
