#!/usr/bin/env python
"""Alternating A/B pairs: the repository benchmark, or registry queries.

    python scripts/ab.py bench tree:HEAD~1 tree:HEAD [--pairs 10] [--seed 901] [--workload W]
    python scripts/ab.py query tree:HEAD~1 tree:. tpch_q3 sim_pq_search [--sf DIR] [--pairs 10]
    python scripts/ab.py query conf:spark.sql.adaptive.enabled=true \\
        conf:spark.sql.adaptive.enabled=false tpch_q3 --sf DIR

An arm is one of
  ``tree:<git rev or directory>``  a code tree; a rev is exported with
                                   ``git archive | tar -x`` into ``$TMPDIR``
  ``conf:k=v,…``                   Spark confs set after the query set-up
  ``env:K=V``                      an environment variable of the process
A ``conf:`` or ``env:`` arm runs this checkout's code.

``bench`` runs ``BENCHMARK.json``'s command (``perfbench/run.py --workload W
--seed S --seconds <run_seconds> --trace 0``) in two ``tree:`` arms, A then
B for even pairs and B then A for odd ones; pair ``i`` uses seed
``--seed + i`` on both sides. Each run's last line is its JSON result.

``query`` alternates fresh worker processes the same way. A worker starts
a session, loads the tables, runs ``tpch_q6``, applies its arm's confs,
then runs each named query twice untimed and ``--reps`` times timed
(Arrow fetch, as ``bench.py`` times it); its sample is the minimum.

For each metric the report gives each arm's median and quartiles, the
pairs each arm won (ties count for neither) and a verdict on B against A:
``gain`` when there are at least 10 pairs, B won at least 9 in 10 of them
and the medians differ by more than A's interquartile range. ``bench`` also checks each end-to-end bound
of ``BENCHMARK.json``: ``unresolved`` when an arm's interquartile range,
relative to its median, exceeds the bound and not every B run beats every
A run; ``regressed`` when B's median is worse than A's by more than the
bound; ``within bound`` otherwise. The last line is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def compare(a: list[float], b: list[float], better: str = "lower", bound: float | None = None) -> dict:
    """Paired statistics of baseline runs ``a`` and variant runs ``b``, where
    ``a[i]`` and ``b[i]`` ran as pair ``i``; ``better`` is ``"lower"`` or
    ``"higher"``, ``bound`` the relative worsening allowed."""
    sign = 1 if better == "lower" else -1

    def quartiles(xs: list[float]) -> dict:
        q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
        return {"median": med, "q1": q1, "q3": q3}

    qa, qb = quartiles(a), quartiles(b)
    b_wins = sum(sign * (y - x) < 0 for x, y in zip(a, b))
    a_wins = sum(sign * (y - x) > 0 for x, y in zip(a, b))
    gap = sign * (qa["median"] - qb["median"])  # > 0: B is better
    out = {"A": qa, "B": qb, "pairs": len(a), "A_wins": a_wins, "B_wins": b_wins}
    if len(a) >= 10 and b_wins >= 0.9 * len(a) and gap > qa["q3"] - qa["q1"]:
        out["verdict"] = "gain"
    elif bound is None:
        out["verdict"] = "no gain"
    else:
        spread = max(((q["q3"] - q["q1"]) / abs(q["median"]) for q in (qa, qb) if q["median"]), default=0.0)
        b_always_better = all(sign * (y - x) < 0 for x in a for y in b)
        if spread > bound and not b_always_better:
            out["verdict"] = "unresolved"
        elif qa["median"] and -gap / abs(qa["median"]) > bound:
            out["verdict"] = "regressed"
        else:
            out["verdict"] = "within bound"
    return out


def _parse_arm(spec: str) -> tuple[str, str]:
    kind, _, value = spec.partition(":")
    if kind not in ("tree", "conf", "env") or not value:
        raise SystemExit(f"ab.py: arm {spec!r} is not tree:<rev|dir>, conf:k=v,… or env:K=V")
    return kind, value


@contextlib.contextmanager
def _arms(specs: list[str]):
    """``(root, env, confs)`` of each arm; exported trees are deleted on exit."""
    out, exported = [], []
    try:
        for spec in specs:
            kind, value = _parse_arm(spec)
            root, env, confs = REPO, dict(os.environ), {}
            env.pop("PYTHONPATH", None)
            if kind == "tree" and Path(value).is_dir():
                root = Path(value).resolve()
            elif kind == "tree":
                sha = subprocess.run(
                    ["git", "rev-parse", "--verify", f"{value}^{{commit}}"],
                    cwd=REPO, check=True, capture_output=True, text=True,
                ).stdout.strip()
                root = Path(tempfile.mkdtemp(prefix=f"ab-{sha[:8]}-"))
                exported.append(root)
                archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
                subprocess.run(["tar", "-x", "-C", str(root)], stdin=archive.stdout, check=True)
                if archive.wait():
                    raise SystemExit(f"ab.py: git archive {value} failed")
            elif kind == "conf":
                confs = dict(kv.split("=", 1) for kv in value.split(","))
            else:
                k, _, v = value.partition("=")
                env[k] = v
            out.append((root, env, confs))
        yield out
    finally:
        for root in exported:
            shutil.rmtree(root, ignore_errors=True)


def _alternate(pairs: int, run) -> tuple[list, list]:
    """``run(arm_index, pair)`` for A, B on even pairs and B, A on odd ones."""
    res: tuple[list, list] = ([], [])
    for p in range(pairs):
        for i in ((0, 1) if p % 2 == 0 else (1, 0)):
            res[i].append(run(i, p))
    return res


def _last_json(out: subprocess.CompletedProcess, what: str) -> dict:
    lines = out.stdout.strip().splitlines()
    if out.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"ab.py: {what} exited {out.returncode} without a JSON result")
    return json.loads(lines[-1])


def bench(args) -> dict:
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    if any(_parse_arm(a)[0] != "tree" for a in args.arms):
        raise SystemExit("ab.py: bench compares two tree: arms")
    results, runs = {}, {"A": [], "B": []}
    with _arms(args.arms) as arms:
        for w in workloads:

            def run(i: int, p: int) -> dict:
                root, env, _ = arms[i]
                seed = args.seed + p
                cmd = spec["command"] + [
                    "--workload", w, "--seed", str(seed),
                    "--seconds", str(spec["run_seconds"]), "--trace", "0",
                ]
                t0 = time.perf_counter()
                r = _last_json(subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True), f"{w} seed {seed}")
                vals = {k: m["value"] for k, m in r["metrics"].items()}
                arm = "AB"[i]
                runs[arm].append({"workload": w, "seed": seed, "correct": r["correct"], "failed": r["failed"], **vals})
                print(
                    f"{w} pair {p + 1}/{args.pairs} {arm} seed {seed} ({time.perf_counter() - t0:.0f}s): "
                    + " ".join(f"{k}={v:.4g}" for k, v in vals.items())
                    + ("" if r["correct"] else f" FAILED {r['failed']}"),
                    flush=True,
                )
                return vals

            a, b = _alternate(args.pairs, run)
            results[w] = {
                k: compare([x[k] for x in a], [y[k] for y in b], m["better"], m["bound"])
                for k, m in metrics.items()
            }
    return {
        "failed": {arm: sum(r["failed"] for r in rs) for arm, rs in runs.items()},
        "correct": all(r["correct"] for rs in runs.values() for r in rs),
        "results": results,
    }


def worker(root: str, sf_dir: str, reps: int, confs: dict, names: list[str]) -> None:
    sys.path.insert(0, root)
    from mutable_spark import registry
    from mutable_spark.catalog import load_tables
    from mutable_spark.session import get_spark

    registry.load_all()
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)
    registry.QUERIES["tpch_q6"](spark, sf_dir).collect()
    for k, v in confs.items():
        spark.conf.set(k, v)
    out = {}
    for name in names:
        times = []
        for rep in range(2 + reps):  # two untimed: codegen, parquet footers, memos
            spark.catalog.clearCache()
            registry.release_caches(spark, blocking=False)
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, sf_dir).toPandas()
            if rep >= 2:
                times.append(time.perf_counter() - t0)
        out[name] = min(times)
    spark.stop()
    print(json.dumps(out))


def query(args) -> dict:
    if not args.sf:
        raise SystemExit("ab.py: query needs --sf or $SPARK_GRAFT_SF_DIR")
    sf_dir = os.path.abspath(args.sf)  # workers run in their tree
    with _arms(args.arms) as arms:

        def run(i: int, p: int) -> dict:
            root, env, confs = arms[i]
            cmd = [sys.executable, str(Path(__file__).resolve()), "--worker", str(root),
                   sf_dir, str(args.reps), json.dumps(confs), *args.names]
            r = _last_json(subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True), "worker")
            print(f"pair {p + 1}/{args.pairs} {'AB'[i]}: " + " ".join(f"{n}={t:.3f}s" for n, t in r.items()), flush=True)
            return r

        a, b = _alternate(args.pairs, run)
    return {"results": {n: compare([x[n] for x in a], [y[n] for y in b]) for n in args.names}}


def _report(rows: dict[str, dict]) -> None:
    for label, s in rows.items():
        a, b = s["A"], s["B"]
        print(
            f"{label}: A {a['median']:.4g} [{a['q1']:.4g}, {a['q3']:.4g}]"
            f"  B {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}]"
            f"  wins A/B {s['A_wins']}/{s['B_wins']} of {s['pairs']}  {s['verdict']}"
        )


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv[:1] == ["--worker"]:
        root, sf_dir, reps, confs, *names = argv[1:]
        worker(root, sf_dir, int(reps), json.loads(confs), names)
        return 0
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    b = sub.add_parser("bench", help="alternate perfbench runs of two trees")
    b.add_argument("arms", nargs=2, metavar="ARM")
    b.add_argument("--workload", action="append", help="default: every workload of BENCHMARK.json")
    b.add_argument("--pairs", type=int, default=10)
    b.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    q = sub.add_parser("query", help="alternate worker processes over registry queries")
    q.add_argument("arms", nargs=2, metavar="ARM")
    q.add_argument("names", nargs="+")
    q.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="test data directory")
    q.add_argument("--pairs", type=int, default=10)
    q.add_argument("--reps", type=int, default=3, help="timed runs per worker")
    args = ap.parse_args(argv)
    out = bench(args) if args.mode == "bench" else query(args)
    if args.mode == "bench":
        _report({f"{w} {k}": s for w, row in out["results"].items() for k, s in row.items()})
    else:
        _report(out["results"])
    print(json.dumps({"mode": args.mode, "arms": args.arms, "pairs": args.pairs, **out}))
    return 0 if out.get("correct", True) else 1


if __name__ == "__main__":
    sys.exit(main())
