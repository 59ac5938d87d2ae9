"""Crawl-engine benchmark: one command, oracle-checked workloads.

    python3 crawlbench/run.py --workload recrawl_html --seed 1 --seconds 20 --trace 0
    python3 crawlbench/run.py                       # every workload, untraced and traced

A run with ``--workload`` starts one fresh Spark session at
``local[<nproc>]``, builds its inputs from ``--seed``, sets up (session,
inputs), measures, checks the outputs against the repo's
oracles outside the timed region, and prints as its last line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of
the traced run (span wrappers + Spark event log + isolated probes).
Every run writes only under ``.bench_tmp/`` in the checkout and removes
its own directory before exiting.

Without ``--workload`` every workload runs twice, untraced and traced,
each in its own process; the table printed lists every end-to-end metric
per workload and the tracing overhead (traced minus untraced).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("recrawl_html", "near_dup")


def _fail(msg: str, code: int = 2) -> None:
    print(f"crawlbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def _prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``: Spark scratch,
    JVM and Python temp files, and the Python workers' import path."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    # the engine's own driver heap (session.get_spark's default), whatever
    # the caller's environment says
    os.environ.pop("SPARK_DRIVER_MEM", None)
    import tempfile
    tempfile.tempdir = os.path.join(work, "tmp")


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "auto_ria_spark", "__init__.py")):
        _fail(f"no auto_ria_spark package under {ROOT}")
    sys.path[:0] = [ROOT, HERE]
    cores = len(os.sched_getaffinity(0))   # what nproc reports
    work = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    try:
        import workloads
        res = workloads.run(args.workload, seed=args.seed,
                            seconds=args.seconds, trace=bool(args.trace),
                            work=work, cores=cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))   # kept while other runs use it
        except OSError:
            pass
    for line in res.pop("report"):
        print(line, flush=True)
    print(json.dumps(res), flush=True)
    return 0 if res["correct"] else 1


def run_all(args) -> int:
    """Every workload, untraced then traced, each in a fresh process; the
    table lists every end-to-end metric and the tracing overhead."""
    sys.path.insert(0, HERE)
    import workloads
    e2e, ok, attempted, failed = {}, True, 0, 0
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--workload", wl, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 text=True)
            lines = out.stdout.strip().splitlines()
            for line in lines[:-1]:
                print(f"[{wl} trace={trace}] {line}", flush=True)
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                res = {"correct": False, "attempted": 1, "failed": 1}
            ok &= out.returncode == 0 and res["correct"]
            attempted += res["attempted"]
            failed += res["failed"]
            for line in lines:
                if line.startswith(workloads.E2E):
                    e2e[(wl, trace)] = json.loads(line[len(workloads.E2E):])
    print(f"{'workload':<14}{'metric':<22}{'untraced':>14}{'traced':>14}"
          f"{'overhead':>14}  unit")
    summary = {}
    fmt = lambda v: "-" if v is None else f"{v:.4f}"
    for wl in WORKLOADS:
        plain, traced = e2e.get((wl, 0), {}), e2e.get((wl, 1), {})
        for name, unit in workloads.END_TO_END.items():
            a = plain.get(name, {}).get("value")
            b = traced.get(name, {}).get("value")
            if a is None and b is None:
                continue
            over = (b - a) if a is not None and b is not None else None
            print(f"{wl:<14}{name:<22}{fmt(a):>14}{fmt(b):>14}"
                  f"{fmt(over):>14}  {unit}")
            if a is not None:
                summary[f"{wl}.{name}"] = {"value": a, "unit": unit}
    print(json.dumps({"correct": bool(ok), "attempted": attempted,
                      "failed": failed, "metrics": summary}), flush=True)
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
