"""Per-query profiler for the optimization rounds (guide §1).

For each named query (default: the TOP-N slowest from a bench archive):
run it once to warm caches/codegen, then measure a steady rep inside
its own job group, recording wall seconds, Spark JOB COUNT (the
scheduling-overhead proxy the tall-n audits use), the classes Janino
compiled during the steady reps (``codegen_compiles``: 0 when every
generated class of the warm rep was reused, so a nonzero count is
per-call codegen churn, such as a plan literal that changes between
calls), the py4j round trips the steady reps made (``py4j_calls``,
counted from every driver thread by wrapping py4j's
``ClientServerConnection.send_command`` in this tool; proxy releases,
which follow Python's garbage collector, are left out so the count
repeats from run to run), and the
``explain("formatted")`` physical plan, written to
``plans/<tag>/<name>_<suffix>.txt`` so plan claims in
OPTIMIZATION_r*.md are checkable without running Spark.

Usage:
  python tools/profile_queries.py [sf_dir] [names...]
      [--top=N --bench=ARCHIVE.json]   # pick N slowest from archive
      [--tag=r14] [--suffix=before] [--reps=1] [--json=PATH]

The timed action is df.count() — the SAME action bench.py times, so
numbers line up with the bench; the plan is captured from the returned
DataFrame without re-executing it.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

import __spark_entry__ as entrymod
from golem_spark.session import codegen_compile_count, get_spark

_PY4J_CALLS: list = []


def _count_py4j_calls() -> None:
    """Wrap py4j's send_command so every round trip but a proxy release
    appends to _PY4J_CALLS (list.append is atomic across threads)."""
    orig = ClientServerConnection.send_command
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def counting(self, command):
        if not command.startswith(release):
            _PY4J_CALLS.append(None)
        return orig(self, command)

    ClientServerConnection.send_command = counting


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_GLM_CERTIFICATES", "0")
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(a[2:].split("=", 1) for a in sys.argv[1:] if a.startswith("--"))
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    names = args[1:]
    tag = opts.get("tag", "r14")
    suffix = opts.get("suffix", "before")
    reps = int(opts.get("reps", "1"))

    qs = entrymod.queries()
    if not names:
        top = int(opts.get("top", "25"))
        bench_path = opts.get("bench")
        if bench_path:
            best = None
            for line in open(bench_path):
                try:
                    d = json.loads(line)
                except ValueError:
                    continue
                if d.get("detail") == "per_query_wall_clock":
                    best = d["queries"]
                elif d.get("metric") == "total_query_wall_clock" and best is None:
                    best = d["queries"]
            names = [n for n, _ in sorted(best.items(), key=lambda kv: -kv[1])[:top]]
        else:
            names = list(qs)

    plans_dir = os.path.join(ROOT, "plans", tag)
    os.makedirs(plans_dir, exist_ok=True)
    spark = get_spark("profile_queries")
    _count_py4j_calls()
    sc = spark.sparkContext

    # JVM/footer warmup
    next(iter(qs.values()))(spark, sf_dir).collect()

    out = {}
    for name in names:
        if name not in qs:
            print(f"SKIP unknown {name}", file=sys.stderr)
            continue
        fn = qs[name]
        fn(spark, sf_dir).count()  # warm rep (codegen, shared caches)
        times = []
        jobs_ct = None
        c0 = codegen_compile_count(spark)
        calls0 = len(_PY4J_CALLS)
        for r in range(reps):
            group = f"prof_{name}_{r}"
            sc.setJobGroup(group, name)
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            df.count()
            dt = time.monotonic() - t0
            sc.setJobGroup(None, None)
            times.append(round(dt, 4))
            jobs_ct = len(sc.statusTracker().getJobIdsForGroup(group))
        compiles = codegen_compile_count(spark) - c0
        py4j_calls = len(_PY4J_CALLS) - calls0
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        path = os.path.join(plans_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        n_py = sum(plan.count(k) for k in
                   ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                    "MapInPandas", "FlatMapGroupsInPandas"))
        out[name] = {"sec": min(times), "all_sec": times, "jobs": jobs_ct,
                     "codegen_compiles": compiles, "py4j_calls": py4j_calls,
                     "exchanges": n_exch, "python_nodes": n_py}
        print(f"{name}: {min(times):.3f}s jobs={jobs_ct} "
              f"compiles={compiles} py4j_calls={py4j_calls} "
              f"exchanges={n_exch} py_nodes={n_py}")

    json_path = opts.get("json")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump({"sf_dir": sf_dir, "suffix": suffix, "queries": out},
                      fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
