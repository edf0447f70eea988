#!/usr/bin/env python3
"""Benchmark of golem_spark: timed workloads of ``__spark_entry__`` ops,
each op checked against its DuckDB oracle.

    python3 perfbench/run.py --workload glm --seed 1 --seconds 20 --trace 0

Run it from the repository root. Each run is a closed loop with one client:
one driver process runs the workload's ops one after another on a
``local[nproc]`` Spark session. The input tables are the fixed synthetic
tables listed in TESTDATA.md; ``--seed`` sets the order of the ops in every
rep.

A run starts Spark, loads the tables and runs one untimed warm rep of every
op, with the GLM certificate pass on; the warm rep fills the session caches.
Then it runs ``--seconds`` / (the workload's nominal rep seconds), rounded
up, timed reps, so every run of a workload times the same number of reps,
with the certificate pass off and every op's result materialized with
``toPandas()``. Last, each warm-rep result is compared with its DuckDB
oracle (``duck_connect``/``compare`` from tools/verify_oracle.py); a
mismatch, an exception or a timed result with another row count fails the
op.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; ``failed`` / ``attempted`` is the failed
fraction. With ``--trace 0`` the metrics are end to end:

    setup_s        process start to the first timed rep: JVM, imports,
                   table load and the warm rep
    rep_s          wall seconds of one rep, summed over its ops (median)
    cpu_s          CPU seconds of one rep used by the driver, the JVM and
                   its Python workers, read from /proc (median)
    driver_rss_mb  peak RSS of the Python driver, read before the oracle
                   checks, which run DuckDB in the same process

The line above it stamps the run: the pinned environment, the set-up
steps, each phase's seconds per rep (the sum of its ops; median and count),
each op's median, host steal over the timed reps and a CPU canary. These
are context; no metric is divided by the canary.

With ``--trace 1`` the timed reps run untraced, traced, traced, untraced
(repeated), or the reverse on an odd seed, so a trend over the reps cancels
out of ``trace.overhead_s``, the traced minus the untraced rep time; the
first timed rep is often the slowest, and the seed's parity decides on which
side it falls. The metrics are per layer (see spans.py), taken over the
traced reps. Each traced op's layer split is printed on its own line, and
the spans are written to .perfbench_out/ when the run ends.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".perfbench_out")
CERT = "SPARK_GRAFT_GLM_CERTIFICATES"
DEFAULT_SF = "0.01"

# workload -> (nominal seconds of one rep, ops by phase); why each was
# chosen is in BENCHMARK.json
WORKLOADS = {
    "glm": (5.0, {
        "fit": ("glm_binomial_path", "glm_gaussian_wide_sparse"),
        "cv": ("glm_cv_gaussian",),
        "serve": ("glm_score_binomial", "glm_coef_interp"),
    }),
    "pipeline": (10.0, {
        "query": ("p59_pagerank", "p06_jaccard_pairs", "p102_triangle_count"),
    }),
}

END_TO_END = {"setup_s": "s", "rep_s": "s", "cpu_s": "s",
              "driver_rss_mb": "MB"}

# per-layer metrics: summed over a rep's ops, median over the traced reps
PER_LAYER_SUMS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "spark.driver_gap_s": "s",
    "spark.scans": "count", "spark.input_bytes": "bytes",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.persisted_rdds_delta": "count",
    "spark.failed_tasks": "count",
    "backends.calls": "count", "backends.busy_s": "s",
    "backends.self_s": "s", "backends.build_s": "s",
    "solvers.calls": "count", "solvers.self_s": "s",
    "prox.calls": "count", "prox.busy_s": "s",
    "screening.calls": "count", "screening.self_s": "s",
    "path.self_s": "s", "cv.self_s": "s", "predict.busy_s": "s",
    "score.busy_s": "s", "glm_queries.self_s": "s",
    "operators.graph.busy_s": "s", "pipeline.dedup.busy_s": "s",
    "trace.residual_s": "s",
}
# ratios pooled over every traced op: name -> (numerator, denominator, unit)
PER_LAYER_RATIOS = {
    "solvers.passes_per_point": ("path.backend_calls", "path.points",
                                 "calls/point"),
    "screening.kkt_violation_ratio": ("screening.kkt_violations",
                                      "screening.kkt_calls", "ratio"),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF,
                    help="scale factor from TESTDATA.md")
    return ap.parse_args(argv)


def data_dir(sf: str) -> str:
    """The table directory TESTDATA.md lists for scale factor ``sf``."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
        for line in fh:
            cells = [c.strip().strip("`") for c in line.strip().strip("|")
                     .split("|")]
            if len(cells) >= 2 and cells[0] == sf:
                return cells[1].rstrip("/")
    raise SystemExit(f"perfbench: scale factor {sf} is not in TESTDATA.md")


def pin_environment() -> dict:
    """Fix the run environment before Spark or numpy load; return a stamp."""
    cpus = len(os.sched_getaffinity(0))
    pythonpath = os.environ.get("PYTHONPATH", "")
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),  # get_spark defaults to local[32]
        "SPARK_GRAFT_DRIVER_MEM": "4g",  # the session default is 24g
        "OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        # Python workers import golem_spark from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
        "SPARK_LOCAL_DIRS": WORK, "TMPDIR": WORK,
        CERT: "0",
    }
    os.environ.update(env)
    # measured on their default paths, so a later change that deletes a
    # switch is timed on the same code
    unset = ("SPARK_GRAFT_CV_SHARED", "GOLEM_SPARK_TREE_REDUCE")
    for name in unset:
        os.environ.pop(name, None)
    stamp = {k: v for k, v in env.items() if k not in ("PYTHONPATH",)}
    stamp.update({name: "unset" for name in unset})
    stamp["certificates"] = "on in the warm/oracle rep, off in timed reps"
    return stamp


class _Collected:
    """A result already materialized, handed to ``compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - the DataFrame method compare() calls
        return self._pdf


class Bench:
    def __init__(self, args, sf_dir: str):
        self.args = args
        self.sf_dir = sf_dir
        _, phases = WORKLOADS[args.workload]
        self.ops = [(phase, op) for phase, names in phases.items()
                    for op in names]
        self.rng = random.Random(args.seed)
        self.marks: dict[str, float] = {}  # setup step -> seconds since start
        self.attempted = 0
        self.failed = 0
        self.rows: dict[str, int] = {}
        self.spark = None

    # -- session -------------------------------------------------------------
    def start(self) -> None:
        os.makedirs(WORK)
        from golem_spark.session import get_spark, load_tables

        self.spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.local.dir": WORK,
            "spark.driver.extraJavaOptions":
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={WORK}",
            # keep every record of the run for the traced reps
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
        self.marks["session_s"] = time.monotonic() - T_START
        load_tables(self.spark, self.sf_dir)
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.marks["tables_s"] = time.monotonic() - T_START

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers, which
        outlive it briefly, have all ended."""
        from sysstat import descendants

        started = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            if sig is not None:
                for pid in started:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.monotonic() + 20
            while started and time.monotonic() < deadline:
                for pid in started:
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass  # not our child: its new parent reaps it
                started = [p for p in started
                           if os.path.exists(f"/proc/{p}")]
                time.sleep(0.05)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass  # another run still uses it

    # -- reps ----------------------------------------------------------------
    def _order(self) -> list[tuple[str, str]]:
        order = list(self.ops)
        self.rng.shuffle(order)
        return order

    def warm(self) -> None:
        """One untimed rep with the certificate pass on; keeps each result
        for the oracle check."""
        self.results = {}
        for _, op in self._order():
            self.attempted += 1
            os.environ[CERT] = "1"
            try:
                pdf = self.queries[op](self.spark, self.sf_dir).toPandas()
            except Exception:  # noqa: BLE001 - a failed op is counted
                traceback.print_exc()
                self.failed += 1
                continue
            finally:
                os.environ[CERT] = "0"
            self.results[op] = pdf
            self.rows[op] = len(pdf)

    def check_oracles(self) -> float:
        """Compare each warm-rep result with its DuckDB oracle; a mismatch
        fails the op. Returns the seconds the checks took."""
        t0 = time.perf_counter()
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from verify_oracle import compare, duck_connect

        con = duck_connect(self.sf_dir)
        try:
            for op, pdf in self.results.items():
                problems = compare(op, _Collected(pdf),
                                   con.sql(self.oracles[op]))
                if problems:
                    print(f"perfbench: {op} differs from its oracle: "
                          f"{problems}", file=sys.stderr)
                    self.failed += 1
        finally:
            con.close()
        return time.perf_counter() - t0

    def run_op(self, op: str) -> float:
        """Run and materialize one op; return its wall seconds."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            n = len(self.queries[op](self.spark, self.sf_dir).toPandas())
        except Exception:  # noqa: BLE001 - a failed op is counted
            traceback.print_exc()
            n = None
        wall = time.perf_counter() - t0
        if n is None or n != self.rows.get(op):
            self.failed += 1
        return wall

    def run_op_traced(self, op: str, tracer, store) -> dict:
        from spans import QUERY_LAYERS

        fn = self.queries[op]
        layer = QUERY_LAYERS.get(fn.__module__, "query")
        self.attempted += 1
        persisted0 = store.persisted_rdds()
        root = tracer.open("op", op)
        start_ms = time.time() * 1e3
        n = None
        try:
            q = tracer.open(layer, op)
            try:
                df = fn(self.spark, self.sf_dir)
            finally:
                tracer.close(q)
            m = tracer.open("materialize", "toPandas")
            try:
                n = len(df.toPandas())
            finally:
                tracer.close(m)
        except Exception:  # noqa: BLE001 - a failed op is counted
            traceback.print_exc()
        finally:
            tracer.close(root)
            end_ms = time.time() * 1e3
        if n is None or n != self.rows.get(op):
            self.failed += 1
        return {"op": op, "root": root, "start_ms": start_ms,
                "end_ms": end_ms,
                "persisted_delta": store.persisted_rdds() - persisted0}

    def timed_reps(self) -> list[dict]:
        """``--seconds`` / the workload's nominal rep time reps, rounded up,
        so the count is the same on every run. A traced run rounds the count
        up to a multiple of four and traces reps 1 and 2 of every four (an
        even seed) or reps 0 and 3 (an odd seed)."""
        from sysstat import tree_cpu_s

        tracer = store = None
        if self.args.trace:
            from spans import StatusStore, Tracer

            tracer, store = Tracer(), StatusStore(self.spark.sparkContext)
        reps: list[dict] = []
        pid = os.getpid()
        nominal, _ = WORKLOADS[self.args.workload]
        n_reps = max(1, math.ceil(self.args.seconds / nominal))
        if self.args.trace:
            n_reps = -(-n_reps // 4) * 4
        while len(reps) < n_reps:
            # each rep starts from a collected heap on both sides of py4j
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            traced = bool(self.args.trace) and (
                (len(reps) % 4 in (1, 2)) != (self.args.seed % 2 == 1))
            rep = {"traced": traced, "ops": {}, "phases": {}, "records": []}
            cpu0 = tree_cpu_s(pid)
            if traced:
                tracer.install()
            try:
                for phase, op in self._order():
                    if traced:
                        rec = self.run_op_traced(op, tracer, store)
                        rec["phase"] = phase
                        rep["records"].append(rec)
                        wall = rec["root"].duration()
                    else:
                        wall = self.run_op(op)
                    rep["ops"][op] = wall
                    rep["phases"][phase] = rep["phases"].get(phase, 0.0) + wall
            finally:
                if traced:
                    tracer.uninstall()
            rep["cpu_s"] = tree_cpu_s(pid) - cpu0
            rep["wall_s"] = sum(rep["ops"].values())
            reps.append(rep)
        if store is not None:
            self.collect_spark(reps, store)
        return reps

    def collect_spark(self, reps: list[dict], store) -> None:
        """Attach status-store metrics and layer splits to traced ops."""
        from spans import op_layers, spark_layer

        records = [r for rep in reps for r in rep["records"]]
        if not records:
            return
        since = int(min(r["start_ms"] for r in records)) - 1
        jobs, stages = store.jobs_since(since), store.stages_since(since)
        for r in records:
            m = op_layers(r["root"])
            m.update(spark_layer(r["start_ms"] - 1, r["end_ms"] + 1,
                                 m["wall_s"], jobs, stages))
            m["spark.persisted_rdds_delta"] = float(r["persisted_delta"])
            r["metrics"] = m


def _median(values):
    return statistics.median(values) if values else 0.0


def end_to_end(reps: list[dict], setup_s: float, rss_mb: float) -> dict:
    vals = {
        "setup_s": setup_s,
        "rep_s": _median([r["wall_s"] for r in reps]),
        "cpu_s": _median([r["cpu_s"] for r in reps]),
        "driver_rss_mb": rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def per_layer(reps: list[dict]) -> dict:
    traced = [r for r in reps if r["traced"]]
    plain = [r for r in reps if not r["traced"]]
    out = {}
    for name, unit in PER_LAYER_SUMS.items():
        v = _median([sum(rec["metrics"][name] for rec in r["records"])
                     for r in traced])
        out[name] = {"value": v, "unit": unit}
    records = [rec for r in traced for rec in r["records"]]
    for name, (num, den, unit) in PER_LAYER_RATIOS.items():
        d = sum(rec["metrics"][den] for rec in records)
        n = sum(rec["metrics"][num] for rec in records)
        out[name] = {"value": n / d if d else 0.0, "unit": unit}
    overhead = (_median([r["wall_s"] for r in traced])
                - _median([r["wall_s"] for r in plain]))
    out["trace.overhead_s"] = {"value": overhead, "unit": "s"}
    return out


def print_traced_ops(reps: list[dict]) -> None:
    keys = list(PER_LAYER_SUMS) + ["wall_s", "path.points",
                                   "path.backend_calls",
                                   "screening.kkt_calls",
                                   "screening.kkt_violations"]
    for i, rep in enumerate(reps):
        for rec in rep["records"]:
            m = rec["metrics"]
            line = {"op": rec["op"], "phase": rec["phase"], "rep": i}
            line.update({k: round(m[k], 6) for k in keys})
            pts = m["path.points"]
            line["solvers.passes_per_point"] = (
                m["path.backend_calls"] / pts if pts else None)
            print(json.dumps(line))


def write_spans(reps: list[dict], args) -> str:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json")
    doc = [{"rep": i, "op": rec["op"], "phase": rec["phase"],
            "start_ms": rec["start_ms"], "end_ms": rec["end_ms"],
            "metrics": rec["metrics"], "span": rec["root"].to_json()}
           for i, rep in enumerate(reps) for rec in rep["records"]]
    with open(path, "w") as fh:
        json.dump(doc, fh)
    return path


def context(reps: list[dict], stamp: dict, steal, setup: dict) -> dict:
    from sysstat import cpu_canary_s

    plain = [r for r in reps if not r["traced"]]
    phases = {}
    for phase in (plain[0]["phases"] if plain else {}):
        vals = [r["phases"][phase] for r in plain]
        phases[f"{phase}_s"] = {"median": _median(vals), "n": len(vals)}
    ops = {op: _median([r["ops"][op] for r in plain])
           for op in (plain[0]["ops"] if plain else {})}
    dt = steal[1][1] - steal[0][1]
    return {"context": {
        "env": stamp, "reps": len(reps), "untraced_reps": len(plain),
        "setup": setup, "phases": phases, "op_median_s": ops,
        "rep_walls_s": [r["wall_s"] for r in reps],
        "steal_pct": 100.0 * (steal[1][0] - steal[0][0]) / dt if dt else 0.0,
        "cpu_canary_s": cpu_canary_s()}}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "golem_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no golem_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sf_dir = data_dir(args.sf)
    stamp = pin_environment()
    stamp["sf_dir"] = sf_dir
    sys.path.insert(0, ROOT)
    bench = Bench(args, sf_dir)
    try:
        bench.start()
        bench.warm()
        setup_s = time.monotonic() - T_START
        from sysstat import peak_rss_mb, steal_ticks

        steal0 = steal_ticks()
        reps = bench.timed_reps()
        steal = (steal0, steal_ticks())
        # read before the oracle checks, which run DuckDB in this process
        rss_mb = peak_rss_mb()
        setup = dict(bench.marks, setup_s=setup_s,
                     oracle_check_s=bench.check_oracles(),
                     rss_with_oracle_mb=peak_rss_mb())
    finally:
        bench.close()
    print(json.dumps(context(reps, stamp, steal, setup)))
    if args.trace:
        print_traced_ops(reps)
        print(json.dumps({"spans": write_spans(reps, args)}))
        metrics = per_layer(reps)
    else:
        metrics = end_to_end(reps, setup_s, rss_mb)
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
