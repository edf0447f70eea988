"""Generated-class working set of the query suite.

Runs every ``queries()`` entry twice in one session, a cold pass and then
a second pass, and prints for each pass the number of classes Janino
compiled (Spark's CodegenMetrics), its wall seconds, and the JVM's
Metaspace and code-cache use after it; ``--json`` also keeps each
query's nonzero compile count. A second pass that compiles close
to nothing means ``spark.sql.codegen.cache.maxEntries`` (set by
golem_spark.session.get_spark) holds the suite's working set; a second
pass that recompiles most of what the first compiled means the cache
evicts classes before their next use.

Usage: python tools/codegen_working_set.py SF_DIR [--json=PATH]
       (SF_DIR: a table directory listed in TESTDATA.md)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from golem_spark.session import codegen_compile_count, get_spark


def jvm_pools_mb(spark) -> dict:
    """Used MB of the JVM's non-heap pools: Metaspace, compressed class
    space and the code-cache segments."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {}
    for pool in mf.getMemoryPoolMXBeans():
        name = pool.getName()
        if name in ("Metaspace", "Compressed Class Space") or \
                name.startswith(("CodeHeap", "Code Cache")):
            out[name] = round(pool.getUsage().getUsed() / 2 ** 20, 1)
    return out


def run_pass(spark, qs, sf_dir: str) -> dict:
    t0 = time.monotonic()
    failed, by_query = [], {}
    for name, fn in qs.items():
        c0 = codegen_compile_count(spark)
        try:
            fn(spark, sf_dir).collect()
        except Exception as exc:  # keep counting: one failure is not a pass
            failed.append(f"{name}: {type(exc).__name__}")
        by_query[name] = codegen_compile_count(spark) - c0
    return {"compiles": sum(by_query.values()),
            "wall_s": round(time.monotonic() - t0, 1),
            "failed": failed, "jvm_mb": jvm_pools_mb(spark),
            "compiles_by_query": {k: v for k, v in by_query.items() if v}}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(a[2:].split("=", 1) for a in sys.argv[1:]
                if a.startswith("--"))
    if not args:
        raise SystemExit(__doc__.split("Usage: ")[1])
    sf_dir = args[0]
    spark = get_spark("codegen_working_set")
    qs = entrymod.queries()
    out = {"sf_dir": sf_dir, "queries": len(qs),
           "cache_entries": int(spark.conf.get(
               "spark.sql.codegen.cache.maxEntries")),
           "jvm_mb_start": jvm_pools_mb(spark)}
    for label in ("cold", "second"):
        out[label] = run_pass(spark, qs, sf_dir)
        print(label, json.dumps({k: v for k, v in out[label].items()
                                 if k != "compiles_by_query"}), flush=True)
    json_path = opts.get("json")
    if json_path:
        with open(json_path, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
