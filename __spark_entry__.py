"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001. ``queries()`` exposes
every implemented operator (SURVEY.md §2) as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` gives the DuckDB-equivalent SQL for each.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# the golem_spark beside this file, not a hard-coded checkout's
_ROOT = os.path.dirname(os.path.abspath(__file__))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from golem_spark.session import load_tables
from golem_spark.kernels import KERNELS
from golem_spark.glm_queries import GLM_QUERIES, glm_oracles
from golem_spark.pipeline.kernels import PIPELINE_ORACLES, PIPELINE_QUERIES


def _kernel_query(name: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        load_tables(spark, sf_dir)
        return spark.sql(KERNELS[name].spark_sql)

    run.__name__ = f"query_{name}"
    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: grouped-aggregation substrate (K18) on sf0.001."""
    load_tables(spark, "/root/testdata/sf0.001")
    return spark.sql(KERNELS["k18_grouped_agg"].spark_sql)


def _verification_rank() -> dict[str, int]:
    """Map query name -> latest driver round that hash-verified it.

    The driver's correctness gate caps at 50 queries taken from the head
    of ``queries()`` (VERDICT r4 item 3), so we rotate never-verified and
    least-recently-verified entries to the front each round. Reading the
    CORRECTNESS_r*.json records keeps the rotation automatic.
    """
    import glob
    import json
    import os
    import re

    last: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rec, dict):
            continue
        for name, row in rec.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last[name] = max(last.get(name, -1), rnd)
    return last


DRIVER_WINDOW = 50  # the driver's correctness gate caps at 50 queries


def query_fingerprint(name: str, fn, sql: str | None) -> str:
    """Content fingerprint of one query: its DuckDB oracle SQL plus the
    implementation source (kernel Spark SQL for KERNELS entries, the
    registered function's source otherwise). The rotation treats a
    query whose fingerprint differs from the one stamped at its last
    driver verification (tools/query_fingerprints.json) as UNVERIFIED,
    so changed queries re-enter the driver's window the round they
    change instead of waiting out the LRU cycle (VERDICT r6 item 3).

    Granularity note: the function-source hash does not see edits to
    helpers a query calls — when a shared helper changes, invalidate
    its dependent queries explicitly:
    ``python tools/update_fingerprints.py --invalidate <names>``.
    """
    import hashlib
    import inspect

    if name in KERNELS:
        impl = KERNELS[name].spark_sql
    else:
        target = getattr(fn, "__wrapped__", fn)
        try:
            impl = inspect.getsource(target)
        except (OSError, TypeError):
            impl = ""
    return hashlib.md5((repr(sql) + "\n" + impl).encode()).hexdigest()


def _stored_fingerprints() -> dict[str, str]:
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "query_fingerprints.json")
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        return {}
    return rec if isinstance(rec, dict) else {}


_ORDER_CACHE: list[str] | None = None


def _ordered_names(base_fns: dict, base_sql: dict) -> list[str]:
    """Rotation order for the driver's bounded correctness window:
    (changed-or-never-verified first, then least-recently-verified
    round, then registration order). A query counts as changed when its
    current content fingerprint differs from the one stamped at its
    last verification, so implementation/oracle edits rotate straight
    back to the front. The front group (rank -1) is capped at the
    window size — registering more new/changed queries than the driver
    can verify in one round fails loudly here instead of silently
    starving the backlog (ADVICE r6)."""
    global _ORDER_CACHE
    if _ORDER_CACHE is not None:
        return _ORDER_CACHE
    rank = _verification_rank()
    stored = _stored_fingerprints()
    names = list(base_fns)
    idx = {n: i for i, n in enumerate(names)}

    def sort_key(n: str):
        r = rank.get(n, -1)
        if stored.get(n) != query_fingerprint(n, base_fns[n],
                                              base_sql.get(n)):
            r = -1
        return (r, idx[n])

    keys = {n: sort_key(n) for n in names}
    front = [n for n in names if keys[n][0] == -1]
    if len(front) > DRIVER_WINDOW:
        raise AssertionError(
            f"{len(front)} new/changed queries exceed the driver's "
            f"{DRIVER_WINDOW}-query verification window — stage "
            f"registrations across rounds or re-stamp verified ones "
            f"(tools/update_fingerprints.py): {sorted(front)[:60]}")
    _ORDER_CACHE = sorted(names, key=keys.__getitem__)
    return _ORDER_CACHE


def _bases() -> tuple[dict, dict]:
    fns: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name in KERNELS:
        fns[name] = _kernel_query(name)
    fns.update(PIPELINE_QUERIES)
    # GLM path fits at pinned sigmas, fully oracle-checked: sigma_max and
    # the gaussian tail are recomputed in SQL, and every fitted row's
    # dev_ratio is re-derived by DuckDB from the emitted coefficients
    # (golem_spark/glm_queries.py).
    fns.update(GLM_QUERIES)
    sql = {name: k.duck_sql for name, k in KERNELS.items()}
    sql.update(PIPELINE_ORACLES)
    sql.update(glm_oracles())
    return fns, sql


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    fns, sql = _bases()
    return {name: fns[name] for name in _ordered_names(fns, sql)}


def oracle_sql() -> dict[str, str]:
    fns, sql = _bases()
    return {name: sql[name] for name in _ordered_names(fns, sql)}
