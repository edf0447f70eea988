"""py4j round trips per warm call stay bounded.

get_spark turns PySpark's DataFrame debugging off. At its default, every
Column and ``functions`` call on the driver records its Python call site
over py4j (a conf read, a JVM class lookup, then setting and clearing the
origin), which multiplied the round trips of every query that builds
Column trees. Each bound sits between the count measured with the flag
off and the count measured with it on, so it fails if the flag is lost.

py4j's proxy releases (the ``m d`` command a JavaObject sends when Python
frees it) are not counted: they follow the garbage collector, and the same
warm glm_score_binomial call sent 0 to 817 of them from run to run. The
other commands repeated exactly on every warm call measured. At sf0.001,
flag off -> on: glm_binomial_path 960 -> 3,540, glm_cv_gaussian 1,493 ->
5,193, glm_score_binomial 494 -> 1,524, p06_jaccard_pairs 418 -> 1,118,
p102_triangle_count 459 -> 1,049.
"""

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

import __spark_entry__ as entrymod
from perfbench.run import data_dir

SF_DIR = data_dir("0.001")
RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
BOUNDS = {
    "glm_binomial_path": 2_500,
    "glm_cv_gaussian": 4_000,
    "glm_score_binomial": 1_200,
    "p06_jaccard_pairs": 1_000,
    "p102_triangle_count": 1_000,
}


@pytest.fixture(scope="module")
def rounds(spark):
    """Three rounds of the ops, interleaved the way a session runs them:
    the py4j calls each call made from every driver thread, proxy
    releases aside."""
    qs = entrymod.queries()
    calls = []
    orig = ClientServerConnection.send_command

    def counting(self, command):
        if not command.startswith(RELEASE):
            calls.append(None)  # list.append is atomic across threads
        return orig(self, command)

    per_call = {op: [] for op in BOUNDS}
    ClientServerConnection.send_command = counting
    try:
        for _ in range(3):
            for op in BOUNDS:
                c = len(calls)
                qs[op](spark, SF_DIR).toPandas()
                per_call[op].append(len(calls) - c)
    finally:
        ClientServerConnection.send_command = orig
    return per_call


def test_get_spark_turns_dataframe_debugging_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


@pytest.mark.parametrize("op", list(BOUNDS))
def test_warm_calls_stay_under_py4j_bound(rounds, op):
    warm = rounds[op][1:]
    assert max(warm) <= BOUNDS[op], rounds[op]
