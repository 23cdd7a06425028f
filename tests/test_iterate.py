"""Iteration analogs: BulkIteration / DeltaIteration (operators/iterate.py)
and IterativeStream feedback loops (streaming/iterate.py).  Reference:
IterativeStream.java:214, IterativeDataSet.java, DeltaIteration.java."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_release_1_10_0_spark.operators.iterate import (
    bulk_iterate, delta_iterate)
from flink_release_1_10_0_spark.streaming.iterate import iterate_feedback


def test_bulk_iteration_fixed_count(spark):
    df = spark.range(5).select(F.col("id").cast("bigint").alias("v"))
    out = bulk_iterate(df, lambda d: d.select((F.col("v") * 2).alias("v")), 3)
    assert sorted(r.v for r in out.collect()) == [0, 8, 16, 24, 32]


def test_feedback_loop_emits_all_rounds(spark):
    df = spark.createDataFrame([(1, 0), (5, 0), (9, 0)], "v long, steps long")

    def step(cur):
        nxt = cur.select((F.col("v") - 4).alias("v"),
                         (F.col("steps") + 1).alias("steps"))
        return nxt.filter("v > 0"), nxt.filter("v <= 0")

    out = iterate_feedback(df, step)
    got = sorted((r.v, r.steps) for r in out.collect())
    # 1 -> -3 @1; 5 -> 1 @1 -> -3 @2; 9 -> 5 @1 -> 1 @2 -> -3 @3
    assert got == [(-3, 1), (-3, 2), (-3, 3)]


def test_feedback_loop_max_iterations_cap(spark):
    df = spark.createDataFrame([(10,)], "v long")

    def step(cur):
        # never terminates on its own: always feeds back
        return cur.select((F.col("v") + 1).alias("v")), cur.limit(0)

    out = iterate_feedback(df, step, max_iterations=4)
    assert out.count() == 0  # cap reached, no forward output produced


def test_delta_iteration_upserts_solution_and_stops_on_empty_workset(spark):
    # solution keyed on k; each round increments worked keys, workset
    # shrinks by dropping the max key
    solution = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], "k long, n long")
    workset = spark.createDataFrame([(1,), (2,), (3,)], "k long")

    def step(sol, ws):
        delta = (sol.join(ws, "k").select("k", (F.col("n") + 1).alias("n")))
        mx = ws.agg(F.max("k").alias("m"))
        next_ws = ws.join(mx, ws.k == mx.m, "left_anti")
        return delta, next_ws

    out = delta_iterate(solution, workset, step, 50, key_cols=["k"])
    got = sorted((r.k, r.n) for r in out.collect())
    # k=3 updated once, k=2 twice, k=1 three times
    assert got == [(1, 3), (2, 2), (3, 1)]


def test_feedback_loop_rejects_nonpositive_iterations(spark):
    import pytest

    df = spark.createDataFrame([(1,)], "v long")
    with pytest.raises(ValueError, match="max_iterations"):
        iterate_feedback(df, lambda d: (d, d), max_iterations=0)


def test_feedback_loop_100_rounds_bounded_plan(spark):
    """A 120-round loop must complete with a bounded final plan: the
    incremental fold (union + localCheckpoint every ~32 rounds) returns
    a materialized accumulator, never a 120-leaf union tree."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(F.col("id").cast("int").alias("i"))

    def step(cur):
        out = cur
        fb = (cur.filter(F.col("i") < 119)
              .select((F.col("i") + 1).alias("i")))
        return fb, out

    out = iterate_feedback(df, step)
    got = sorted(r.i for r in out.collect())
    assert got == list(range(120))
    # the returned plan is the folded checkpoint: a single scan, with
    # no Union node left above it
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert len(plan.splitlines()) <= 3


# ---------------------------------------------------------------------------
# Each superstep releases the checkpoint it superseded: a run leaves one
# new persistent RDD (the result's checkpoint) however many rounds it takes
# ---------------------------------------------------------------------------

def _new_persistent(spark, run):
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    run().collect()
    return set(sc._jsc.getPersistentRDDs().keys()) - before


def test_bulk_iteration_releases_superseded_checkpoints(spark):
    df = spark.range(5).select(F.col("id").alias("v"))

    def run(rounds):
        return lambda: bulk_iterate(
            df, lambda d: d.select((F.col("v") * 2).alias("v")), rounds)

    assert (len(_new_persistent(spark, run(2)))
            == len(_new_persistent(spark, run(6))) == 1)


def test_delta_iteration_releases_superseded_checkpoints(spark):
    def step(sol, ws):
        delta = sol.join(ws, "k").select("k", (F.col("n") + 1).alias("n"))
        mx = ws.agg(F.max("k").alias("m"))
        return delta, ws.join(mx, ws.k == mx.m, "left_anti")

    def run(keys):
        solution = spark.createDataFrame(
            [(k, 0) for k in range(keys)], "k long, n long")
        workset = solution.select("k")
        return lambda: delta_iterate(solution, workset, step, 50,
                                     key_cols=["k"])

    assert (len(_new_persistent(spark, run(2)))
            == len(_new_persistent(spark, run(6))) == 1)


def test_feedback_loop_releases_superseded_checkpoints(spark):
    def step(cur):
        nxt = cur.select((F.col("v") - 1).alias("v"))
        return nxt.filter("v > 0"), nxt.filter("v <= 0")

    def run(rounds):      # 35 rounds crosses one accumulator fold
        df = spark.createDataFrame([(rounds,)], "v long")
        return lambda: iterate_feedback(df, step)

    assert (len(_new_persistent(spark, run(3)))
            == len(_new_persistent(spark, run(35))) == 1)
