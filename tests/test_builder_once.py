"""The builder pulls each record through a shard's Python steps once per
``run()`` (reference src/mr.c:926-970), hands the steps plain
Python values, and keeps the steps before a global fold parallel.

Step calls are counted with Spark accumulators, the way the benchmark
counts its mapper calls."""

from __future__ import annotations

from datetime import date
from decimal import Decimal

import pytest
from pyspark import StorageLevel, TaskContext
from pyspark.sql import functions as F

from libmr_spark import PyAccumulator, create_builder
from libmr_spark.core.builder import ERROR_COL

N, K = 200, 4
OUT = "id bigint, key bigint, sq bigint"
BAD = {i for i in range(N) if i % 10 == 3}  # ids the mapper fails on
UNREAD = {i for i in range(N) if i % 5 == 0}  # ids the flaky reader fails on


def _src(spark):
    return spark.range(0, N, numPartitions=K).select("id", (F.col("id") % 7).alias("key"))


def _square(rec):
    if rec["id"] in BAD:
        raise ValueError(f"bad {rec['id']}")
    return {"id": rec["id"], "key": rec["key"], "sq": rec["id"] * rec["id"]}


def _counted(spark, fn):
    calls = spark.sparkContext.accumulator(0)

    def step(rec):
        calls.add(1)
        return fn(rec)

    return step, calls


def _map_filter_pyacc(spark):
    m, mc = _counted(spark, _square)
    f, fc = _counted(spark, lambda r: r["id"] % 2 == 0)
    acc = PyAccumulator(zero={"n": 0}, fn=lambda a, r: {"n": a["n"] + 1}, schema="n bigint")
    b = create_builder(spark, _src(spark)).map(m, relational=False, out_schema=OUT)
    b = b.filter(f, relational=False).collect().accumulate(acc)
    evens = sum(1 for i in range(N) if i % 2 == 0 and i not in BAD)
    return b, [(mc, N), (fc, N - len(BAD))], [{"n": evens}], len(BAD)


def _map_reshuffle(spark):
    m, mc = _counted(spark, _square)
    b = create_builder(spark, _src(spark)).map(m, relational=False, out_schema=OUT).reshuffle("key")
    want = [{"id": i, "key": i % 7, "sq": i * i} for i in range(N) if i not in BAD]
    return b, [(mc, N)], want, len(BAD)


def _map_relational_acc(spark):
    m, mc = _counted(spark, _square)
    b = create_builder(spark, _src(spark)).map(m, relational=False, out_schema=OUT)
    b = b.collect().accumulate(lambda: F.count(F.lit(1)).alias("n"))
    return b, [(mc, N)], [{"n": N - len(BAD)}], len(BAD)


def _map_relational_filter_map(spark):
    m1, c1 = _counted(spark, _square)
    m2, c2 = _counted(spark, lambda r: {"id": r["id"], "key": r["key"], "sq": -r["sq"]})
    b = create_builder(spark, _src(spark)).map(m1, relational=False, out_schema=OUT)
    b = b.filter(lambda df: F.col("key") != 0).map(m2, relational=False).collect()
    kept = [i for i in range(N) if i not in BAD and i % 7 != 0]
    want = [{"id": i, "key": i % 7, "sq": -i * i} for i in kept]
    return b, [(c1, N), (c2, len(kept))], want, len(BAD)


def _error_reader_map(spark):
    m, mc = _counted(spark, lambda r: {"id": r["id"] + 1000})
    src = _src(spark).withColumn(
        ERROR_COL, F.when(F.col("id") % 5 == 0, F.concat(F.lit("read failed "), F.col("id").cast("string")))
    )
    b = create_builder(spark, src).map(m, relational=False, out_schema="id bigint").collect()
    want = [{"id": i + 1000} for i in range(N) if i not in UNREAD]
    return b, [(mc, N - len(UNREAD))], want, len(UNREAD)


@pytest.mark.parametrize(
    "shape",
    [_map_filter_pyacc, _map_reshuffle, _map_relational_acc, _map_relational_filter_map, _error_reader_map],
)
def test_one_call_per_record_per_step(spark, shape):
    builder, counters, want, n_errors = shape(spark)
    res = builder.run()
    assert sorted((r.asDict() for r in res.results), key=str) == sorted(want, key=str)
    assert len(res.errors) == n_errors
    assert [c.value for c, _ in counters] == [n for _, n in counters]


def test_python_steps_see_python_values(spark):
    rows = [
        (1, Decimal("1.25"), date(2020, 1, 2), {"a": 1}),
        (None, Decimal("-2.50"), date(1999, 12, 31), {"b": 2, "c": None}),
        (2**40, None, None, None),
        (None, Decimal("0.00"), date(2024, 2, 29), {}),
    ]
    schema = "x bigint, d decimal(10,2), dt date, m map<string,int>"
    df = spark.createDataFrame(rows, schema)

    def check(rec):
        x, d, dt, m = rec["x"], rec["d"], rec["dt"], rec["m"]
        for v, t in ((x, int), (d, Decimal), (dt, date), (m, dict)):
            if v is not None and type(v) is not t:
                raise TypeError(f"{v!r} arrived as {type(v).__name__}, want {t.__name__}")
        return rec

    res = create_builder(spark, df).map(check, relational=False, out_schema=schema).collect().run()
    assert res.errors == []
    assert sorted((tuple(r) for r in res.results), key=str) == sorted(rows, key=str)

    nulls = create_builder(spark, df).filter(lambda r: r["x"] is None, relational=False).run()
    assert sorted(r.dt for r in nulls.results) == [date(1999, 12, 31), date(2024, 2, 29)]


def test_python_map_rejects_a_fraction_for_an_integer_column(spark):
    # a float lands in an integer column only when it is integral; 1.5
    # fails the run instead of arriving as 1
    def shifted(by):
        return create_builder(spark, _src(spark)).map(
            lambda r: {"id": r["id"] + by}, relational=False, out_schema="id bigint"
        )

    assert sorted(r.id for r in shifted(0.0).run().results) == list(range(N))
    with pytest.raises(Exception, match="is not an integer"):
        shifted(0.5).run()


def test_global_fold_keeps_upstream_parallelism(spark):
    # the mapper before collect() -> PyAccumulator runs in one task per
    # input partition; only the fold itself is gathered to one task
    def tag(rec):
        return {"task": TaskContext.get().taskAttemptId()}

    acc = PyAccumulator(
        zero=frozenset(),
        fn=lambda a, r: a | {r["task"]},
        schema="tasks bigint",
        finish=lambda a: {"tasks": len(a)},
    )
    res = (
        create_builder(spark, _src(spark))
        .map(tag, relational=False, out_schema="task bigint")
        .collect()
        .accumulate(acc)
        .run()
    )
    assert [r.tasks for r in res.results] == [K]


def test_run_leaves_a_cached_input_cached(spark):
    # run() persists a frame it reads twice only for its own action; a
    # frame the caller cached stays cached
    src = _src(spark).withColumn(ERROR_COL, F.when(F.col("id") % 5 == 0, F.lit("read failed")))
    src.cache()
    try:
        res = create_builder(spark, src).map(lambda df: df.select("id")).collect().run()
        assert len(res.results) == N - len(UNREAD) and len(res.errors) == len(UNREAD)
        assert src.storageLevel != StorageLevel.NONE
    finally:
        src.unpersist()
