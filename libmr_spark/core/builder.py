"""ExecutionBuilder — LibMR's pipeline programming model compiled to
Spark DataFrames.

Reference model: a client composes named steps
``reader → map/filter/accumulate → reshuffle/collect`` into an
execution (builder API ``/root/reference/src/mr.h:116-145``,
``/root/reference/src/mr.c:336-450``; typed Rust front-end
``/root/reference/rust_api/libmr/execution_builder.rs:38-132``), the
pipeline is distributed to every shard and records are pulled through
the step chain (``/root/reference/src/mr.c:926-970``).

Here the same chain is *compiled into a Catalyst logical plan*:

* relational steps become DataFrame transformations (whole-stage
  codegen, predicate pushdown, column pruning — all free),
* each run of consecutive arbitrary-Python map/filter steps becomes
  ONE Arrow-batched ``mapInArrow`` stage with LibMR's per-record error
  channel (reference ``src/mr.c:954-957``: a step error turns the
  record into an ErrorRecord that travels in-band to the end),
* ``reshuffle`` is a hash repartition (the reference routes records by
  CRC16 slot — ``/root/reference/src/mr.c:736-785``),
* ``collect`` makes a following accumulate a global fold on one task
  (the reference gathers to the initiating shard —
  ``src/mr.c:812-862``).

Everything the reference hand-builds for distribution — topology,
serialization, retries, completion barriers (~70% of its code) — is
supplied by Spark's scheduler/shuffle and deliberately NOT rebuilt.
"""

from __future__ import annotations

import dataclasses
import threading
import uuid
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegralType, MapType, StringType, StructField, StructType

from .registry import GLOBAL_REGISTRY, PyAccumulator, Registry, StepImpl, StepType

ERROR_COL = "__mr_error__"

#: Error string raised on timeout; matches the reference's
#: "execution max idle reached" (/root/reference/src/mr.c:1306-1331).
MAX_IDLE_ERROR = "execution max idle reached"


class ExecutionError(RuntimeError):
    pass


def run_with_job_group_timeout(spark: SparkSession, work: Callable[[], Any], timeout_ms: int, error_msg: str) -> Any:
    """Run ``work`` (which triggers Spark jobs) with a deadline: the jobs
    are tagged with a job group and cancelled on the cluster if the
    deadline passes, then ``ExecutionError(error_msg)`` is raised. This
    is the Spark analog of the reference's event-loop delay-task timers
    (execution max-idle /root/reference/src/mr.c:1306-1331, remote-task
    timeout /root/reference/src/mr.c:2085-2099)."""
    sc = spark.sparkContext
    group = f"libmr-timeout-{uuid.uuid4().hex}"
    out: dict[str, Any] = {}

    def target():
        sc.setJobGroup(group, "libmr_spark timed work", interruptOnCancel=True)
        try:
            out["value"] = work()
        except Exception as e:  # surfaced below
            out["exc"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout_ms / 1000.0)
    if t.is_alive():
        sc.cancelJobGroup(group)
        raise ExecutionError(error_msg)
    if "exc" in out:
        raise out["exc"]
    return out["value"]


@dataclass
class ExecutionResult:
    """The reference's done-callback contract: ``(results, errors)``
    (``/root/reference/src/mr.h:65-69``). ``errors`` are record-level
    error strings; a failing step yields ``(0 results, N errors)``
    with the execution still completing normally
    (``/root/reference/tests/mr_test_module/pytests/test_errors.py:5-25``).
    """

    results: list
    errors: list[str]


@dataclass
class _Step:
    step_type: StepType
    name: str | None
    args: Any
    impl: StepImpl | Callable | None = None
    key: Any = None  # reshuffle key expression(s)


def _resolve(registry: Registry, step_type: StepType, name_or_fn, relational_default=True) -> StepImpl:
    if isinstance(name_or_fn, str):
        return registry.get(step_type, name_or_fn)
    if isinstance(name_or_fn, StepImpl):
        return name_or_fn
    if isinstance(name_or_fn, PyAccumulator):
        return StepImpl(name=f"<py:{step_type.value}>", step_type=step_type, fn=name_or_fn, relational=False)
    return StepImpl(
        name=f"<inline:{step_type.value}>",
        step_type=step_type,
        fn=name_or_fn,
        relational=relational_default,
    )


def _py_stage(df: DataFrame, steps: list[_Step], acc: PyAccumulator | None = None) -> DataFrame:
    """ONE ``mapInArrow`` stage pulling each record once through a run of
    Python map/filter steps (reference src/mr.c:926-970), or a fold
    (:787-810) that emits one row per non-empty task. A step error makes
    the record an error record that skips later steps and passes through
    in-band (:954-957); a map's output is projected to its columns."""
    fields = [f for f in df.schema.fields if f.name != ERROR_COL]
    map_cols = [f.name for f in fields if isinstance(f.dataType, MapType)]
    chain = []  # (fn, args, output columns of a map | None for a filter)
    for s in steps:
        cols = None
        if s.step_type is StepType.MAPPER:
            if s.impl.out_schema is not None:
                # parse the DDL rather than splitting on ',' — field types
                # like decimal(18,2) or map<string,int> contain commas
                fields = StructType.fromDDL(s.impl.out_schema).fields
            cols = [f.name for f in fields]
        chain.append((s.impl.fn, s.args, cols))
    if acc is not None:
        fields = StructType.fromDDL(acc.schema).fields
    # every output column is nullable: an error record nulls them all
    out_schema = StructType(
        [*(StructField(f.name, f.dataType) for f in fields), StructField(ERROR_COL, StringType())]
    )
    arrow_schema = to_arrow_schema(out_schema)
    int_cols = [f.name for f in fields if isinstance(f.dataType, IntegralType)]

    def to_batch(rows: list[dict]) -> pa.RecordBatch:
        # Arrow would silently truncate a fractional float in an integer column
        for c in int_cols:
            for r in rows:
                v = r.get(c)
                if isinstance(v, float) and not v.is_integer():
                    raise ExecutionError(f"column {c!r}: {v!r} is not an integer")
        return pa.RecordBatch.from_pylist(rows, schema=arrow_schema)

    def through(rec: dict) -> dict | None:
        """``rec`` after every step, or None once a filter drops it."""
        for fn, args, cols in chain:
            out = fn(rec, args) if args is not None else fn(rec)
            if cols is not None:
                rec = {c: out.get(c) for c in cols}
            elif not out:
                return None
        return rec

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        state, seen = acc.zero if acc is not None else None, False
        for batch in batches:
            rows = []
            for rec in batch.to_pylist():
                err = rec.pop(ERROR_COL, None)
                if err is None:
                    for c in map_cols:  # Arrow hands maps over as (key, value) lists
                        if rec[c] is not None:
                            rec[c] = dict(rec[c])
                    try:
                        rec = through(rec)
                    except Exception as e:  # record-level error, keep going
                        err = str(e)
                if err is not None:
                    rows.append({ERROR_COL: err})
                elif rec is None:
                    continue
                elif acc is None:
                    rows.append(rec)
                else:
                    state, seen = acc.fn(state, rec), True
            yield to_batch(rows)
        if seen:
            row = acc.finish(state) if acc.finish else state
            if not isinstance(row, dict):
                raise ExecutionError("PyAccumulator must fold to a dict (or provide finish())")
            yield to_batch([row])

    return df.mapInArrow(run, out_schema)


class Execution:
    """A compiled pipeline: one DataFrame whose error records travel
    in-band in ``ERROR_COL`` (reference ``src/mr.c:954-957``).
    ``reread`` are the frames the plan reads twice (clean and error
    rows); ``run()`` persists them so each step runs once per record."""

    def __init__(self, spark: SparkSession, df: DataFrame, reread: list[DataFrame], max_idle_ms: int | None):
        self.spark = spark
        self._df = df
        self._reread = reread
        self.max_idle_ms = max_idle_ms
        self.execution_id = uuid.uuid4().hex  # ≈ shardId+counter id (/root/reference/src/mr.c:452-464)

    def dataframe(self) -> DataFrame:
        """The distributed results (stays lazy — preferred at scale)."""
        if ERROR_COL in self._df.columns:
            return self._df.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL)
        return self._df

    def run(self) -> ExecutionResult:
        """Execute and gather ``(results, errors)`` to the driver —
        the reference's done-callback (/root/reference/src/mr.c:1014-1057).
        ``max_idle_ms`` maps to job-group cancellation (the reference
        kills idle executions after maxIdle — /root/reference/src/mr.c:26-28,1306-1331).
        """
        if self.max_idle_ms is None:
            return self._evaluate()
        return run_with_job_group_timeout(self.spark, self._evaluate, self.max_idle_ms, MAX_IDLE_ERROR)

    def _evaluate(self) -> ExecutionResult:
        """One action over the final frame; results and errors are split
        on the driver."""
        # frames the caller cached stay cached after the run
        owned = [d for d in self._reread if d.storageLevel == StorageLevel.NONE]
        for d in owned:
            d.persist()
        try:
            rows = self._df.collect()
        finally:
            for d in owned:
                d.unpersist()
        cols = self._df.columns
        if ERROR_COL not in cols:
            return ExecutionResult(rows, [])
        i = cols.index(ERROR_COL)
        result_row = Row(*cols[:i], *cols[i + 1 :])
        results = [result_row(*r[:i], *r[i + 1 :]) for r in rows if r[i] is None]
        return ExecutionResult(results, [r[i] for r in rows if r[i] is not None])


class ExecutionBuilder:
    """Fluent pipeline builder, mirroring
    ``create_builder(reader).map(m).filter(f).reshuffle().collect()
    .accumulate(a).create_execution()``
    (``/root/reference/rust_api/libmr/execution_builder.rs:38-132``)."""

    def __init__(
        self,
        spark: SparkSession,
        reader,
        args: Any = None,
        registry: Registry | None = None,
    ):
        self.spark = spark
        self.registry = registry or GLOBAL_REGISTRY
        self._steps: list[_Step] = []
        self._max_idle_ms: int | None = None
        if isinstance(reader, DataFrame):
            impl = StepImpl("<df>", StepType.READER, lambda s, a: reader)
            self._steps.append(_Step(StepType.READER, "<df>", None, impl))
        else:
            impl = _resolve(self.registry, StepType.READER, reader)
            self._steps.append(_Step(StepType.READER, impl.name, args, impl))

    # -- pipeline steps ------------------------------------------------
    def map(self, fn, args: Any = None, *, relational: bool | None = None, out_schema: str | None = None):
        impl = _resolve(self.registry, StepType.MAPPER, fn, relational_default=relational is not False)
        # copy before overriding — _resolve may return the registry-owned
        # instance, and a per-call override must not rewrite the global step
        if relational is not None and impl.relational != relational:
            impl = dataclasses.replace(impl, relational=relational)
        if out_schema is not None and impl.out_schema != out_schema:
            impl = dataclasses.replace(impl, out_schema=out_schema)
        self._steps.append(_Step(StepType.MAPPER, impl.name, args, impl))
        return self

    def filter(self, fn, args: Any = None, *, relational: bool | None = None):
        impl = _resolve(self.registry, StepType.FILTER, fn, relational_default=relational is not False)
        if relational is not None and impl.relational != relational:
            impl = dataclasses.replace(impl, relational=relational)
        self._steps.append(_Step(StepType.FILTER, impl.name, args, impl))
        return self

    def accumulate(self, fn, args: Any = None):
        impl = _resolve(self.registry, StepType.ACCUMULATOR, fn)
        if isinstance(impl.fn, PyAccumulator) and impl.relational:
            impl = dataclasses.replace(impl, relational=False)
        self._steps.append(_Step(StepType.ACCUMULATOR, impl.name, args, impl))
        return self

    def reshuffle(self, key=None, num_partitions: int | None = None):
        """Hash-repartition by ``key`` (column name/Column/list). The
        reference routes by each record's hashTag slot
        (/root/reference/src/mr.c:736-785); Murmur3 hash partitioning
        is the Spark-native equivalent (SURVEY §1.4)."""
        self._steps.append(_Step(StepType.RESHUFFLE, None, num_partitions, None, key))
        return self

    def collect(self):
        """Gather to the initiator (/root/reference/src/mr.c:812-862).
        Scopes the accumulates that follow: each becomes a global fold
        over one gathered partition. Map and filter steps after it keep
        running in parallel."""
        self._steps.append(_Step(StepType.COLLECT, None, None, None))
        return self

    def max_idle(self, ms: int):
        """≈ MR_SetMaxIdle (/root/reference/src/mr.h:169)."""
        self._max_idle_ms = ms
        return self

    # -- spec round-trip (the reference's wire format: names + args,
    #    /root/reference/src/mr.c:1259-1286) ---------------------------
    def to_spec(self) -> list[dict]:
        out = []
        for s in self._steps:
            if s.name is not None and s.name.startswith("<"):
                raise ExecutionError(f"step {s.name} is inline; only named steps serialize")
            out.append({"type": s.step_type.value, "name": s.name, "args": s.args, "key": s.key})
        return out

    @classmethod
    def from_spec(cls, spark: SparkSession, spec: list[dict], registry: Registry | None = None) -> "ExecutionBuilder":
        registry = registry or GLOBAL_REGISTRY
        if not spec or spec[0]["type"] != StepType.READER.value:
            raise ExecutionError("spec must start with a reader")
        b = cls(spark, spec[0]["name"], spec[0].get("args"), registry)
        for s in spec[1:]:
            t = StepType(s["type"])
            if t is StepType.MAPPER:
                b.map(s["name"], s.get("args"))
            elif t is StepType.FILTER:
                b.filter(s["name"], s.get("args"))
            elif t is StepType.ACCUMULATOR:
                b.accumulate(s["name"], s.get("args"))
            elif t is StepType.RESHUFFLE:
                b.reshuffle(s.get("key"), s.get("args"))
            elif t is StepType.COLLECT:
                b.collect()
            else:
                raise ExecutionError(f"unknown step type {t}")
        return b

    # -- compile -------------------------------------------------------
    def create_execution(self) -> Execution:
        df: DataFrame | None = None
        pending: list[_Step] = []  # consecutive Python map/filter steps
        reread: list[DataFrame] = []
        collected = False

        def on_clean_rows(d: DataFrame, step: Callable[[DataFrame], DataFrame]) -> DataFrame:
            """Run a relational step that reshapes rows on the clean rows
            only; error rows rejoin the stream in-band after it."""
            if ERROR_COL not in d.columns:
                return step(d)
            reread.append(d)
            out = step(d.filter(F.col(ERROR_COL).isNull()).drop(ERROR_COL))
            errors = d.filter(F.col(ERROR_COL).isNotNull()).select(ERROR_COL)
            return out.withColumn(ERROR_COL, F.lit(None).cast("string")).unionByName(
                errors, allowMissingColumns=True
            )

        for s in self._steps:
            impl = s.impl
            if s.step_type in (StepType.MAPPER, StepType.FILTER) and not impl.relational:
                pending.append(s)
                continue
            if pending:
                df, pending = _py_stage(df, pending), []
            if s.step_type is StepType.READER:
                df = impl.fn(self.spark, s.args)
            elif s.step_type is StepType.MAPPER:
                df = on_clean_rows(df, lambda d: impl.fn(d, s.args) if s.args is not None else impl.fn(d))
            elif s.step_type is StepType.FILTER:
                pred = impl.fn(df, s.args) if s.args is not None else impl.fn(df)
                if not isinstance(pred, Column):
                    raise ExecutionError("relational filter must return a Column predicate")
                if ERROR_COL in df.columns:
                    pred = pred | F.col(ERROR_COL).isNotNull()
                df = df.filter(pred)
            elif s.step_type is StepType.RESHUFFLE:
                n = s.args
                if s.key is None:
                    df = df.repartition(n) if n else df.repartition(self.spark.sparkContext.defaultParallelism)
                else:
                    keys = s.key if isinstance(s.key, (list, tuple)) else [s.key]
                    keys = [F.col(k) if isinstance(k, str) else k for k in keys]
                    df = df.repartition(n, *keys) if n else df.repartition(*keys)
            elif s.step_type is StepType.COLLECT:
                collected = True
            elif s.step_type is StepType.ACCUMULATOR and not impl.relational:
                # a global fold gathers through a shuffle, so the steps
                # before it keep their parallelism
                df = _py_stage(df.repartition(1) if collected else df, [], impl.fn)
            elif s.step_type is StepType.ACCUMULATOR:
                exprs = impl.fn(s.args) if s.args is not None else impl.fn()
                if isinstance(exprs, Column):
                    exprs = [exprs]
                if collected:
                    # Global agg that emits NOTHING on empty input
                    # (reference src/mr.c:794-798): grouped agg
                    # on a constant yields 0 rows when input is empty.
                    df = on_clean_rows(df, lambda d: d.groupBy(F.lit(1).alias("__g__")).agg(*exprs).drop("__g__"))
                else:
                    # per-shard partial: one row per non-empty partition
                    df = on_clean_rows(
                        df,
                        lambda d: d.withColumn("__pid__", F.spark_partition_id())
                        .groupBy("__pid__")
                        .agg(*exprs)
                        .drop("__pid__"),
                    )
            else:
                raise ExecutionError(f"unhandled step {s.step_type}")
        if pending:
            df = _py_stage(df, pending)
        return Execution(self.spark, df, reread, self._max_idle_ms)

    def run(self) -> ExecutionResult:
        return self.create_execution().run()


def create_builder(spark: SparkSession, reader, args: Any = None, registry: Registry | None = None) -> ExecutionBuilder:
    """≈ MR_CreateExecutionBuilder (/root/reference/src/mr.c:336-356)."""
    return ExecutionBuilder(spark, reader, args, registry)
