"""Named step registry — the Spark-native replacement for LibMR's
type/step registration machinery.

The reference registers every reader/mapper/filter/accumulator by name
on every node at module load (``/root/reference/src/mr.c:1698-1762``;
``/root/reference/src/mr.h:203-227``), and pipelines are serialized as
lists of *names + args*, not code (``/root/reference/src/mr.c:1259-1286``).
Spark ships closures to executors for us, so the registry here exists
purely for API fidelity: steps are addressable by name, and a pipeline
built from names is fully described by ``(step_type, name, args)``
tuples exactly like the reference's wire format.

Two tiers of step implementation:

* **Relational** — the callable manipulates DataFrames/Columns and is
  compiled straight into the Catalyst plan (fast path: whole-stage
  codegen, pushdown, pruning all apply).
* **Python** — the callable is an arbitrary per-record function. Each
  run of consecutive Python map/filter steps compiles to one
  Arrow-batched ``mapInArrow`` stage with LibMR's per-record error
  channel (a failing record becomes an error-record, the pipeline keeps
  running — ``/root/reference/src/mr.c:954-957``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable


class StepType(Enum):
    # Mirrors the reference's step enum (/root/reference/src/mr.c:181-189).
    READER = "reader"
    MAPPER = "mapper"
    FILTER = "filter"
    ACCUMULATOR = "accumulator"
    RESHUFFLE = "reshuffle"
    COLLECT = "collect"
    REMOTE_TASK = "remote_task"


@dataclass
class StepImpl:
    """A registered step implementation.

    ``fn`` signature by (step_type, relational):
      reader        : fn(spark, args) -> DataFrame
      mapper  (rel) : fn(df, args) -> DataFrame
      mapper  (py)  : fn(row_dict, args) -> row_dict        [error channel]
      filter  (rel) : fn(df, args) -> Column (predicate)
      filter  (py)  : fn(row_dict, args) -> bool            [error channel]
      accumulator (rel): fn(args) -> list[Column]  (agg exprs, aliased)
      accumulator (py) : PyAccumulator instance (zero/fn/schema/finish)
      remote_task   : fn(spark_or_iter, args) -> Any
    """

    name: str
    step_type: StepType
    fn: Callable
    relational: bool = True
    # For python mappers: output schema (DDL string) if it differs from input.
    out_schema: str | None = None
    meta: dict[str, Any] = field(default_factory=dict)


@dataclass
class PyAccumulator:
    """LibMR-style streaming fold: acc = fn(acc, record)
    (``/root/reference/src/mr.c:787-810``).

    Must be commutative + associative to be deterministic — the same
    requirement the reference documents, since record arrival order is
    nondeterministic there too (SURVEY §2.3). The fold runs once per
    task: per shard, or over the one gathered partition after
    ``collect()``; there is no map-side combine.

    ``schema`` is the DDL schema of the single emitted row, e.g.
    ``"count bigint"``; ``finish`` turns the final state into that row
    when the state is not already a dict. An empty input stream emits
    *nothing*, not a zero row (reference ``src/mr.c:794-798``).
    """

    zero: Any
    fn: Callable[[Any, dict], Any]
    schema: str
    finish: Callable[[Any], dict] | None = None


class Registry:
    def __init__(self) -> None:
        self._steps: dict[tuple[StepType, str], StepImpl] = {}

    def register(self, impl: StepImpl) -> StepImpl:
        key = (impl.step_type, impl.name)
        self._steps[key] = impl
        return impl

    def get(self, step_type: StepType, name: str) -> StepImpl:
        try:
            return self._steps[(step_type, name)]
        except KeyError:
            raise KeyError(
                f"no {step_type.value} registered under {name!r}; "
                f"known: {[n for (t, n) in self._steps if t is step_type]}"
            ) from None

    def names(self, step_type: StepType | None = None) -> list[str]:
        return sorted(n for (t, n) in self._steps if step_type is None or t is step_type)


GLOBAL_REGISTRY = Registry()


def _decorator(step_type: StepType, name: str, relational: bool, out_schema: str | None = None):
    def deco(fn: Callable) -> Callable:
        GLOBAL_REGISTRY.register(
            StepImpl(name=name, step_type=step_type, fn=fn, relational=relational, out_schema=out_schema)
        )
        return fn

    return deco


def reader(name: str):
    """Register a source: fn(spark, args) -> DataFrame."""
    return _decorator(StepType.READER, name, relational=True)


def mapper(name: str, *, relational: bool = True, out_schema: str | None = None):
    return _decorator(StepType.MAPPER, name, relational, out_schema)


def filterer(name: str, *, relational: bool = True):
    return _decorator(StepType.FILTER, name, relational)


def accumulator(name: str, *, relational: bool = True):
    def deco(fn_or_acc):
        GLOBAL_REGISTRY.register(
            StepImpl(
                name=name,
                step_type=StepType.ACCUMULATOR,
                fn=fn_or_acc,
                relational=relational,
            )
        )
        return fn_or_acc

    return deco


def remote_task(name: str):
    """Register a point/broadcast RPC task (SURVEY §2.1 #8/#9)."""
    return _decorator(StepType.REMOTE_TASK, name, relational=True)


# ---------------------------------------------------------------------
# Built-in steps, registered at import time on every node — the
# Spark-native analog of the reference's auto-registration via the
# linkme distributed slice (/root/reference/LibMRDerive/src/lib.rs:15-26,
# /root/reference/rust_api/libmr/mod.rs:30-31,56-60).
# ---------------------------------------------------------------------


def _count_fold(acc: dict, _rec: dict) -> dict:
    return {"count": acc["count"] + 1}


#: Parity with the reference's CountAccumulator
#: (/root/reference/tests/mr_test_module/src/lib.rs:541-560): usable by
#: name, `.accumulate("count")`, like `lmr_count_key`
#: (/root/reference/tests/mr_test_module/src/lib.rs:254-275).
GLOBAL_REGISTRY.register(
    StepImpl(
        name="count",
        step_type=StepType.ACCUMULATOR,
        fn=PyAccumulator(zero={"count": 0}, fn=_count_fold, schema="count bigint"),
        relational=False,
    )
)
