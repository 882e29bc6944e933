"""Per-layer metrics of the traced run, from the benchmark's spans and
the Spark event log. Every traced run reports every name below; a
layer or operation kind the workload does not exercise reads 0 (no
jobs, no time, no bytes).
"""

from __future__ import annotations

import statistics

from . import eventlog
from .common import percentile

#: store operation kinds, by module: operators.dedup, .retrieval,
#: .matview, .takedown
STORE_KINDS = ("exact_commit", "bm25_commit", "mv_commit", "takedown", "compact_bm25", "compact_mv", "stats")
WRITE_KINDS = STORE_KINDS[:6]
BUILDER_KINDS = ("py_map_filter_acc", "py_map_reshuffle", "rel_filter_acc")
PY_KINDS = BUILDER_KINDS[:2]

SESSION = ("session.start_s", "setup.generate_s", "setup.bootstrap_s", "setup.warmup_s")


def names() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {n: "s" for n in SESSION}
    out.update(
        {
            "builder.compile_s": "s",
            "builder.jobs_per_run": "count",
            "builder.stages_per_run": "count",
            "builder.tasks_per_run": "count",
            "builder.driver_s": "s",
            "builder.py_calls_per_record": "calls/record",
            "builder.py_run_s": "s",
            "builder.py_bytes_sent": "B",
            "rpc.run_on_key.jobs": "count",
            "rpc.run_on_key.driver_s": "s",
            "rpc.run_on_key.p50_s": "s",
            "rpc.run_on_key.p90_s": "s",
            "rpc.all_shards.jobs": "count",
            "rpc.all_shards.p50_s": "s",
        }
    )
    for k in STORE_KINDS:
        out.update(
            {
                f"{k}.p50_s": "s",
                f"{k}.jobs": "count",
                f"{k}.tasks": "count",
                f"{k}.job_s": "s",
                f"{k}.driver_s": "s",
                f"{k}.shuffle_write_bytes": "B",
                f"{k}.input_bytes": "B",
            }
        )
        if k in WRITE_KINDS:
            out[f"{k}.files_written"] = "count"
            out[f"{k}.bytes_written"] = "B"
    out["store.bytes_per_input_byte"] = "B/B"
    out.update(
        {
            "spark.jobs": "count",
            "spark.tasks": "count",
            "spark.gc_s": "s",
            "spark.executor_cpu_s": "s",
            "spark.shuffle_write_bytes": "B",
            "trace.overhead_ratio": "ratio",
            "trace.unattributed_jobs": "count",
        }
    )
    return out


class _Kind:
    """Jobs and spans of one op kind; every figure is per operation."""

    def __init__(self, spans, jobs_of):
        self.spans = spans
        self.jobs = [j for s in spans for j in jobs_of.get(s.seq, [])]
        self.n = max(len(spans), 1)

    def per_op(self, value) -> float:
        return value / self.n

    def driver_s(self, jobs_of) -> float:
        idle = [
            (s.end - s.start) - eventlog.busy_ms(jobs_of.get(s.seq, [])) / 1000.0
            for s in self.spans
        ]
        return statistics.mean(idle) if idle else 0.0


def per_layer(wl, rec, tracer, rounds, setup, store_ratio, py_calls, evdir) -> dict:
    jobs = list(eventlog.parse(eventlog.find_log(evdir)).values())
    owner, orphans = eventlog.attribute(jobs, tracer.spans)
    jobs_of: dict[int, list] = {}
    for j in jobs:
        if j.id in owner:
            jobs_of.setdefault(owner[j.id].seq, []).append(j)

    # op spans of the timed phase; the timed phase starts after warm-up
    t_timed = min((s.start for s in tracer.spans if s.kind == "round"), default=0.0)
    timed = [s for s in tracer.spans if s.start >= t_timed and s.parent == "round"]
    kinds = {}
    for s in timed:
        kinds.setdefault(s.kind, []).append(s)
    K = {k: _Kind(v, jobs_of) for k, v in kinds.items()}

    def kind(k):
        return K.get(k) or _Kind([], jobs_of)

    def p50(k):
        return statistics.median(rec.samples[k]) if k in rec.samples else 0.0

    m: dict[str, float] = dict(setup)

    # core.builder
    b = _Kind([s for k in BUILDER_KINDS for s in kinds.get(k, [])], jobs_of)
    py = _Kind([s for k in PY_KINDS for s in kinds.get(k, [])], jobs_of)
    compile_s = getattr(wl, "compile_s", [])
    m.update(
        {
            "builder.compile_s": statistics.median(compile_s) if compile_s else 0.0,
            "builder.jobs_per_run": b.per_op(len(b.jobs)),
            "builder.stages_per_run": b.per_op(sum(len(j.ran_stages) for j in b.jobs)),
            "builder.tasks_per_run": b.per_op(sum(j.tasks for j in b.jobs)),
            "builder.driver_s": b.driver_s(jobs_of),
            "builder.py_calls_per_record": py_calls,
            "builder.py_run_s": py.per_op(sum(j.py_time_ms for j in py.jobs)) / 1000.0,
            "builder.py_bytes_sent": py.per_op(sum(j.py_sent for j in py.jobs)),
        }
    )

    # core.rpc
    rok, alls = kind("run_on_key"), kind("all_shards")
    m.update(
        {
            "rpc.run_on_key.jobs": rok.per_op(len(rok.jobs)),
            "rpc.run_on_key.driver_s": rok.driver_s(jobs_of),
            "rpc.run_on_key.p50_s": p50("run_on_key"),
            "rpc.run_on_key.p90_s": percentile(rec.samples["run_on_key"], 90) if "run_on_key" in rec.samples else 0.0,
            "rpc.all_shards.jobs": alls.per_op(len(alls.jobs)),
            "rpc.all_shards.p50_s": p50("all_shards"),
        }
    )

    # stores
    for k in STORE_KINDS:
        x = kind(k)
        m.update(
            {
                f"{k}.p50_s": p50(k),
                f"{k}.jobs": x.per_op(len(x.jobs)),
                f"{k}.tasks": x.per_op(sum(j.tasks for j in x.jobs)),
                f"{k}.job_s": x.per_op(eventlog.busy_ms(x.jobs) / 1000.0),
                f"{k}.driver_s": x.driver_s(jobs_of),
                f"{k}.shuffle_write_bytes": x.per_op(sum(j.shuffle_write for j in x.jobs)),
                f"{k}.input_bytes": x.per_op(sum(j.input_bytes for j in x.jobs)),
            }
        )
        if k in WRITE_KINDS:
            files, nbytes = rec.written.get(k, (0, 0))
            m[f"{k}.files_written"] = x.per_op(files)
            m[f"{k}.bytes_written"] = x.per_op(nbytes)
    m["store.bytes_per_input_byte"] = store_ratio

    # Spark engine, per round of the timed phase, oracle checks excluded
    rnd = [s for s in tracer.spans if s.kind == "round"]
    in_rounds = [
        j for j in jobs
        if j.id in owner and owner[j.id].kind != "verify"
        and any(r.start <= owner[j.id].start <= r.end for r in rnd)
    ]
    n = max(len(rnd), 1)
    m.update(
        {
            "spark.jobs": len(in_rounds) / n,
            "spark.tasks": sum(j.tasks for j in in_rounds) / n,
            "spark.gc_s": sum(j.gc_ms for j in in_rounds) / 1000.0 / n,
            "spark.executor_cpu_s": sum(j.cpu_ns for j in in_rounds) / 1e9 / n,
            "spark.shuffle_write_bytes": sum(j.shuffle_write for j in in_rounds) / n,
        }
    )
    total = sum(rounds)
    m["trace.overhead_ratio"] = total / (total - rec.trace_s) if total > rec.trace_s else 1.0
    m["trace.unattributed_jobs"] = float(len(orphans))

    units = names()
    if set(m) != set(units):
        raise RuntimeError(f"per-layer names out of sync: {sorted(set(m) ^ set(units))}")
    return {k: {"value": float(m[k]), "unit": units[k]} for k in units}
