"""Benchmark entry point.

    python3 perfbench/run.py --workload {pipelines,ingest} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds a fresh Spark session
(``local[2]``), generates the workload's inputs from the seed, sets up
(one warm-up call per operation kind),
then runs rounds of fixed work until ``--seconds`` have passed. Every
operation is checked against an oracle outside its timed interval. The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics from the Spark event log with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipelines", "ingest")
#: input generation is repeated this many times; set-up counts the median
GEN_REPEATS = 3


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "libmr_spark", "__init__.py")):
        print(f"libmr_spark not found under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every temp file of the driver, the JVM and the Python workers
    # stays inside the checkout
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM (the launcher too): no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    try:
        result = run(a, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory, or kept traces, are still there
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def run(a, work: str) -> dict:
    from perfbench import common, layers
    from perfbench.common import Recorder, Tracer

    tracer = Tracer()
    rec = Recorder(tracer, traced=bool(a.trace))
    evdir = os.path.join(work, "events") if a.trace else None
    setup: dict[str, float] = {}

    t0 = time.perf_counter()
    with tracer.span("setup.session"):
        spark = common.start_spark(work, f"perfbench-{a.workload}", evdir)
    setup["session.start_s"] = time.perf_counter() - t0
    try:
        data, in_dir, gen_times = _make(a, work, tracer)
        setup["setup.generate_s"] = statistics.median(gen_times)
        t0 = time.perf_counter()
        with tracer.span("setup.bootstrap"):
            wl = _workload(a, spark, data, in_dir, work, rec)
        setup["setup.bootstrap_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("setup.warmup"):
            wl.warmup()
        setup["setup.warmup_s"] = time.perf_counter() - t0
        warm_attempted, warm_failed = rec.attempted, rec.failed
        rec.samples.clear()
        rec.written.clear()
        rec.trace_s = 0.0

        rounds = _timed(a, wl, rec, tracer)
        rss = common.vm_hwm_mb() + common.vm_hwm_mb(common.jvm_pid(spark))
        store_ratio = wl.store_bytes_per_input_byte() if hasattr(wl, "store_bytes_per_input_byte") else 0.0
        py_calls = getattr(wl, "py_calls_per_record", lambda: 0.0)()
    finally:
        with tracer.span("teardown"):
            common.stop_spark(spark)

    setup_s = sum(setup.values())
    for f in rec.failures:
        print(f"FAILED {f}", file=sys.stderr)
    out = {
        "correct": rec.failed == 0,
        "attempted": rec.attempted - warm_attempted,
        "failed": rec.failed - warm_failed,
    }
    if not a.trace:
        out["metrics"] = _end_to_end(wl, rec, rounds, setup_s, rss)
    else:
        out["metrics"] = layers.per_layer(
            wl, rec, tracer, rounds, setup, store_ratio, py_calls, evdir
        )
        # the spans outlive the run's scratch directory
        traces = os.path.join(ROOT, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{a.workload}-{a.seed}.spans.jsonl"))
    return out


def _make(a, work, tracer):
    """Generate the inputs GEN_REPEATS times, into fresh directories;
    the last one is used."""
    from perfbench import ingest, inputs

    gen = {
        "pipelines": inputs.gen_pipelines,
        "ingest": lambda seed, d: inputs.gen_ingest(seed, d, ingest.MAX_CYCLES),
    }[a.workload]
    times = []
    for k in range(GEN_REPEATS):
        if k:
            shutil.rmtree(in_dir)
        in_dir = os.path.join(work, f"inputs-{k}")
        with tracer.span("setup.generate"):
            t0 = time.perf_counter()
            data = gen(a.seed, in_dir)
            times.append(time.perf_counter() - t0)
    return data, in_dir, times


def _workload(a, spark, data, in_dir, work, rec):
    from perfbench import ingest, pipelines

    if a.workload == "pipelines":
        return pipelines.Pipelines(spark, data, in_dir, a.seed, rec)
    return ingest.Ingest(spark, data, os.path.join(work, "stores"), rec)


def _timed(a, wl, rec, tracer) -> list[float]:
    """Rounds of fixed work for about ``seconds``: another round starts
    while at least half of it is expected to fit. Returns each round's
    wall time minus its oracle checks."""
    walls: list[float] = []
    start = time.perf_counter()
    r = 0
    while r == 0 or (
        time.perf_counter() - start + walls[-1] / 2 < a.seconds and wl.has_round(r)
    ):
        v0 = rec.verify_s
        t0 = time.perf_counter()
        with tracer.span("round", parent="timed"):
            wl.round(r)
        walls.append(time.perf_counter() - t0 - (rec.verify_s - v0))
        r += 1
    return walls


def _end_to_end(wl, rec, rounds, setup_s, rss) -> dict:
    m = {
        "setup_s": (setup_s, "s"),
        "wall_s": (statistics.median(rounds), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    for slot, kind in wl.SLOTS.items():
        if kind not in rec.samples:
            raise RuntimeError(f"no {kind} operation completed; nothing to report")
        m[f"{slot}_p50_s"] = (rec.p50(kind), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    sys.exit(main())
