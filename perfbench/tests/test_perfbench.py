"""Self-tests of the benchmark; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs, layers  # noqa: E402
from perfbench.common import OracleMismatch, Recorder, Span, Tracer, expect  # noqa: E402
from perfbench.ingest import Ingest, Model  # noqa: E402
from perfbench.pipelines import Pipelines  # noqa: E402
from perfbench.run import _end_to_end  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------- every metric, with a unit


@pytest.mark.parametrize("wl", [Pipelines, Ingest])
def test_end_to_end_metrics_all_emitted_with_units(wl):
    rec = Recorder(Tracer())
    for kind in wl.SLOTS.values():
        rec.samples[kind] = [0.5, 0.25, 1.0]
    got = _end_to_end(wl, rec, [2.0, 3.0], 10.0, 900.0)
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert all(isinstance(v["value"], float) and v["value"] > 0 for v in got.values())


def test_per_layer_names_match_benchmark_json():
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert layers.names() == want
    assert all(u for u in want.values())


# --------------------------------------------- a wrong answer is a failed op


def test_planted_wrong_expected_value_counts_as_failed():
    rec = Recorder(Tracer())
    rec.op("k", lambda: 41, lambda r: expect(r == 42, "planted"))
    rec.op("k", lambda: 42, lambda r: expect(r == 42, "ok"))
    assert (rec.attempted, rec.failed) == (2, 1)
    assert len(rec.samples["k"]) == 2  # the wrong answer was still timed
    assert "planted" in rec.failures[0]


def test_raising_op_counts_as_failed():
    rec = Recorder(Tracer())

    def boom():
        raise RuntimeError("x")

    assert rec.op("k", boom) is None
    assert (rec.attempted, rec.failed) == (1, 1)


def test_store_model_rejects_a_planted_wrong_admission():
    m = Model()
    assert m.exact([(1, "a b"), (2, "a b"), (3, "c")]) == {1, 3}
    assert m.exact([(4, "c"), (5, "d")]) == {5}  # replayed text is not admitted
    with pytest.raises(OracleMismatch):
        expect(m.exact([(6, "e")]) == {7}, "planted wrong id")
    m.matview([(1, 7, "O", 1)], [(1, 1, 2.5, 1), (1, 2, 3.0, 1)])
    m.matview([(1, 7, "O", 1)], [(1, 2, 3.0, -1), (1, 2, 3.0, -1)])  # replay + double delete
    assert m.view() == {(1, 7, "O", 1, 2.5)}


# ------------------------------------------- every job falls in one span


def _write_log(path: str, jobs: list[tuple]) -> None:
    """jobs: (job id, submit ms, end ms, stage id, task metrics, accumulables)"""
    with open(path, "w") as f:
        for jid, t0, t1, sid, tm, accs in jobs:
            f.write(json.dumps({"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0, "Stage IDs": [sid]}) + "\n")
            f.write(json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": tm}) + "\n")
            f.write(json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid, "Accumulables": accs}}) + "\n")
            f.write(json.dumps({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1}) + "\n")
        f.write('{"Event": "SparkListenerJobStart", "Job ID"')  # torn last line


def test_every_eventlog_job_falls_in_exactly_one_span(tmp_path):
    tm = {
        "Executor Run Time": 5, "Executor CPU Time": 7_000_000, "JVM GC Time": 1,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
        "Input Metrics": {"Bytes Read": 64, "Records Read": 4},
    }
    py = [{"Name": eventlog.PY_TIME, "Value": "12"}, {"Name": eventlog.PY_SENT, "Value": 300}]
    log = tmp_path / "app-1"
    _write_log(str(log), [
        (0, 1_000_100, 1_000_200, 0, tm, py),
        (1, 1_000_500, 1_000_900, 1, tm, []),  # inside the nested op span
        (2, 1_000_950, 1_001_000, 2, tm, []),  # in the round, between ops
        (3, 1_002_000, 1_002_100, 3, tm, []),  # submitted from a pool thread, same op
    ])
    spans = [
        Span("setup.warmup", 1, 1000.0, 1000.3, ""),
        Span("round", 4, 1000.4, 1002.5, "timed"),
        Span("takedown", 2, 1000.45, 1000.901, "round"),
        Span("takedown", 3, 1001.9, 1002.2, "round"),
    ]
    parsed = eventlog.parse(str(log))
    assert sorted(parsed) == [0, 1, 2, 3]
    j0 = parsed[0]
    assert (j0.tasks, j0.cpu_ns, j0.shuffle_write, j0.input_records, j0.py_time_ms, j0.py_sent) == (1, 7_000_000, 100, 4, 12, 300)
    owner, orphans = eventlog.attribute(list(parsed.values()), spans)
    assert orphans == []
    assert {j: s.seq for j, s in owner.items()} == {0: 1, 1: 2, 2: 4, 3: 3}
    late = eventlog.Job(9, 1_003_000, 1_003_001, [])
    assert eventlog.attribute([late], spans) == ({}, [late])


def test_busy_time_merges_overlapping_jobs():
    jobs = [eventlog.Job(0, 0, 100, []), eventlog.Job(1, 50, 150, []), eventlog.Job(2, 200, 210, [])]
    assert eventlog.busy_ms(jobs) == 160


# ------------------------------------------------- inputs come from the seed


def _digest(d: str) -> dict:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize(
    "gen",
    [inputs.gen_pipelines, lambda s, d: inputs.gen_ingest(s, d, 1)],
    ids=["pipelines", "ingest"],
)
def test_same_seed_same_bytes_other_seed_other_bytes(gen, tmp_path):
    gen(7, str(tmp_path / "a"))
    gen(7, str(tmp_path / "b"))
    gen(8, str(tmp_path / "c"))
    a, b, c = (_digest(str(tmp_path / x)) for x in "abc")
    assert a and a == b
    assert a.keys() == c.keys() and all(a[k] != c[k] for k in a)


# ------------------------------------- refuses to run without the library


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""
