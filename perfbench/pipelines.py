"""``pipelines`` workload: LibMR's builder and RPC surface, no store.

Each round runs (a) Python map -> Python filter -> collect ->
PyAccumulator, (b) Python map -> reshuffle(key), (c) relational filter
-> collect -> relational accumulate, (d) ``run_on_key`` ROK_PER_ROUND
times and (e) ``run_on_all_shards("dbsize")``; (a) and (b) run
LONG_REPEATS times, (c) and (e) SHORT_REPEATS times. About 1% of records
make the Python mapper raise; those must come back on the error
channel, not as failed operations.
"""

from __future__ import annotations

import os

import numpy as np

from .common import expect
from .inputs import POISON, PIPE_RECORDS

ROK_PER_ROUND = 10
#: runs per round of (a) and (b), and of the sub-second kinds (c) and
#: (e): a run's median then rests on several samples
LONG_REPEATS, SHORT_REPEATS = 2, 3
MIN_WORDS = 8


class Pipelines:
    #: end-to-end slot -> op kind (see README)
    SLOTS = {"op1": "py_map_filter_acc", "op2": "py_map_reshuffle", "op3": "rel_filter_acc", "op4": "all_shards"}

    def __init__(self, spark, data: dict, in_dir: str, seed: int, rec):
        from pyspark.sql import functions as F

        self.spark, self.rec, self.F = spark, rec, F
        self.df = spark.read.parquet(os.path.join(in_dir, "records"))
        self.rng = np.random.default_rng([seed, 11])
        self.calls = spark.sparkContext.accumulator(0)
        self.py_records = 0  # records fed to the Python mapper, summed over runs
        self.compile_s: list[float] = []
        self._oracle(data)

    # ------------------------------------------------------------ oracle
    def _oracle(self, d: dict) -> None:
        nwords = np.array([len(t.split(" ")) for t in d["text"]])
        ok = ~d["poison"]
        self.ok_rows = {
            (int(i), int(k), int(n)) for i, k, n, g in zip(d["id"], d["key"], nwords, ok) if g
        }
        self.bad_ids = {int(i) for i in d["id"][d["poison"]]}
        keep = ok & (nwords >= MIN_WORDS)
        self.acc_a = {"n": int(keep.sum()), "words": int(nwords[keep].sum())}
        keep_c = nwords >= MIN_WORDS
        self.acc_c = {"n": int(keep_c.sum()), "words": int(nwords[keep_c].sum())}
        self.by_key: dict[int, set] = {}
        for i, k in zip(d["id"], d["key"]):
            self.by_key.setdefault(int(k), set()).add(int(i))

    def _check_errors(self, errors: list[str]) -> None:
        got = {int(e.rsplit(" ", 1)[1]) for e in errors}
        expect(len(errors) == len(self.bad_ids) and got == self.bad_ids,
               f"error channel: {len(errors)} errors, want {len(self.bad_ids)}")

    # ------------------------------------------------------------- steps
    def _mapper(self):
        calls = self.calls

        def count_words(rec):
            calls.add(1)
            words = rec["text"].split(" ")
            if POISON in words:
                raise ValueError(f"poisoned record {rec['id']}")
            return {"id": rec["id"], "key": rec["key"], "nwords": len(words)}

        return count_words

    # --------------------------------------------------------------- ops
    def _run(self, builder):
        import time

        t0 = time.perf_counter()
        ex = builder.create_execution()
        self.compile_s.append(time.perf_counter() - t0)
        return ex.run()

    def op_a(self):
        from libmr_spark import PyAccumulator, create_builder

        acc = PyAccumulator(
            zero={"n": 0, "words": 0},
            fn=lambda a, r: {"n": a["n"] + 1, "words": a["words"] + r["nwords"]},
            schema="n bigint, words bigint",
        )
        b = (
            create_builder(self.spark, self.df)
            .map(self._mapper(), relational=False, out_schema="id bigint, key bigint, nwords int")
            .filter(lambda r: r["nwords"] >= MIN_WORDS, relational=False)
            .collect()
            .accumulate(acc)
        )
        self.py_records += PIPE_RECORDS
        return self._run(b)

    def check_a(self, res) -> None:
        expect([r.asDict() for r in res.results] == [self.acc_a], f"(a) result {res.results} != {self.acc_a}")
        self._check_errors(res.errors)

    def op_b(self):
        from libmr_spark import create_builder

        b = (
            create_builder(self.spark, self.df)
            .map(self._mapper(), relational=False, out_schema="id bigint, key bigint, nwords int")
            .reshuffle("key")
        )
        self.py_records += PIPE_RECORDS
        return self._run(b)

    def check_b(self, res) -> None:
        got = {(r.id, r.key, r.nwords) for r in res.results}
        expect(len(res.results) == len(self.ok_rows) and got == self.ok_rows, "(b) reshuffled rows differ")
        self._check_errors(res.errors)

    def op_c(self):
        from libmr_spark import create_builder

        F = self.F
        nw = F.size(F.split(F.col("text"), " "))
        b = (
            create_builder(self.spark, self.df)
            .filter(lambda d: nw >= MIN_WORDS)
            .collect()
            .accumulate(lambda: [F.count(F.lit(1)).alias("n"), F.sum(nw).alias("words")])
        )
        return self._run(b)

    def check_c(self, res) -> None:
        expect([r.asDict() for r in res.results] == [self.acc_c], f"(c) result {res.results} != {self.acc_c}")
        expect(res.errors == [], "(c) relational path produced errors")

    def op_d(self, key: int):
        from libmr_spark import run_on_key

        return run_on_key(self.df, "key", key).collect()

    def op_e(self):
        from libmr_spark import run_on_all_shards

        return run_on_all_shards(self.df, "dbsize", "n bigint").collect()

    def check_e(self, rows) -> None:
        expect(sum(r.n for r in rows) == PIPE_RECORDS and len(rows) >= 1, "dbsize sum differs")

    # ------------------------------------------------------------ rounds
    def has_round(self, r: int) -> bool:
        return True

    def py_calls_per_record(self) -> float:
        """Python-mapper invocations per input record per run, exact."""
        return self.calls.value / self.py_records

    def round(self, r: int = 0, n_rok: int = ROK_PER_ROUND, long: int = LONG_REPEATS, short: int = SHORT_REPEATS) -> None:
        rec = self.rec
        for _ in range(long):
            rec.op("py_map_filter_acc", self.op_a, self.check_a)
            rec.op("py_map_reshuffle", self.op_b, self.check_b)
        for _ in range(short):
            rec.op("rel_filter_acc", self.op_c, self.check_c)
        for key in self.rng.integers(0, 1000, n_rok).tolist():
            want = self.by_key.get(key, set())
            rec.op(
                "run_on_key",
                lambda k=key: self.op_d(k),
                lambda rows, w=want: expect({r.id for r in rows} == w and len(rows) == len(w), "run_on_key rows differ"),
            )
        for _ in range(short):
            rec.op("all_shards", self.op_e, self.check_e)

    def warmup(self) -> None:
        self.round(n_rok=2, long=1, short=1)
        self.compile_s.clear()
