"""``ingest`` workload: per-commit machinery of three store families.

Each cycle commits one batch to ``dedup_incremental_exact``,
``bm25_index_ingest`` and ``matview_ingest`` (orders/lines CDC). Cycle
0 is the warm-up (the stores' bootstrap commits); round r runs cycles
4r..4r+3 (round 0 from cycle 1). A replay cycle re-delivers the
previous batch, which must admit nothing. Every 4th cycle also compacts
the BM25 and matview stores, runs ``takedown_everywhere`` on
INGEST_VICTIMS ids and reads ``store_ops_dashboard`` (compaction goes
first: a takedown rewrites each store into one batch, which would leave
nothing to compact).

The oracle is a pure-Python model of the three stores' admission
rules, fed the same generated rows.
"""

from __future__ import annotations

import os
import shutil

from .common import expect
from .inputs import INGEST_PERIOD

#: cycles of inputs generated up front (warm-up plus three rounds); a
#: run stops earlier when its seconds are up
MAX_CYCLES = 4 * INGEST_PERIOD


class Model:
    """What the three stores should hold, from the generated rows."""

    def __init__(self):
        self.fps: dict[str, int] = {}  # text -> stored doc id
        self.bm25: dict[int, int] = {}  # doc id -> doc length
        self.left: dict[tuple, int] = {}  # row -> net multiplicity
        self.right: dict[tuple, int] = {}

    def exact(self, rows) -> set[int]:
        first: dict[str, int] = {}
        for i, t in rows:
            first[t] = min(i, first.get(t, i))
        adm = {t: i for t, i in first.items() if t not in self.fps}
        self.fps.update(adm)
        return set(adm.values())

    def bm25_admit(self, rows) -> set[tuple]:
        adm = {(i, len(t.split(" "))) for i, t in rows if i not in self.bm25}
        self.bm25.update(adm)
        return adm

    @staticmethod
    def _cdc(state: dict, events) -> None:
        for *row, m in events:
            row = tuple(row)
            net = state.get(row, 0)
            if (m > 0 and net <= 0) or (m < 0 and net >= 1):
                state[row] = net + m

    def matview(self, left, right) -> None:
        self._cdc(self.left, left)
        self._cdc(self.right, right)

    def view(self) -> set[tuple]:
        lines: dict[int, list] = {}
        for (k, ln, price), n in self.right.items():
            if n > 0:
                lines.setdefault(k, []).append((ln, price))
        return {
            (k, c, s, ln, price)
            for (k, c, s), n in self.left.items()
            if n > 0
            for ln, price in lines.get(k, [])
        }

    def takedown(self, ids: set[int], postings: dict[int, int]) -> dict:
        view_before = self.view()
        audit = {
            "exact": sum(1 for i in self.fps.values() if i in ids),
            "bm25": sum(postings[i] for i in self.bm25 if i in ids),
            "mv": sum(1 for v in view_before if v[0] in ids),
        }
        self.fps = {t: i for t, i in self.fps.items() if i not in ids}
        self.bm25 = {i: n for i, n in self.bm25.items() if i not in ids}
        self.left = {r: n for r, n in self.left.items() if r[0] not in ids}
        self.right = {r: n for r, n in self.right.items() if r[0] not in ids}
        return audit


class Ingest:
    #: end-to-end slot -> op kind (see README)
    SLOTS = {"op1": "exact_commit", "op2": "bm25_commit", "op3": "mv_commit", "op4": "takedown"}

    def __init__(self, spark, plan: list, store_root: str, rec):
        self.spark, self.rec = spark, rec
        self.plan = plan
        base = os.path.join(store_root, "ingest")
        shutil.rmtree(base, ignore_errors=True)
        self.stores = {k: os.path.join(base, k) for k in ("exact", "bm25", "mv")}
        self.model = Model()
        # distinct postings per doc (the BM25 takedown audit counts
        # postings rows), over every generated doc
        self.postings = {i: len(set(t.split(" "))) for c in plan if not c["replay"] for i, t in c["doc_rows"]}
        self.input_bytes = 0

    def store_bytes_per_input_byte(self) -> float:
        from .common import dir_bytes

        return dir_bytes(*self.stores.values()) / self.input_bytes

    # ------------------------------------------------------------ cycle
    def cycle(self, c: dict, maintain: bool) -> None:
        from libmr_spark.operators import dedup as DD
        from libmr_spark.operators.matview import matview_ingest
        from libmr_spark.operators.retrieval import bm25_index_ingest

        spark, rec, st, read = self.spark, self.rec, self.stores, self.spark.read.parquet
        want_exact, want_bm25 = self._expect(c)
        rec.op(
            "exact_commit",
            lambda: DD.dedup_incremental_exact(spark, st["exact"], read(c["docs"])),
            lambda adm: self._check_exact(adm, want_exact),
            watch=st["exact"],
        )
        rec.op(
            "bm25_commit",
            lambda: bm25_index_ingest(spark, st["bm25"], read(c["docs"])),
            lambda dl: self._check_bm25(dl, want_bm25),
            watch=st["bm25"],
        )
        rec.op(
            "mv_commit",
            lambda: matview_ingest(spark, st["mv"], read(c["orders"]), read(c["lines"]), on="doc_id"),
            lambda _tag: self._check_view(),
            watch=st["mv"],
        )
        if maintain:
            self.maintain(c)

    def _expect(self, c: dict) -> tuple:
        """Advance the model by cycle ``c``; the exact and BM25 admissions."""
        if not c["replay"]:
            self.input_bytes += c["bytes"]
        want = self.model.exact(c["doc_rows"]), self.model.bm25_admit(c["doc_rows"])
        self.model.matview(c["left_rows"], c["right_rows"])
        return want

    def _check_exact(self, admitted, want: set) -> None:
        expect({r.doc_id for r in admitted.collect()} == want, "exact admitted ids differ")

    def _check_bm25(self, dl, want: set) -> None:
        expect({(r.doc_id, r.dl) for r in dl.collect()} == want, "bm25 admitted (doc, dl) differ")

    def _check_view(self) -> None:
        from libmr_spark.operators.matview import matview_read

        got = {(r.doc_id, r.custkey, r.status, r.linenumber, r.price) for r in matview_read(self.spark, self.stores["mv"]).collect()}
        expect(got == self.model.view(), "matview rows differ")

    def maintain(self, c: dict) -> None:
        from libmr_spark.operators import dedup as DD
        from libmr_spark.operators.matview import compact_matview_store
        from libmr_spark.operators.takedown import takedown_everywhere

        spark, rec, st = self.spark, self.rec, self.stores
        rec.op(
            "compact_bm25",
            lambda: DD.compact_incremental_store(spark, st["bm25"], tables=("postings", "doclen")),
            lambda n: expect(n >= 2, f"bm25 compaction rewrote {n} batches"),
            watch=st["bm25"],
        )
        rec.op(
            "compact_mv",
            lambda: compact_matview_store(spark, st["mv"]),
            lambda tags: expect(len(tags) >= 2, f"matview compaction rewrote {tags}"),
            watch=st["mv"],
        )
        want = self.model.takedown(set(c["victim_ids"]), self.postings)
        rec.op(
            "takedown",
            lambda: takedown_everywhere(
                spark,
                spark.read.parquet(c["victims"]),
                table_stores={"exact": (st["exact"], ("fps",)), "bm25": (st["bm25"], ("postings", "doclen"))},
                matview_stores=[("mv", st["mv"])],
            ),
            lambda audit: self._check_takedown(audit, want),
            watch=os.path.dirname(st["exact"]),
        )
        rec.op(
            "stats",
            lambda: DD.store_ops_dashboard(spark, list(st.items())).collect(),
            self._check_stats,
        )

    def _check_stats(self, rows) -> None:
        m = self.model
        want = {
            ("exact", "fps"): len(m.fps),
            ("bm25", "doclen"): len(m.bm25),
            ("bm25", "postings"): sum(self.postings[i] for i in m.bm25),
            ("mv", "left"): sum(1 for n in m.left.values() if n > 0),
            ("mv", "right"): sum(1 for n in m.right.values() if n > 0),
            ("mv", "view"): len(m.view()),
        }
        got = {(r.store_kind, r.table_name): r.n_rows for r in rows}
        expect(got == want, f"dashboard row counts {got} != {want}")

    def _check_takedown(self, audit: dict, want: dict) -> None:
        from libmr_spark.operators import dedup as DD

        expect(audit == want, f"takedown audit {audit} != {want}")
        got_fps = {r.doc_id for r in DD.read_incremental_store_asof(self.spark, self.stores["exact"], "fps").collect()}
        expect(got_fps == set(self.model.fps.values()), "exact store ids differ after takedown")
        got_dl = {r.doc_id for r in DD.read_incremental_store_asof(self.spark, self.stores["bm25"], "doclen").collect()}
        expect(got_dl == set(self.model.bm25), "bm25 doclen ids differ after takedown")
        self._check_view()

    def _cycles(self, r: int) -> range:
        return range(max(1, INGEST_PERIOD * r), INGEST_PERIOD * (r + 1))

    def has_round(self, r: int) -> bool:
        return self._cycles(r)[-1] < len(self.plan)

    def round(self, r: int) -> None:
        for k in self._cycles(r):
            self.cycle(self.plan[k], maintain=k % INGEST_PERIOD == INGEST_PERIOD - 1)

    def warmup(self) -> None:
        """Cycle 0, the bootstrap commit of each store. The three
        commits touch disjoint stores, so they overlap on threads."""
        from concurrent.futures import ThreadPoolExecutor

        from libmr_spark.operators import dedup as DD
        from libmr_spark.operators.matview import matview_ingest
        from libmr_spark.operators.retrieval import bm25_index_ingest

        spark, st, read, c = self.spark, self.stores, self.spark.read.parquet, self.plan[0]
        want_exact, want_bm25 = self._expect(c)
        with ThreadPoolExecutor(max_workers=3) as pool:
            fx = pool.submit(lambda: DD.dedup_incremental_exact(spark, st["exact"], read(c["docs"])))
            fb = pool.submit(lambda: bm25_index_ingest(spark, st["bm25"], read(c["docs"])))
            fm = pool.submit(lambda: matview_ingest(spark, st["mv"], read(c["orders"]), read(c["lines"]), on="doc_id"))
            admitted, dl, _ = fx.result(), fb.result(), fm.result()
        self.rec.verify("exact_commit", lambda: self._check_exact(admitted, want_exact))
        self.rec.verify("bm25_commit", lambda: self._check_bm25(dl, want_bm25))
        self.rec.verify("mv_commit", self._check_view)
