"""Shared machinery of the benchmark: the Spark session it runs under,
timing and oracle bookkeeping, in-memory spans, memory and on-disk
byte measurements.

Nothing here imports ``libmr_spark`` at module level, so the self-tests
and the input generator run without a JVM.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Task slots. Every Python-step task pairs a JVM task thread with a
#: Python worker process, so on a 4-core box two slots keep both busy
#: without oversubscribing (the README has the local[2]/local[4] A/B).
MASTER = "local[2]"
SHUFFLE_PARTITIONS = 2
#: The driver heap is pinned (-Xms = -Xmx) and pre-touched, so the JVM
#: part of peak_rss_mb does not depend on when G1 chose to grow the
#: heap: peak RSS moves with the driver's Python memory and the JVM's
#: off-heap memory (Arrow and Netty buffers, metaspace, code, threads).
DRIVER_MEMORY = "1g"


class OracleMismatch(AssertionError):
    """An operation returned something other than what the oracle
    computed from the generated inputs."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise OracleMismatch(what)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Span:
    kind: str
    seq: int
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    parent: str


@dataclass
class Tracer:
    """Spans kept in memory and written out once, at the end. The
    timeline is covered by phase spans (``setup.*``, ``round``,
    ``verify`` ...) so every Spark job submitted by the benchmark falls
    inside one leaf span."""

    spans: list[Span] = field(default_factory=list)
    _seq: int = 0

    @contextmanager
    def span(self, kind: str, parent: str = ""):
        t0 = time.time()
        try:
            yield
        finally:
            self._seq += 1
            self.spans.append(Span(kind, self._seq, t0, time.time(), parent))

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class Recorder:
    """Per-kind latencies plus the attempted / failed tally. An
    operation fails when it raises or when its output disagrees with
    the oracle; the oracle check runs outside the timed interval."""

    tracer: Tracer
    traced: bool = False
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    verify_s: float = 0.0  # time spent in oracle checks
    trace_s: float = 0.0  # time spent in the traced run's directory walks
    failures: list[str] = field(default_factory=list)
    # per-kind written files/bytes, from a directory walk around the op
    written: dict[str, list[int]] = field(default_factory=dict)

    def op(self, kind: str, call, check=None, watch: str | None = None):
        """Time ``call()``, then run ``check(result)`` untimed. ``watch``
        names a directory whose new files are counted (traced run)."""
        self.attempted += 1
        w0 = time.perf_counter()
        before = snapshot_files(watch) if (watch and self.traced) else None
        self.trace_s += time.perf_counter() - w0
        result = None
        try:
            with self.tracer.span(kind, parent="round"):
                t0 = time.perf_counter()
                result = call()
                dt = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - counted, run continues
            self._fail(kind, f"raised {type(e).__name__}: {e}")
            return None
        self.samples.setdefault(kind, []).append(dt)
        if before is not None:
            w0 = time.perf_counter()
            after = snapshot_files(watch)
            new = [p for p in after if p not in before]
            w = self.written.setdefault(kind, [0, 0])
            w[0] += len(new)
            w[1] += sum(after[p] for p in new)
            self.trace_s += time.perf_counter() - w0
        if check is not None:
            self.verify(kind, lambda: check(result))
        return result

    def verify(self, kind: str, check) -> None:
        """Run an oracle check in a ``verify`` span; a raise fails ``kind``."""
        v0 = time.perf_counter()
        try:
            with self.tracer.span("verify", parent=kind):
                check()
        except Exception as e:  # noqa: BLE001 - counted, run continues
            self._fail(kind, f"oracle: {type(e).__name__}: {e}")
        self.verify_s += time.perf_counter() - v0

    def _fail(self, kind: str, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{kind}: {msg}"[:500])

    def p50(self, kind: str) -> float:
        return statistics.median(self.samples[kind])


def snapshot_files(root: str) -> dict[str, int]:
    """path -> size of every regular file under ``root``."""
    out: dict[str, int] = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except FileNotFoundError:  # swept while walking
                pass
    return out


def dir_bytes(*roots: str) -> int:
    return sum(sum(snapshot_files(r).values()) for r in roots)


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(work: str, app: str, eventlog_dir: str | None = None):
    """The benchmark's session: ``local[2]``, a driver heap sized to the
    box, no console progress bar, every scratch path inside ``work``."""
    from libmr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app, master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait until it (and
    with it every Python worker it forked) has exited."""
    import subprocess

    from pyspark import SparkContext

    pid = jvm_pid(spark)
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().split(") ")[1].startswith("Z"):
                    break  # zombie of a parent that is not us
        except OSError:
            break
        time.sleep(0.05)
