"""Shared plumbing of the lakehouse benchmark: the operation recorder,
latency statistics, order-insensitive result digests, process-tree
memory and Spark shutdown. Nothing here imports the package under test."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parents[1]
WORK_ROOT = REPO_ROOT / ".perfbench_work"


@dataclass
class Op:
    """One operation the single client issued and waited for."""

    kind: str  # query | commit | maintenance | stage | verify (a final-state check)
    name: str
    seconds: float
    ok: bool
    rows: int = 0  # rows committed (commit ops)
    info: dict = field(default_factory=dict)


@dataclass
class Measured:
    """What one measured stretch of a workload produced."""

    unit_times: list  # seconds per pass of the workload's fixed sequence
    check: object  # check(checker) -> None, run after timing
    extra: dict


class Recorder:
    """Closed-loop client bookkeeping: times each operation, keeps going
    when one raises, and counts failed or wrong operations."""

    def __init__(self) -> None:
        self.ops: list[Op] = []
        self.tracer = None  # set for the traced pass

    def run(self, kind: str, name: str, fn, rows: int = 0):
        """Run ``fn`` as one operation; returns (ok, value)."""
        if self.tracer is not None:
            self.tracer.begin_op(len(self.ops), kind, name)
        error = None
        t0 = time.perf_counter()
        try:
            value, ok = fn(), True
        except Exception as e:  # a failed operation is a measured outcome
            traceback.print_exc(file=sys.stderr)
            value, ok, error = None, False, type(e).__name__
        dt = time.perf_counter() - t0
        op = Op(kind, name, dt, ok, rows if ok else 0)
        if self.tracer is not None:
            op.info = self.tracer.end_op()
        if error:
            op.info["error"] = error
        self.ops.append(op)
        return ok, value

    def fail_op(self, index: int, why: str) -> None:
        """Mark an operation wrong: its result failed a check."""
        op = self.ops[index]
        print(f"WRONG RESULT: {op.kind} {op.name}: {why}", file=sys.stderr)
        op.ok = False

    def of(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds]


class Checker:
    """Compares result digests with expected ones. Every comparison is
    repeated against a deliberately wrong expectation (one row more,
    another hash); a wrong expectation that still matches is counted in
    ``undetected``, which the self-test requires to be 0."""

    def __init__(self) -> None:
        self.checks = 0
        self.undetected = 0

    @staticmethod
    def _match(got: tuple, want: tuple) -> bool:
        # an expected hash of None asks for the row count alone
        return got[0] == want[0] if want[1] is None else tuple(got) == tuple(want)

    def same(self, got: tuple, want: tuple) -> bool:
        self.checks += 1
        n, h = want
        wrong = (n + 1, None if h is None else hashlib.sha256(f"{h}+1".encode()).hexdigest())
        if self._match(got, wrong):
            self.undetected += 1
        return self._match(got, want)


# ---------------------------------------------------------------- stats
def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples beyond it: the
    11th-largest sample, labelled with the share of samples at or below
    it. Below 11 samples no such percentile exists and the maximum is
    reported, labelled ``max``."""
    n = len(xs)
    if n == 0:
        return 0.0, "none", 0
    s = sorted(xs)
    if n < 11:
        return s[-1], "max", n
    return s[n - 11], f"p{100.0 * (n - 10) / n:.0f}", n


# --------------------------------------------------------- result digests
def canon(v) -> str:
    """Engine-neutral rendering of one value: floats to 9 significant
    digits, temporal values in ISO form, nested lists element-wise."""
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return "0" if f == 0 else f"{f:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(v[k])}" for k in sorted(v, key=str)) + "}"
    if hasattr(v, "tolist"):  # numpy arrays from Arrow conversions
        return canon(v.tolist())
    return str(v)


def digest(rows) -> tuple[int, str]:
    """(row count, order-insensitive SHA-256 of the canonical rows)."""
    lines = sorted("|".join(canon(x) for x in tuple(r)) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(lines), h


# ------------------------------------------------------------ processes
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_seconds() -> float:
    """CPU time used so far by this process and every process under it,
    reaped children included. Unlike wall time it leaves out the time the
    host takes the CPU away from this machine (steal)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick


def peak_rss_mb() -> float:
    """Peak resident memory of this process, the JVM and the Python
    workers: the sum of each live process's high-water mark (VmHWM)."""
    pids = [os.getpid()] + descendants(os.getpid())
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process started under this one has ended."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 20
        alive = kids
        while alive and time.monotonic() < deadline:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}") and _status_kb(p, "VmRSS") > 0]
            if alive:
                time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        while alive and time.monotonic() < deadline + 10:
            alive = [p for p in alive if os.path.exists(f"/proc/{p}") and _status_kb(p, "VmRSS") > 0]
            if alive:
                time.sleep(0.1)
