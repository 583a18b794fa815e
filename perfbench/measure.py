"""Pure helpers shared by the workloads: percentiles, the tail rule,
the order-insensitive value hash, failure tallies, memory and CPU
readings from /proc, and the box fingerprint. Nothing here starts
Spark, so the helpers are unit-tested without a session."""

from __future__ import annotations

import hashlib
import math
import os
import platform
import time

import pandas as pd

# Percentiles the tail rule may report, lowest first. A fixed ladder
# keeps the reported percentile the same across runs whose sample
# counts differ by a few, so their tails stay comparable.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile p among n samples (rounded
    first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(samples, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p%
    of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    return sorted(samples)[_rank(p, len(samples)) - 1]


def tail(samples) -> dict:
    """The highest ladder percentile with at least TAIL_MIN_BEYOND
    samples strictly above its rank, with that count and the sample
    count. With fewer than 2 * TAIL_MIN_BEYOND samples no percentile
    qualifies and `pct` is None."""
    n = len(samples)
    best = None
    for p in TAIL_LADDER:
        beyond = n - _rank(p, n)
        if n and beyond >= TAIL_MIN_BEYOND:
            best = {"pct": p, "value": percentile(samples, p),
                    "beyond": beyond, "samples": n}
    return best or {"pct": None, "value": None, "beyond": 0, "samples": n}


def normalize(pdf: pd.DataFrame) -> list[str]:
    """Rows as sorted reprs after the oracle comparison's dtype
    unification: columns by name; datetimes as microseconds; every
    integer width as int64; every float width as float64. Row order
    and column order therefore never affect the result."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
    return sorted(map(repr, pdf.itertuples(index=False, name=None)))


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result's values."""
    return hashlib.sha256("\n".join(normalize(pdf)).encode()).hexdigest()[:16]


class Tally:
    """Attempted operations and the ones that failed: raised, or
    returned output that did not match its reference. One operation
    can fail only once."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: dict[str, str] = {}  # op id -> first reason

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, op: str, why: str) -> None:
        self.failures.setdefault(op, why[:300])

    def error(self, op: str, exc: BaseException) -> None:
        self.fail(op, f"{type(exc).__name__}: {exc}")

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def ok_ratio(self) -> float:
        return 1.0 - self.failed_ratio


def _proc_status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(f"{key} not in /proc/{pid}/status")


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over `pids`, in MiB."""
    return sum(_proc_status_kb(p, "VmHWM") for p in pids) / 1024.0


def _stat(pid) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def cpu_seconds(pid: int) -> float:
    """User plus system CPU time a process has used so far."""
    fields = _stat(pid)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds(root: int) -> float:
    """CPU time used so far by `root` and every live descendant, plus
    what their exited children left to them: the driver, its JVM and
    the JVM's Python workers. Steal time is not in it, so it does not
    move with the host's load."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _stat(int(name))
            except OSError:  # exited while listing
                continue
    kids: dict[int, list[int]] = {}
    for pid, f in stats.items():
        kids.setdefault(int(f[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            f = stats[pid]
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


# JVM service threads by the prefix of their (15-character) names: the
# JIT compilers, and the garbage collector with the VM thread that runs
# its safepoint operations.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


def jvm_service_cpu(pid: int) -> dict:
    """CPU seconds the JVM's JIT and GC threads have used so far. Exact
    only while those threads never exit: the JVM is started with a
    fixed number of JIT threads, and GC threads stay once started."""
    out = {"jit": 0, "gc": 0}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read()
            fields = _stat(f"{pid}/task/{tid}")
        except OSError:  # thread exited while listing
            continue
        kind = ("jit" if name.startswith(JIT_THREADS)
                else "gc" if name.startswith(GC_THREADS) else None)
        if kind:
            out[kind] += int(fields[11]) + int(fields[12])
    tck = os.sysconf("SC_CLK_TCK")
    return {k: v / tck for k, v in out.items()}


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole box since boot. Steal is
    time a virtual CPU was ready but the host ran something else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def probe_seconds() -> float:
    """A fixed single-core workload (hash 32 MiB, sort 200k floats),
    timed: compares how fast two boxes are before their numbers are."""
    import numpy as np

    data = bytes(range(256)) * (32 * 4096)
    arr = np.random.default_rng(0).random(200_000)
    t0 = time.perf_counter()
    hashlib.sha256(data).hexdigest()
    np.sort(arr, kind="mergesort")
    return time.perf_counter() - t0


def fingerprint(seed: int, java_version: str) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java_version,
        "seed": seed,
        "probe_s": round(probe_seconds(), 6),
    }
