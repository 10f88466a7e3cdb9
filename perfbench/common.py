"""Shared pieces of the benchmark: the per-run context, statistics, the
process-tree RSS sampler and small Spark helpers."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from ledger import SparkLedger, Tracer


@dataclass
class Ctx:
    """What a workload needs for one run. ``layer`` collects per-layer
    metrics; workloads only fill it when ``tracer.enabled``."""

    seed: int
    seconds: float
    root: str  # the workload's private directory, removed when the run ends
    cache: str  # per-checkout cache that outlives runs (encoded JPEGs)
    tracer: Tracer
    spark: object = None
    ledger: SparkLedger | None = None
    layer: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    @property
    def traced(self) -> bool:
        return self.tracer.enabled


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def force(df) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``, ignoring Spark's
    metadata and checksum files."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        if "_spark_metadata" in dirpath:
            continue
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def result_rows(out: str) -> list[tuple[str, int, int]]:
    """(camera_id, frame timestamp in us, detection_count) of every row of
    the results table at ``out``."""
    import pyarrow.dataset as ds

    t = ds.dataset(out, format="parquet", partitioning="hive").to_table(
        columns=["camera_id", "frame_timestamp", "detection_count"]
    )
    ts = t["frame_timestamp"].cast("timestamp[us]").cast("int64").to_pylist()
    return list(zip(t["camera_id"].to_pylist(), ts, t["detection_count"].to_pylist()))


def source_batches(ck: str) -> dict[str, int]:
    """Input file name -> batch id, from the file source's metadata log
    (compacted files included: every entry carries its batchId)."""
    out = {}
    log = os.path.join(ck, "sources", "0")
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def commit_times(ck: str) -> dict[int, float]:
    """Batch id -> when its commit log entry was written (epoch seconds)."""
    d = os.path.join(ck, "commits")
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime
        for n in os.listdir(d)
        if n.isdigit()
    }


def cpu_ticks() -> tuple[int, int]:
    """(busy + steal, steal) clock ticks summed over all CPUs since boot;
    steal is time a virtual CPU wanted to run but the host ran something
    else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6] + f[7], f[7]


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int, exclude: set[int] = frozenset()) -> list[int]:
    """``root`` and every process below it, skipping ``exclude`` subtrees."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until none of ``pids`` exists any more (they need not be our
    children, so poll /proc)."""
    deadline = time.time() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.time() > deadline:
            raise TimeoutError(f"processes still running: {pids}")
        time.sleep(0.05)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, ValueError, IndexError):
        return 0


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the JVM
    and the Python workers) every ``interval`` seconds; ``exclude`` holds
    pids to skip with their subtrees (the input generator)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = sum(_rss_bytes(p) for p in descendants(os.getpid(), self.exclude))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
