"""Shared run machinery: substrate pinning, Spark session, regime
evidence, memory sampling, spans and the result line.

Everything a run writes lives under ``<checkout>/.perfbench/``:
``work/<run>/`` (snapshots, Spark scratch, event log, generated
tables; removed when the run ends), ``cache/`` (reference digests
keyed by program source) and ``spans/`` (traced runs only).
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"

#: files of the program under test; a checkout without them (only the
#: benchmark's own files) must fail before any Spark work starts
PROGRAM_FILES = ("scalpel_ts_spark/__init__.py", "__spark_entry__.py", "bench.py")

#: environment that would silently move Spark off the pinned substrate
#: or off local[nproc]: SPARK_LOCAL_DIRS overrides spark.local.dir in
#: local mode, SPARK_GRAFT_LOCAL_DIR is get_spark's own override, and a
#: --master in PYSPARK_SUBMIT_ARGS replaces the local master
_UNPINNED_ENV = ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR", "PYSPARK_SUBMIT_ARGS")


class ProgramMissing(RuntimeError):
    pass


def check_program() -> None:
    missing = [p for p in PROGRAM_FILES if not (ROOT / p).is_file()]
    if missing:
        raise ProgramMissing(
            f"program files missing under {ROOT}: {', '.join(missing)}"
        )


def cores() -> int:
    """``nproc``: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# --- substrate --------------------------------------------------------------


def _mount_of(path: Path) -> str:
    """``<mount point> (<fs type>)`` holding ``path``, from mountinfo."""
    best, fstype = "", "?"
    target = str(path.resolve())
    try:
        with open("/proc/self/mountinfo") as f:
            for line in f:
                left, _, right = line.partition(" - ")
                mnt = left.split()[4]
                inside = target == mnt or target.startswith(mnt.rstrip("/") + "/")
                if inside and len(mnt) >= len(best):
                    best, fstype = mnt, right.split()[0]
    except OSError:
        return "?"
    return f"{best} ({fstype})"


class Substrate:
    """Pins where a run reads and writes, and records it.

    Snapshots, ``spark.local.dir``, the event log and every temp file
    go under one work directory inside the checkout, on whatever
    filesystem the checkout is on: no tmpfs opt-in and no free-space
    gate, so two runs on one host always use the same substrate.
    """

    def __init__(self, name: str):
        self.work = STATE / "work" / f"{name}-{os.getpid()}"
        if self.work.exists():
            shutil.rmtree(self.work)
        self.local_dir = self.work / "spark-local"
        self.snapshots = self.work / "snapshots"
        self.data = self.work / "data"
        self.eventlog = self.work / "eventlog"
        self.tmp = self.work / "tmp"
        for d in (self.local_dir, self.snapshots, self.data, self.eventlog, self.tmp):
            d.mkdir(parents=True)
        for var in _UNPINNED_ENV:
            os.environ.pop(var, None)
        # Python workers are separate interpreters started by the JVM:
        # they find the package under test only through PYTHONPATH,
        # whatever the caller's cwd
        paths = [str(ROOT)] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
        ]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        os.environ["TMPDIR"] = str(self.tmp)
        tempfile.tempdir = None  # re-read TMPDIR
        # spark-submit's short-lived launcher JVM: no /tmp/hsperfdata
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        )
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def spark_conf(self, trace: bool) -> dict:
        conf = {
            "spark.local.dir": str(self.local_dir),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog.as_uri(),
                # Spark 4 defaults to zstd, unreadable without an
                # extra package; one plain file keeps the fold simple
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def record(self) -> dict:
        return {
            "root": str(ROOT),
            "workdir": f"{self.snapshots} on {_mount_of(self.snapshots)}",
            "spark.local.dir": f"{self.local_dir} on {_mount_of(self.local_dir)}",
            "worker_pythonpath": os.environ["PYTHONPATH"],
            "cores": cores(),
        }

    def close(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def start_spark(substrate: Substrate, app: str, trace: bool):
    from scalpel_ts_spark.sources.session import get_spark

    n = cores()
    spark = get_spark(
        app,
        cores=n,
        shuffle_partitions=max(n, 8),
        extra_conf=substrate.spark_conf(trace),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, the JVM and its Python workers, and wait
    until every one of those processes has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # Python workers are the JVM's children: once it exits they are
    # re-parented, so record them now and wait on their pids
    started = [proc.pid, *_descendants(proc.pid)] if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(_is_alive(p) for p in started):
        if time.monotonic() > deadline:
            for pid in started:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            break
        time.sleep(0.1)


def _is_alive(pid: int) -> bool:
    """False for exited processes, zombies included."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def worker_package_path(spark) -> str:
    """Where a Python worker imports the package under test from; it
    must be this checkout, not an installed copy."""

    def probe(_):
        import scalpel_ts_spark

        yield os.path.dirname(os.path.dirname(os.path.abspath(scalpel_ts_spark.__file__)))

    return spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()[0]


# --- references -------------------------------------------------------------


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def rows_digest(columns, rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    rows sorted, exact values."""
    cols = sorted(columns)
    idx = [list(columns).index(c) for c in cols]
    h = hashlib.sha256(repr(cols).encode())
    for row in sorted(tuple(_norm(r[i]) for i in idx) for r in rows):
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()



def source_digest(*extra: Path) -> str:
    """Digest of the program's Python source plus ``extra`` files."""
    h = hashlib.sha256()
    paths = sorted((ROOT / "scalpel_ts_spark").rglob("*.py"))
    for path in [ROOT / "__spark_entry__.py", *paths, *extra]:
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def cached(name: str, key: object, compute) -> dict:
    """``compute()``'s JSON result, cached under ``.perfbench/cache``.

    References (simulator and oracle digests) are pure functions of
    the seed and the source that ``key`` covers, and are computed
    outside the timed region; the cache only saves repeating them."""
    digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()
    path = STATE / "cache" / f"{name}-{digest[:24]}.json"
    if path.exists():
        return json.loads(path.read_text())
    value = compute()
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".{os.getpid()}.tmp")
    tmp.write_text(json.dumps(value))
    tmp.replace(path)
    return value


def prefetch_reference(module: str, *args) -> subprocess.Popen:
    """Start ``<module>.reference(*args)`` in a child interpreter; it
    fills the cache, so the parent's own call afterwards is a read (or
    recomputes, if the child failed)."""
    code = (
        f"import sys; sys.path.insert(0, {str(ROOT)!r}); "
        f"import {module} as m; m.reference(*{list(args)!r})"
    )
    return subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.DEVNULL)


# --- regime evidence --------------------------------------------------------


def calib_jvm(spark) -> float:
    """Fixed pure-JVM job (no program code, no Python workers): its
    wall time says how fast the host is right now."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(60_000_000)
        .groupBy((F.col("id") % 1000).alias("k"))
        .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        .agg(F.sum("n"), F.sum("s"))
        .collect()
    )
    return time.perf_counter() - t0


def cpu_sample() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    total = sum(vals)
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return total, total - idle, steal


def host_pct(before, after) -> dict:
    dt = max(1, after[0] - before[0])
    return {
        "host.busy_pct": 100.0 * (after[1] - before[1]) / dt,
        "host.steal_pct": 100.0 * (after[2] - before[2]) / dt,
    }


class MemorySampler:
    """Peak memory of this process and every descendant (the Spark JVM
    and its Python workers), summed per sample.  Proportional set size:
    pages the forked Python workers share are counted once."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory", daemon=True)

    @staticmethod
    def _tree_pss() -> int:
        total = 0
        for pid in [os.getpid(), *_descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


# --- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans, written out once when the run ends.

    A span records name, start, end (epoch seconds), its parent span
    and a trace id shared by every span of one round or query.  With
    ``enabled=False`` every call is a no-op, so untraced runs pay
    nothing.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def add(self, name: str, start: float, end: float,
            parent: dict | None = None, trace: str | None = None, **attrs) -> dict:
        with self._lock:
            sid = next(self._ids)
        span = {
            "id": sid,
            "name": name,
            "start": start,
            "end": end,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else f"t{sid}"),
            **attrs,
        }
        with self._lock:
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None,
             parent: dict | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = parent or self.current()
        span = self.add(name, time.time(), 0.0, parent, trace, **attrs)
        stack = self._stack()
        stack.append(span)
        try:
            yield span
        finally:
            stack.pop()
            span["end"] = time.time()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for span in sorted(self.spans, key=lambda s: (s["start"], s["id"])):
                f.write(json.dumps(span) + "\n")


# --- result -----------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, float], units: dict[str, str]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            name: {"value": float(value), "unit": units[name]}
            for name, value in metrics.items()
        },
    })
