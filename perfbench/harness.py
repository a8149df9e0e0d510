"""Session set-up, corpus cache, provenance and memory sampling.

Everything the benchmark writes lives under ``<checkout>/.perfbench``:
the seeded corpora, Spark's local (shuffle) directory, JVM and Python
temp files, and the traced run's span files.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE_DIR = ROOT / ".perfbench"
CORPUS_DIR = STATE_DIR / "corpus"
LOCAL_DIR = STATE_DIR / "spark-local"
TMP_DIR = STATE_DIR / "tmp"
TRACE_DIR = STATE_DIR / "traces"
# corpora kept per size; older ones (by last use) are deleted
KEEP_CORPORA = 10
# sessions set up per run; setup_s is their median
SETUP_REPEATS = 3


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """An eighth of physical RAM in whole GiB, 1 to 2 GiB: the library's 48g
    default would let the JVM heap outgrow a small box before it collects."""
    return f"{max(1, min(2, ram_bytes() // 8 // 2**30))}g"


def prepare_env() -> None:
    """Point Spark's local dir, the JVM and Python temp files, and the
    executors' import path at the checkout, before the JVM starts."""
    for d in (LOCAL_DIR, TMP_DIR, TRACE_DIR, CORPUS_DIR):
        d.mkdir(parents=True, exist_ok=True)
    here = str(Path(__file__).resolve().parent)
    os.environ["PYTHONPATH"] = os.pathsep.join([str(ROOT), here])
    os.environ["SPARK_LOCAL_DIRS"] = str(LOCAL_DIR)
    os.environ["TMPDIR"] = str(TMP_DIR)


def session_conf() -> dict:
    # the heap is fixed and pre-touched so that peak_rss_mb does not depend
    # on when the collector chose to grow it
    heap = driver_heap()
    return {
        "spark.driver.memory": heap,
        "spark.local.dir": str(LOCAL_DIR),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={TMP_DIR} -Xms{heap} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session():
    from sparksketch.session import get_spark
    n = nproc()
    return get_spark("perfbench", cores=n, shuffle_partitions=n, extra=session_conf())


def spawn_workers(spark) -> None:
    """Spawn one Python worker per core — the lazy work every first
    library call in a session would otherwise pay."""
    import pyarrow as pa

    def touch(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": pa.array([b.num_rows], pa.int64())})

    n = nproc()
    spark.range(0, n, 1, n).mapInArrow(touch, "n long").collect()


def read_footers(spark, corpus: "Corpus") -> None:
    spark.read.parquet(str(corpus.path)).schema


def timed_setups(spark, first_start_s: float, corpus: "Corpus"):
    """Return (session, [set-up seconds], corpus meta).  A set-up is
    ``session.get_spark`` plus spawning the Python workers and reading the
    corpus footers.  The first reuses the session already started (its
    start time is passed in, so JVM launch counts once) and generates the
    corpus, untimed, if this (size, seed) is new; each later one stops the
    context and starts a new one in the same JVM."""
    t0 = time.perf_counter()
    spawn_workers(spark)
    first = time.perf_counter() - t0
    meta = corpus.ensure(spark)
    t0 = time.perf_counter()
    read_footers(spark, corpus)
    times = [first_start_s + first + time.perf_counter() - t0]
    for _ in range(SETUP_REPEATS - 1):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_session()
        spawn_workers(spark)
        read_footers(spark, corpus)
        times.append(time.perf_counter() - t0)
    return spark, times, meta


def provenance(seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark
    shm = os.statvfs("/dev/shm") if os.path.isdir("/dev/shm") else None
    return {
        "seed": seed,
        "nproc": nproc(),
        "ram_mb": round(ram_bytes() / 1e6),
        "tmpfs_mb": round(shm.f_blocks * shm.f_frsize / 1e6) if shm else None,
        "shuffle_dir": str(LOCAL_DIR.relative_to(ROOT)),
        "driver_heap": driver_heap(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }


# ---------------------------------------------------------------- corpus


class Corpus:
    """A seeded ``webtext.webpages`` corpus written once to parquet, plus a
    JSON sidecar for its generation time, the exact answers the checks
    compare against, and outputs that must repeat across runs of one seed."""

    def __init__(self, n: int, seed: int):
        self.n, self.seed = n, seed
        self.path = CORPUS_DIR / f"webpages_{n}_seed{seed}.parquet"
        self.meta_path = CORPUS_DIR / f"webpages_{n}_seed{seed}.json"

    def ensure(self, spark) -> dict:
        if not (self.meta_path.exists() and self.path.exists()):
            from sparksketch.webtext import webpages
            shutil.rmtree(self.path, ignore_errors=True)
            t0 = time.perf_counter()
            webpages(spark, self.n, seed=self.seed, partitions=2 * nproc()) \
                .write.parquet(str(self.path))
            self.save({"gen_s": time.perf_counter() - t0})
            self._evict()
        os.utime(self.meta_path)
        return self.load()

    def load(self) -> dict:
        return json.loads(self.meta_path.read_text())

    def save(self, meta: dict) -> None:
        tmp = self.meta_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(meta, sort_keys=True))
        os.replace(tmp, self.meta_path)

    def update(self, **kv) -> dict:
        meta = self.load()
        meta.update(kv)
        self.save(meta)
        return meta

    def _evict(self) -> None:
        metas = sorted(CORPUS_DIR.glob(f"webpages_{self.n}_seed*.json"),
                       key=lambda p: p.stat().st_mtime, reverse=True)
        for old in metas[KEEP_CORPORA:]:
            shutil.rmtree(old.with_suffix(".parquet"), ignore_errors=True)
            old.unlink()


def digest(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root_pid: int) -> dict[str, int]:
    """Resident bytes of ``root_pid`` and its descendants, by command name."""
    kids = _children()
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (driver JVM, Python daemon and workers) every ``interval`` seconds
    while active; ``peak`` is the largest sum seen, ``peak_by_command``
    the largest per command name."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            sample = tree_rss_bytes(pid)
            self.peak = max(self.peak, sum(sample.values()))
            for k, v in sample.items():
                self.peak_by_command[k] = max(self.peak_by_command.get(k, 0), v)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def median(xs) -> float:
    return float(statistics.median(xs))
