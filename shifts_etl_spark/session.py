"""SparkSession factory.

Pinned UTC session timezone: the reference's ``datetime.fromtimestamp``
(reference etl/app/shift_data_processor.py:120) interprets epoch seconds in
the container's local TZ, which is UTC under docker — pinning UTC makes the
engine deterministic everywhere (SURVEY.md §7.4 pitfall #1).

The generated-code cache holds 2000 classes instead of Spark's 100: one
``/run-etl`` cycles through 122-139 classes, so the default LRU evicted
every class before its next use and each run recompiled ~90 of them.
Class names carry no stage id, so a rerun's classes match its last run's.

Start-up archive. A fresh driver JVM loads ~11k classes while the session
starts and ~1k more on its first ``/run-etl``. ``get_spark`` keeps one
dynamic class-data-sharing (AppCDS) archive of them per JDK + Spark
install, ``<cache>/<key>.jsa`` under ``$XDG_CACHE_HOME/shifts_etl_spark/cds``
(default ``~/.cache/...``), and starts the driver JVM with
``-XX:SharedArchiveFile`` on it, so those classes are mapped in already
parsed and verified. The key hashes the ``java`` binary spark-submit runs,
the pyspark version and the install's jars; no JVM is started to compute it.

- With no archive, the process that takes ``<key>.lock`` builds it: its JVM
  runs with ``-XX:ArchiveClassesAtExit`` and writes the archive when it
  exits. An ``atexit`` hook lets the JVM exit and publishes the file with
  an atomic rename, only if the JVM exited with code 0: a truncated
  archive crashes the JVM that maps it. A process that finds the lock
  taken starts without an archive.
- A build that publishes nothing (the JVM exited non-zero, was killed by a
  caller that stopped waiting, or outlived the 120 s wait) writes
  ``failed`` into ``<key>.lock`` and keeps it, and no process builds for
  that key again until the file is deleted; a builder that died before
  its hook ran is retried once. So a build that cannot finish costs one
  or two slow starts, not every start.
- The saving needs a cache that outlives the process. A start that finds
  no archive is slower than one without this scheme: its set-up costs
  about a quarter more CPU, and its JVM spends 12-16 s at exit writing
  ~176 MB (README "Start-up archive").
- CDS cannot dump while a non-empty directory precedes the jars on the
  class path, and spark-submit puts the conf dir there. When the conf dir
  holds only ``*.template`` files (which Spark ignores) or does not exist,
  ``SPARK_CONF_DIR`` is pointed at an empty ``<cache>/conf``. When it holds
  a real file, or the cache dir is not writable, no archive is used and
  start-up is unchanged.
- A file is passed to ``SharedArchiveFile`` only if it starts with the
  dynamic-archive magic: a file that is no archive at all turns off the
  JDK's base archive too. An archive that does not match the JVM is
  ignored by the JVM, which keeps its base archive. The ``cds`` logs are
  off, so neither case prints anything, nor does building.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# first 4 bytes of a JDK dynamic (top-layer) CDS archive, in native order
_DYNAMIC_ARCHIVE_MAGIC = 0xF00BABA8
# the builder JVM writes ~176 MB at exit: 12-16 s on 2 or 4 idle cores,
# over 30 s on 2 cores shared with two busy processes
_DUMP_WAIT_S = 120
# builds per key: a builder that died without a word gets one retry
_MAX_BUILDS = 2
_QUIET = "-Xlog:cds=off,cds+dynamic=off"


def get_spark(
    app_name: str = "shifts_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local mode defaults; on a real cluster the same settings apply except
    master/memory come from the submitter. AQE is on so runtime statistics
    re-plan joins (broadcast conversion, skew splitting, partition coalesce)
    — the scale-out story for 100 TB relies on it.
    """
    # the CPUs this process may run on, not the host's (taskset, cpusets)
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle = str(shuffle_partitions or max(int(cpus) * 2, 32))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # static conf: measured working sets are 122-139 generated classes
        # per /run-etl and ~90 per headline pass; at the default 100 entries
        # a cyclic visit misses every time under LRU, so each warm run
        # recompiled ~90 classes (Janino was ~15% of JVM samples)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # AQE numbers codegen stages in the order its query stages finish,
        # and the number is part of the generated class name; leaving it out
        # lets a rerun whose stages finish in another order hit the cache
        .config("spark.sql.codegen.useIdInClassName", "false")
        # static conf: keep managed tables (bucketed layouts) out of the cwd
        .config("spark.sql.warehouse.dir", "/tmp/shifts_etl_spark_warehouse")
        # static conf: no call-site capture per DataFrame/Column call. With it
        # on, each call walks the Python stack and adds ten Py4J round trips
        # (the active session, PySparkCurrentOrigin set and clear, a conf
        # read, and their reflection lookups): on 4 cores F.col took 1.2 ms
        # in 13 round trips instead of 0.24 ms in 3, and a warm 28-day
        # /run-etl made about twice the round trips. Dropped: the Python
        # file:line of the building call in runtime error contexts; analysis
        # errors still raise at the offending line. pyspark's
        # is_debugging_enabled() reads the conf once per process, from the
        # session active at its first call: a process whose first session
        # was not built here keeps that session's value
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # only a JVM this call launches can take the archive's flags
    launches_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    options, build = (start_up_archive() if launches_jvm else None) or (None, None)
    if options is not None:
        builder = builder.config("spark.driver.extraJavaOptions", options)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if build is not None:
            build.release()
        raise
    if build is not None:
        atexit.register(build.publish, spark.sparkContext._gateway.proc)
        # runs first (atexit is last in, first out): the accumulator server
        # would print the JVM's exit under it as an error
        atexit.register(spark.sparkContext.stop)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_memory() -> str:
    """Default driver heap: half the machine's physical memory, at most
    16g. A fixed 16g let the driver JVM outgrow a 16 GB machine and be
    killed by the kernel."""
    half_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2 // (1 << 20)
    return f"{min(half_mb, 16 << 10)}m"


def split_partitions(spark: SparkSession, nbytes: int) -> int:
    """Partitions for ``nbytes`` of data: ``nbytes`` over the split size
    Spark's file scans use for one file of that size
    (``FilePartition.maxSplitBytes``), read from the session's SQL conf,
    so data is split like a parquet file of the same size. At least 1, at
    most defaultParallelism: one partition up to
    ``spark.sql.files.openCostInBytes`` (4 MB)."""
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    cores = spark.sparkContext.defaultParallelism
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, (nbytes + open_cost) // cores))
    return max(1, min(cores, math.ceil(nbytes / split)))


def java_binary() -> str | None:
    """The ``java`` that spark-submit runs."""
    java_home = os.environ.get("JAVA_HOME")
    return os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")


def archive_key(spark_home: str, java: str) -> str:
    """Short hash of the ``java`` binary, the pyspark version and the jars
    of ``spark_home``: what a dynamic archive is only valid for."""
    st = os.stat(java)
    parts = [(os.path.realpath(java), st.st_size, st.st_mtime_ns), pyspark.__version__]
    for jar in sorted(Path(spark_home, "jars").glob("*.jar")):
        st = jar.stat()
        parts.append((jar.name, st.st_size, st.st_mtime_ns))
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:16]


def has_archive_magic(path: Path) -> bool:
    """Whether ``path`` starts like a dynamic CDS archive."""
    try:
        with open(path, "rb") as f:
            head = f.read(4)
    except OSError:
        return False
    return len(head) == 4 and int.from_bytes(head, sys.byteorder) == _DYNAMIC_ARCHIVE_MAGIC


def start_up_archive() -> tuple[str, ArchiveBuild | None] | None:
    """Driver JVM options that use or build the start-up archive, and the
    build this process then owns; None to start without an archive.
    Points ``SPARK_CONF_DIR`` at an empty directory unless it returns None."""
    spark_home = _find_spark_home()
    conf_dir = Path(os.environ.get("SPARK_CONF_DIR") or Path(spark_home, "conf"))
    if conf_dir.is_dir() and not all(p.name.endswith(".template") for p in conf_dir.iterdir()):
        return None
    java = java_binary()
    if java is None or not os.path.isfile(java):
        return None
    xdg_cache = os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"
    cache = Path(xdg_cache, "shifts_etl_spark", "cds")
    empty_conf = cache / "conf"
    try:
        empty_conf.mkdir(parents=True, exist_ok=True)
    except OSError:
        return None
    if not os.access(cache, os.W_OK):
        return None
    key = archive_key(spark_home, java)
    jsa = cache / f"{key}.jsa"
    build = None
    if not has_archive_magic(jsa):
        build = ArchiveBuild.take(cache, key)
        if build is None:
            return None
        if has_archive_magic(jsa):  # published while this process waited for the lock
            build.release()
            build = None
    os.environ["SPARK_CONF_DIR"] = str(empty_conf)
    if build is None:
        return f"-XX:SharedArchiveFile={jsa} {_QUIET}", None
    return f"-XX:ArchiveClassesAtExit={build.tmp} {_QUIET}", build


class ArchiveBuild:
    """The one build of an archive: holds ``<key>.lock`` from ``take`` until
    ``publish`` or ``release``."""

    def __init__(self, lock_fd: int, lock: Path, tmp: Path, jsa: Path):
        self.lock_fd, self.lock, self.tmp, self.jsa = lock_fd, lock, tmp, jsa

    @classmethod
    def take(cls, cache: Path, key: str) -> ArchiveBuild | None:
        """Take ``<key>.lock``, or None while a live process holds it or
        the key's builds have failed.

        The lock is an ``flock`` on the file, which the kernel drops when
        its holder dies, so a lock left by a dead process is taken over.
        (A pid test would race between two processes taking over, and a
        reused pid would hold the lock forever.) The file keeps one line
        per build: the builder's pid, and ``failed`` after a build that
        published nothing. A failed build is not retried, and a builder
        that died before it could say so is retried once: a build that
        cannot finish would otherwise slow every start. Deleting the file
        allows a new build."""
        lock = cache / f"{key}.lock"
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            # a finishing builder unlinks the file it held: this lock guards nothing
            if os.stat(lock).st_ino != os.fstat(fd).st_ino:
                raise FileNotFoundError(lock)
            builds = os.read(fd, 4096).decode(errors="replace").splitlines()
            if "failed" in builds or len(builds) >= _MAX_BUILDS:
                raise FileExistsError(lock)
        except OSError:
            os.close(fd)
            return None
        os.write(fd, f"{os.getpid()}\n".encode())
        for stale in cache.glob(f"{key}.*.tmp"):  # left by a builder that died
            stale.unlink(missing_ok=True)
        return cls(fd, lock, cache / f"{key}.{os.getpid()}.tmp", cache / f"{key}.jsa")

    def publish(self, jvm: subprocess.Popen) -> None:
        """Let the JVM exit, which writes the archive, and publish it if
        the JVM exited cleanly; drop archives of other keys. Otherwise mark
        the build failed. Runs at exit."""
        jvm.stdin.close()  # the gateway JVM exits with code 0 on EOF
        try:
            code = jvm.wait(timeout=_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            code = jvm.wait()
        if code != 0 or not has_archive_magic(self.tmp):
            os.write(self.lock_fd, b"failed\n")
            self.tmp.unlink(missing_ok=True)
            os.close(self.lock_fd)
            return
        with open(self.tmp, "rb") as f:
            os.fsync(f.fileno())
        os.replace(self.tmp, self.jsa)
        for old in self.jsa.parent.glob("*.jsa"):
            if old != self.jsa:
                old.unlink(missing_ok=True)
        self.release()

    def release(self) -> None:
        """Drop the temp file and the lock (unlinked while still held)."""
        self.tmp.unlink(missing_ok=True)
        self.lock.unlink(missing_ok=True)
        os.close(self.lock_fd)
