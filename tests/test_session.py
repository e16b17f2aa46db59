"""The start-up archive of ``session.get_spark``, its CPU count and its
default driver heap.

The unit tests run no JVM: they build a fake Spark install (``jars/``,
``conf/``) and a fake ``java`` under a tmp dir. The round trip starts real
driver JVMs in subprocesses, with ``XDG_CACHE_HOME`` in a tmp dir; it
takes 30-33 s on 2 CPUs, so it is in ``SLOW_TESTS`` (run it with
``-m slow``).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from shifts_etl_spark import session
from shifts_etl_spark.session import ArchiveBuild, archive_key, start_up_archive

MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
REPO = Path(__file__).resolve().parents[1]


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake Spark install with a templates-only conf dir, a fake JDK and
    an empty cache; returns (spark_home, java, cache)."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"jar " + name.encode())
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java 1")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    return home, java, tmp_path / "xdg" / "shifts_etl_spark" / "cds"


def test_key_is_stable_and_follows_the_install(install):
    home, java, _ = install
    key = archive_key(str(home), str(java))
    assert key == archive_key(str(home), str(java))

    jar = home / "jars" / "a.jar"
    os.utime(jar, ns=(1, 1))
    touched = archive_key(str(home), str(java))
    assert touched != key

    jar.write_bytes(jar.read_bytes() + b"!")
    os.utime(jar, ns=(1, 1))
    assert archive_key(str(home), str(java)) not in (key, touched)

    other = java.with_name("java2")
    other.write_bytes(b"java 1")
    os.utime(other, ns=(java.stat().st_atime_ns, java.stat().st_mtime_ns))
    assert archive_key(str(home), str(other)) != archive_key(str(home), str(java))


@pytest.mark.parametrize("conf", ["templates", "missing"])
def test_templates_only_conf_dir_is_swapped_for_an_empty_one(install, conf):
    home, _, cache = install
    if conf == "missing":
        os.environ["SPARK_CONF_DIR"] = str(home / "no-such-conf")
    options, build = start_up_archive()
    try:
        assert os.environ["SPARK_CONF_DIR"] == str(cache / "conf")
        assert not any((cache / "conf").iterdir())
        assert options.startswith("-XX:ArchiveClassesAtExit=")
    finally:
        build.release()


def test_real_conf_file_means_no_archive_and_untouched_env(install):
    home, _, cache = install
    (home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    env = dict(os.environ)
    assert start_up_archive() is None
    assert dict(os.environ) == env
    assert not cache.exists()


def test_unwritable_cache_means_no_archive(install, tmp_path):
    (tmp_path / "not-a-dir").write_text("")
    os.environ["XDG_CACHE_HOME"] = str(tmp_path / "not-a-dir")
    env = dict(os.environ)
    assert start_up_archive() is None
    assert dict(os.environ) == env


def test_only_a_file_with_the_magic_is_shared(install):
    home, java, cache = install
    jsa = cache / f"{archive_key(str(home), str(java))}.jsa"
    cache.mkdir(parents=True)
    for garbage in (b"", b"\xa8\xab", b"not an archive at all"):
        jsa.write_bytes(garbage)
        options, build = start_up_archive()
        build.release()
        assert "SharedArchiveFile" not in options
        assert options.startswith("-XX:ArchiveClassesAtExit=")

    jsa.write_bytes(MAGIC + b"rest of the archive")
    options, build = start_up_archive()
    assert build is None
    assert options.split()[0] == f"-XX:SharedArchiveFile={jsa}"


def _die_building(cache: Path) -> int:
    """Take ``k.lock`` in a process that starts writing its archive and
    dies without running its exit hooks; its pid."""
    r = subprocess.run(
        [sys.executable, "-c",
         "import os, sys; from pathlib import Path\n"
         "from shifts_etl_spark.session import ArchiveBuild\n"
         f"b = ArchiveBuild.take(Path({str(cache)!r}), 'k')\n"
         "b.tmp.write_bytes(b'half'); print(os.getpid()); sys.stdout.flush(); os._exit(0)"],
        env={**os.environ, "PYTHONPATH": str(REPO)}, capture_output=True, text=True, check=True)
    return int(r.stdout)


def test_lock_of_a_dead_builder_is_taken_over_once(install):
    _, _, cache = install
    cache.mkdir(parents=True)
    first = _die_building(cache)
    assert [p.name for p in cache.glob("k.*.tmp")] == [f"k.{first}.tmp"]
    second = _die_building(cache)  # takes over, drops the half-built archive
    assert [p.name for p in cache.glob("k.*.tmp")] == [f"k.{second}.tmp"]
    assert (cache / "k.lock").read_text() == f"{first}\n{second}\n"
    assert ArchiveBuild.take(cache, "k") is None  # two dead builders: no third


@pytest.mark.parametrize("end", ["killed", "timed out"])
def test_failed_build_is_not_retried(install, monkeypatch, end):
    home, java, cache = install
    options, build = start_up_archive()
    assert options.startswith("-XX:ArchiveClassesAtExit=")
    # stands in for a gateway JVM still writing its archive at exit
    jvm = subprocess.Popen(
        [sys.executable, "-c",
         f"import time; open({str(build.tmp)!r}, 'wb').write({MAGIC!r}); time.sleep(60)"],
        stdin=subprocess.PIPE,
    )
    if end == "killed":  # by a caller that stopped waiting for it
        jvm.kill()
        jvm.wait()
    else:
        monkeypatch.setattr(session, "_DUMP_WAIT_S", 0.5)
    build.publish(jvm)
    assert jvm.returncode != 0
    lock = cache / f"{archive_key(str(home), str(java))}.lock"
    assert lock.read_text() == f"{os.getpid()}\nfailed\n"
    assert sorted(p.name for p in cache.iterdir()) == sorted(["conf", lock.name])

    env = dict(os.environ)
    assert start_up_archive() is None
    assert dict(os.environ) == env

    lock.unlink()  # deleting the mark allows a new build
    options, build = start_up_archive()
    build.release()
    assert options.startswith("-XX:ArchiveClassesAtExit=")


def test_live_lock_holder_keeps_others_off(install):
    home, java, cache = install
    cache.mkdir(parents=True)
    lock = cache / f"{archive_key(str(home), str(java))}.lock"
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        env = dict(os.environ)
        assert start_up_archive() is None
        assert dict(os.environ) == env
    finally:
        os.close(fd)


@pytest.mark.parametrize("code", [0, 1])
def test_only_a_clean_exit_publishes(install, code):
    _, _, cache = install
    cache.mkdir(parents=True)
    (cache / "old.jsa").write_bytes(MAGIC)
    build = ArchiveBuild.take(cache, "k")
    # stands in for the gateway JVM: writes its archive at EOF on stdin
    jvm = subprocess.Popen(
        [sys.executable, "-c",
         f"import sys; sys.stdin.read(); open({str(build.tmp)!r}, 'wb').write({MAGIC!r}); "
         f"sys.exit({code})"],
        stdin=subprocess.PIPE,
    )
    build.publish(jvm)
    assert jvm.returncode == code
    assert (cache / "k.jsa").exists() == (code == 0)
    assert (cache / "old.jsa").exists() == (code != 0)
    assert sorted(p.name for p in cache.iterdir()) == (
        ["k.jsa"] if code == 0 else ["k.lock", "old.jsa"])


CHILD = """
import json, sys
from shifts_etl_spark.session import get_spark
spark = get_spark(app_name="cds-round-trip")
if sys.argv[1:] == ["job"]:  # a Python job connects the accumulator server
    spark.sparkContext.parallelize(range(4), 2).map(lambda x: x).count()
pid = spark.sparkContext._gateway.proc.pid
maps = open(f"/proc/{pid}/maps").read().split()
print(json.dumps({
    "options": spark.conf.get("spark.driver.extraJavaOptions", ""),
    "parallelism": spark.sparkContext.defaultParallelism,
    "mapped": sorted({w for w in maps if w.endswith(".jsa")}),
}))
"""


def _child(env: dict, *args: str) -> tuple[dict, str]:
    """Run CHILD on CPUs 0 and 1; its result and everything it printed."""
    r = subprocess.run(["taskset", "-c", "0,1", sys.executable, "-c", CHILD, *args],
                       env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1]), r.stdout + r.stderr


def test_archive_round_trip(tmp_path):
    if not {0, 1} <= os.sched_getaffinity(0):
        pytest.skip("needs CPUs 0 and 1")
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    env.update(XDG_CACHE_HOME=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g",
               PYTHONPATH=str(REPO))
    from pyspark.find_spark_home import _find_spark_home

    key = archive_key(_find_spark_home(), session.java_binary())
    cache = tmp_path / "shifts_etl_spark" / "cds"
    jsa = cache / f"{key}.jsa"
    cache.mkdir(parents=True)
    jsa.write_bytes(b"garbage")
    try:
        # 1: the garbage file is not used; the JDK's base archive is; the
        # process builds the archive and publishes it at exit
        first, out = _child(env, "job")
        assert first["parallelism"] == 2  # local[N] follows the CPU affinity
        assert "SharedArchiveFile" not in first["options"]
        assert any(m.endswith("/classes.jsa") for m in first["mapped"])
        assert str(jsa) not in first["mapped"]
        assert "[cds" not in out and "Traceback" not in out
        assert session.has_archive_magic(jsa)
        assert sorted(p.name for p in cache.iterdir()) == sorted(["conf", jsa.name])

        # 2: the driver JVM maps the published archive
        second, out = _child(env)
        assert second["options"].split()[0] == f"-XX:SharedArchiveFile={jsa}"
        assert str(jsa) in second["mapped"]
        assert "[cds" not in out and "Traceback" not in out

        # the same options on a JVM the archive does not match (another
        # class path) start quietly and keep the base archive
        r = subprocess.run([session.java_binary(), *second["options"].split(), "-version"],
                           capture_output=True, text=True, timeout=60)
        assert r.returncode == 0
        assert "sharing" in r.stderr
        assert "[cds" not in r.stdout + r.stderr
    finally:
        shutil.rmtree(cache)  # the archive is ~176 MB


@pytest.mark.parametrize("gib, heap", [(16, "8192m"), (3, "1536m"), (64, "16384m")])
def test_driver_memory_is_half_the_machine_at_most_16g(monkeypatch, gib, heap):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * (1 << 30) // 4096}
    monkeypatch.setattr(session.os, "sysconf", pages.__getitem__)
    assert session.driver_memory() == heap
