"""Class-data sharing (AppCDS) for the driver JVM.

The driver JVM lives for one run (one Airflow task, one pipeline day), and
a large part of its start-up is loading, parsing and verifying Spark's
classes from a few hundred jars. JDK 17 can write the classes a run loaded
to a dynamic archive at exit (``-XX:ArchiveClassesAtExit``) and map that
archive into later JVMs (``-XX:SharedArchiveFile``), which then skip that
work. See docs/SCALE.md "Driver class-data sharing".

:func:`start` launches the driver JVM in one of three states, recorded as
the ``spark.graft.driverCds`` conf entry (and so in the event log):

- ``mapped``: the published archive is mapped under ``-Xshare:on``, so the
  JVM either maps it or refuses to start. The JVM itself refuses an archive
  of another JDK build or classpath. After a refusal the launch is retried
  without the archive, and the archive is deleted only if that retry starts
  (``unmapped:rejected``).
- ``dumping``: there is no archive yet, so this JVM writes one to a
  ``*.tmp`` file at exit. :func:`stop`, or failing that an ``atexit`` hook,
  ends the JVM and renames the file into place only if the JVM exited with
  status 0: a torn archive crashes the JVM that maps it, so nothing else is
  ever published.
- ``unmapped:<reason>``: no archive flag is passed.
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import glob
import os
import subprocess
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

CONF_KEY = "spark.graft.driverCds"
JAVA_OPTIONS_KEY = "spark.driver.extraJavaOptions"
ARCHIVE = "driver.jsa"
# The JVM logs to stdout by default, where a dumping run would print hundreds
# of "[warning][cds]" lines (pre-JDK-6 classes, signed jars) ahead of the
# caller's own output.
QUIET = "-Xlog:cds*=off"
# How long stopping a dumping JVM waits for it to write its archive. A
# daily run's dump takes about 10-20 s; a process killed sooner leaves a
# *.tmp that the next dumping run deletes.
DUMP_WAIT_S = 120
# spark-launcher adds these to the driver classpath; a conf directory
# holding real files is on it as well, and JDK 17 refuses to dump while the
# classpath holds a non-empty directory.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_CALLER_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")


def cache_dir() -> str:
    """Where the archive lives: ``spark-graft/cds`` under
    ``$XDG_CACHE_HOME``, else under ``~/.cache``."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft", "cds")


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, OverflowError):
        return False
    except PermissionError:
        pass
    return True


def _templates_only(conf_dir: str) -> bool:
    return not os.path.isdir(conf_dir) or all(
        name.endswith(".template") for name in os.listdir(conf_dir)
    )


def _dump_lock(cache: str) -> int | None:
    """An exclusive lock on the cache held until the dump is published, so
    concurrent first runs write one archive, not one each. The kernel drops
    it when the holder dies."""
    fd = os.open(os.path.join(cache, "dump.lock"), os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(fd)
        return None
    return fd


@dataclass
class _Plan:
    """What one launch passes: its state, the archive flags, the archive it
    maps or the temp file it writes, and for a dump the lock."""

    state: str
    flags: str = ""
    path: str = ""
    lock: int | None = None


def _plan(cache: str, conf_dir: str, java_options: str, conf: dict[str, str]) -> _Plan:
    if any(flag in java_options for flag in _CALLER_CDS_FLAGS):
        return _Plan("unmapped:caller-options")
    if conf.get("spark.driver.extraClassPath") or any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return _Plan("unmapped:classpath")
    if not _templates_only(conf_dir):
        return _Plan("unmapped:conf-dir")
    os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    archive = os.path.join(cache, ARCHIVE)
    # A JVM that crashes on the archive writes its error file to the cache,
    # not to the caller's working directory.
    mapped = _Plan("mapped", f"-XX:SharedArchiveFile={archive} -Xshare:on "
                             f"-XX:ErrorFile={cache}/hs_err_%p.log {QUIET}", archive)
    if os.path.isfile(archive):
        return mapped
    lock = _dump_lock(cache)
    if lock is None:
        return _Plan("unmapped:dump-in-progress")
    if os.path.isfile(archive):  # published between the first look and the lock
        os.close(lock)
        return mapped
    for stale in glob.glob(os.path.join(cache, "driver.*.tmp")):
        pid = stale.rsplit(".", 2)[1]
        if pid.isdigit() and not _pid_alive(int(pid)):
            _remove(stale)
    tmp = os.path.join(cache, f"driver.{os.getpid()}.tmp")
    return _Plan("dumping", f"-XX:ArchiveClassesAtExit={tmp} {QUIET}", tmp, lock)


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


# The dumping JVM this process launched and its plan, until published.
_dump: tuple[subprocess.Popen, _Plan] | None = None


def _finish_dump() -> None:
    """End the dumping JVM (EOF on its stdin makes the gateway exit) and
    publish its archive by a rename only if the JVM exited with status 0.
    The file and the directory are synced first, so a crash cannot leave a
    published name over blocks never written."""
    global _dump
    if _dump is None:
        return
    (proc, plan), _dump = _dump, None
    try:
        proc.stdin.close()
        if proc.wait(timeout=DUMP_WAIT_S) != 0 or not os.path.isfile(plan.path):
            _remove(plan.path)
            return
        _fsync(plan.path)
        os.rename(plan.path, os.path.join(os.path.dirname(plan.path), ARCHIVE))
        _fsync(os.path.dirname(plan.path))
    except subprocess.TimeoutExpired:
        pass  # still writing: the *.tmp goes once this process is gone
    finally:
        os.close(plan.lock)


@contextlib.contextmanager
def _conf_dir_env(conf_dir: str | None):
    """Set ``SPARK_CONF_DIR`` for the launch only, then restore it."""
    if conf_dir is None:
        yield
        return
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before


def start(builder: SparkSession.Builder, java_options: str,
          conf: dict[str, str]) -> SparkSession:
    """``builder.getOrCreate()``, launching the driver JVM with
    ``java_options`` plus the archive flags when this call launches it. A
    JVM that already runs keeps its options and its recorded state."""
    global _dump
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return builder.getOrCreate()
    cache = cache_dir()
    try:
        plan = _plan(cache,
                     os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf"),
                     java_options, conf)
    except OSError as exc:
        plan = _Plan(f"unmapped:{type(exc).__name__}")
    # The conf directory holds only templates here; an empty one keeps the
    # classpath free of non-empty directories.
    with _conf_dir_env(os.path.join(cache, "conf") if plan.flags else None):
        try:
            spark = (builder.config(JAVA_OPTIONS_KEY, f"{java_options} {plan.flags}".strip())
                     .config(CONF_KEY, plan.state).getOrCreate())
        except PySparkRuntimeError as exc:
            if plan.state != "mapped" or exc.getCondition() != "JAVA_GATEWAY_EXITED":
                if plan.lock is not None:
                    os.close(plan.lock)
                raise
            # -Xshare:on refuses an archive it cannot map (another JDK build
            # or classpath, a damaged file). If the JVM starts without it,
            # the archive was at fault and goes; if not, the launch failed
            # for another reason, and the archive stays.
            try:
                spark = (builder.config(JAVA_OPTIONS_KEY, java_options)
                         .config(CONF_KEY, "unmapped:rejected").getOrCreate())
            except PySparkRuntimeError:
                raise exc from None
            _remove(plan.path)
    if plan.state == "dumping":
        _dump = (spark.sparkContext._gateway.proc, plan)
        atexit.register(_finish_dump)
    return spark


def stop(spark: SparkSession) -> None:
    """``spark.stop()``; when the session's driver JVM is writing an
    archive, also end that JVM and publish the archive before returning.
    For a process that may end without running ``atexit`` hooks, such as
    one that leaves by ``os._exit`` the way a forking task runner does. The
    next session in this process launches a new JVM."""
    spark.stop()
    if _dump is None or _dump[0] is not getattr(SparkContext._gateway, "proc", None):
        return
    SparkContext._gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    _finish_dump()


def state(spark: SparkSession) -> str:
    """The recorded archive state of the session's driver JVM;
    ``unmapped:external`` when ``start`` did not launch it."""
    return spark.sparkContext.getConf().get(CONF_KEY, "unmapped:external")
