"""The session's driver JIT policy reaches the driver JVM, and a caller's
own driver Java options replace it. The driver JVM maps a class-data-sharing
archive when one is published, writes one when none is, and starts without
one when the archive is torn or mismatched."""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

from weather_bigquery_lakehouse_spark import driver_cds
from weather_bigquery_lakehouse_spark.session import DRIVER_JIT_OPTIONS

TIER4 = [
    "-XX:Tier4InvocationThreshold=50000",
    "-XX:Tier4MinInvocationThreshold=6000",
    "-XX:Tier4CompileThreshold=150000",
    "-XX:Tier4BackEdgeThreshold=400000",
]


def test_driver_jvm_carries_jit_policy(spark):
    """The live driver JVM of the shared session was started with the four
    tier-4 thresholds at 10x the JDK 17 defaults."""
    assert DRIVER_JIT_OPTIONS.split() == TIER4
    runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(runtime.getRuntimeMXBean().getInputArguments())
    assert [a for a in args if a.startswith("-XX:Tier4")] == TIER4


def test_extra_conf_driver_java_options_replace_jit_policy():
    """``extra_conf`` ``spark.driver.extraJavaOptions`` replaces the policy
    rather than adding to it. Needs a fresh JVM (options apply at launch),
    hence the subprocess."""
    code = """
from weather_bigquery_lakehouse_spark.session import build_session, driver_jvm_args

spark = build_session(
    app_name="jit_policy_probe",
    extra_conf={"spark.driver.extraJavaOptions": "-XX:Tier4InvocationThreshold=7000"},
)
print("ARGS", *driver_jvm_args(spark))
spark.stop()
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=300, cwd=root
    )
    assert out.returncode == 0, out.stderr[-2000:]
    (line,) = [l for l in out.stdout.splitlines() if l.startswith("ARGS")]
    assert [a for a in line.split() if a.startswith("-XX:Tier4")] == [
        "-XX:Tier4InvocationThreshold=7000"
    ]


# --------------------------------------------------------------------------
# Driver class-data sharing: each probe is a fresh process (the archive
# flags apply at JVM launch) with its own XDG_CACHE_HOME and a tiny job, so
# a dump stays small.
# --------------------------------------------------------------------------

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = """
import os
from weather_bigquery_lakehouse_spark import driver_cds
from weather_bigquery_lakehouse_spark.session import build_session, driver_jvm_args

options = os.environ.get("PROBE_JAVA_OPTIONS")
extra = {driver_cds.JAVA_OPTIONS_KEY: options} if options else None
spark = build_session(app_name="cds_probe", shuffle_partitions=2, extra_conf=extra)
assert spark.range(10).count() == 10
print("STATE", driver_cds.state(spark))
print("ARGS", *driver_jvm_args(spark))
print("CONF_DIR", os.environ.get("SPARK_CONF_DIR"))
print("PROBE_CONF", spark.conf.get("spark.graft.probe", "unset"), flush=True)
if os.environ.get("PROBE_OS_EXIT"):
    # the way a forking task runner ends a task: no atexit hooks
    driver_cds.stop(spark)
    print("PUBLISHED", os.path.isfile(os.path.join(driver_cds.cache_dir(), "driver.jsa")))
    spark = build_session(app_name="cds_probe_again", shuffle_partitions=2)
    assert spark.range(10).count() == 10
    print("AGAIN", driver_cds.state(spark), flush=True)
    os._exit(0)
spark.stop()
"""
REPORT = ("STATE", "ARGS", "CONF_DIR", "PROBE_CONF", "PUBLISHED", "AGAIN")


def _run_probe(cache, cwd, **env) -> subprocess.CompletedProcess:
    """Run PROBE with ``XDG_CACHE_HOME=cache`` in ``cwd``."""
    child_env = {**os.environ, "XDG_CACHE_HOME": str(cache), "PYTHONPATH": ROOT, **env}
    return subprocess.run(
        [sys.executable, "-c", PROBE], capture_output=True, text=True, timeout=300,
        cwd=str(cwd), env=child_env,
    )


def _probe(cache, cwd, **env) -> dict[str, str]:
    """PROBE's report lines; it must succeed and print no CDS log line."""
    out = _run_probe(cache, cwd, **env)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "[cds]" not in out.stdout, out.stdout[:2000]
    return dict(
        line.split(" ", 1) for line in out.stdout.splitlines()
        if line.split(" ", 1)[0] in REPORT
    )


def _cds_dir(cache) -> str:
    return os.path.join(str(cache), "spark-graft", "cds")


def _archive(cache) -> str:
    return os.path.join(_cds_dir(cache), driver_cds.ARCHIVE)


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A fresh cache after one dumping process that exits normally; a stale
    temp file of a writer that is gone sits there beforehand."""
    cache = tmp_path_factory.mktemp("cds_cache")
    os.makedirs(_cds_dir(cache))
    open(os.path.join(_cds_dir(cache), "driver.999999999.tmp"), "wb").close()
    report = _probe(cache, tmp_path_factory.mktemp("cwd"))
    return cache, report


def test_fresh_cache_dumps_and_publishes_one_archive(dumped):
    cache, report = dumped
    assert report["STATE"] == "dumping"
    assert "-XX:ArchiveClassesAtExit=" in report["ARGS"]
    assert report["CONF_DIR"] == "None"  # set for the launch only
    assert glob.glob(os.path.join(_cds_dir(cache), "*.jsa")) == [_archive(cache)]
    assert glob.glob(os.path.join(_cds_dir(cache), "*.tmp")) == []


def test_next_process_maps_the_archive(dumped, tmp_path):
    cache, _ = dumped
    report = _probe(cache, tmp_path)
    assert report["STATE"] == "mapped"
    args = report["ARGS"].split()
    assert f"-XX:SharedArchiveFile={_archive(cache)}" in args and "-Xshare:on" in args
    assert report["CONF_DIR"] == "None"


def test_stop_publishes_before_os_exit(tmp_path):
    """A process that ends by ``os._exit`` runs no atexit hook, so
    ``driver_cds.stop`` ends the dumping JVM and publishes its archive;
    a later session in the same process launches a new JVM that maps it."""
    report = _probe(tmp_path / "cache", tmp_path, PROBE_OS_EXIT="1")
    assert report["STATE"] == "dumping"
    assert report["PUBLISHED"] == "True"
    assert report["AGAIN"] == "mapped"
    assert glob.glob(os.path.join(_cds_dir(tmp_path / "cache"), "*.tmp")) == []


def _other_classpath_archive(path: str) -> None:
    """A real dynamic archive, dumped by a JVM with another classpath."""
    from pyspark.find_spark_home import _find_spark_home

    (launcher,) = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))
    subprocess.run(
        ["java", f"-XX:ArchiveClassesAtExit={path}", driver_cds.QUIET, "-cp", launcher,
         "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=120,
    )


def _plant(dumped, tmp_path, bad: str):
    """A cache whose published archive is ``bad``; the cache."""
    cache = tmp_path / "cache"
    os.makedirs(_cds_dir(cache))
    tmp = os.path.join(_cds_dir(cache), "bad.tmp")
    if bad == "other_classpath":
        _other_classpath_archive(tmp)
    else:
        with open(_archive(dumped[0]), "rb") as fh:
            head = fh.read(1 << 20)
        with open(tmp, "wb") as fh:
            fh.write(head)
    os.rename(tmp, _archive(cache))
    return cache


@pytest.mark.parametrize("bad", ["truncated", "other_classpath"])
def test_bad_archive_still_starts_unmapped(dumped, tmp_path, bad):
    """A torn or mismatched archive never fails the session: the JVM aborts
    on the first (SIGBUS, error file in the cache) and refuses the second,
    the session starts unmapped and the bad file is gone."""
    cache = _plant(dumped, tmp_path, bad)
    report = _probe(cache, tmp_path)
    assert report["STATE"] == "unmapped:rejected"
    args = report["ARGS"].split()
    assert not [a for a in args if "SharedArchiveFile" in a or "ArchiveClassesAtExit" in a]
    assert glob.glob(os.path.join(_cds_dir(cache), "*.jsa")) == []
    assert glob.glob(str(tmp_path / "hs_err*")) == []


def test_failed_launch_for_another_reason_keeps_the_archive(dumped, tmp_path):
    """A launch that fails without the archive as well (here a stack size
    the JVM refuses) raises its own error and leaves the archive alone."""
    cache = tmp_path / "cache"
    os.makedirs(_cds_dir(cache))
    with open(_archive(dumped[0]), "rb") as src, open(_archive(cache), "wb") as dst:
        dst.write(src.read())
    out = _run_probe(cache, tmp_path, PROBE_JAVA_OPTIONS="-Xss1")
    assert out.returncode != 0
    assert "JAVA_GATEWAY_EXITED" in out.stderr, out.stderr[-2000:]
    assert os.path.getsize(_archive(cache)) == os.path.getsize(_archive(dumped[0]))


def test_conf_dir_with_real_files_is_left_alone(dumped, tmp_path):
    """A conf directory holding a real file stays on the classpath as it is
    (JDK 17 cannot dump with it), so no archive flag is passed."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe  yes\n")
    report = _probe(dumped[0], tmp_path, SPARK_CONF_DIR=str(conf))
    assert report["STATE"] == "unmapped:conf-dir"
    assert report["CONF_DIR"] == str(conf)
    assert report["PROBE_CONF"] == "yes"
    assert "Archive" not in report["ARGS"] and "Xshare" not in report["ARGS"]
