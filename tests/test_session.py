"""The session's driver JIT policy reaches the driver JVM, and a caller's
own driver Java options replace it."""

from __future__ import annotations

import os
import subprocess
import sys

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
