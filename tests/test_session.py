"""Driver JVM options: the default GCLocker mitigation must not stop a JDK
that no longer knows the flag from starting."""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest

from kafka_elasticsearch_standalone_consumer_spark.session import DEFAULT_DRIVER_JAVA_OPTS

GUARD = "-XX:+IgnoreUnrecognizedVMOptions"


def test_default_java_opts_guard_the_gclocker_flag():
    opts = DEFAULT_DRIVER_JAVA_OPTS.split()
    assert opts[0] == GUARD
    assert "-XX:GCLockerRetryAllocationCount=128" in opts


def test_default_java_opts_start_a_jvm_without_the_flag():
    """A flag this JVM has never heard of stands in for one a newer JDK
    removed: with the default options the JVM still starts, without the
    guard it refuses."""
    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if "JAVA_HOME" in os.environ
        else shutil.which("java")
    )
    if java is None or not os.path.exists(java):
        pytest.skip("no java executable")
    removed = "-XX:NoSuchRemovedRetryCount=128"
    opts = DEFAULT_DRIVER_JAVA_OPTS.split()
    ok = subprocess.run([java, *opts, removed, "-version"], capture_output=True)
    assert ok.returncode == 0, ok.stderr.decode()
    unguarded = [o for o in opts if o != GUARD]
    bad = subprocess.run([java, *unguarded, removed, "-version"], capture_output=True)
    assert bad.returncode != 0


def test_session_uses_the_default_unless_overridden(spark):
    # Spark prepends its own default options to the configured string
    got = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")
    assert got.endswith(os.environ.get("KESC_DRIVER_JAVA_OPTS", DEFAULT_DRIVER_JAVA_OPTS))
