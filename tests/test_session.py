"""Session defaults that follow the host, the streaming daemon's
collector, and `fan_out`'s streaming guard."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from eventstreamd_spark.session import (
    _JAVA_ENV_OPTIONS,
    MAX_DRIVER_MB,
    _daemon_collector,
    _host_memory,
    _spark_defaults,
    driver_memory,
    fan_out,
)

GIB = 2**30
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Prints the names of the collectors a fresh session's JVM runs, then
# the JVM's system properties named on the command line.
_COLLECTORS = """
import json, sys
from eventstreamd_spark.session import get_spark
spark = get_spark("collector-probe", cpus=1, streaming_daemon=sys.argv[1] == "1")
jvm = spark._jvm.java.lang
beans = jvm.management.ManagementFactory.getGarbageCollectorMXBeans()
print(json.dumps([bean.getName() for bean in beans]))
print(json.dumps({k: jvm.System.getProperty(k) for k in sys.argv[2:]}))
spark.stop()
"""


def probe(streaming_daemon: bool, properties: tuple[str, ...] = (), **env: str):
    """The sorted collector names, and the named system properties, of
    a session built in a fresh process (and so a fresh JVM) whose JVM
    option variables are exactly ``env``."""
    base = {k: v for k, v in os.environ.items() if k not in _JAVA_ENV_OPTIONS}
    out = subprocess.run(
        [sys.executable, "-c", _COLLECTORS, str(int(streaming_daemon)), *properties],
        cwd=REPO, env=dict(base, **env), capture_output=True, text=True,
        timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    names, props = out.stdout.splitlines()[-2:]
    return sorted(json.loads(names)), json.loads(props)


def collectors(streaming_daemon: bool, **env: str) -> list[str]:
    return probe(streaming_daemon, **env)[0]


def test_driver_heap_is_half_the_usable_memory() -> None:
    assert driver_memory(16 * GIB, None) == "8192m"
    assert driver_memory(16 * GIB, "max\n") == "8192m"
    # a cgroup limit below physical memory is the usable memory
    assert driver_memory(16 * GIB, f"{4 * GIB}\n") == "2048m"
    assert driver_memory(4 * GIB, f"{16 * GIB}\n") == "2048m"
    assert driver_memory(512 * GIB, None) == f"{MAX_DRIVER_MB}m" == "49152m"


def test_default_driver_heap_fits_this_host() -> None:
    physical, cgroup_max = _host_memory()
    heap_mb = int(driver_memory(physical, cgroup_max).removesuffix("m"))
    assert 0 < heap_mb * 2**20 <= physical // 2


def test_streaming_daemon_runs_the_serial_collector() -> None:
    assert collectors(True) == ["Copy", "MarkSweepCompact"]


def test_batch_session_keeps_g1() -> None:
    names = collectors(False)
    assert {"G1 Young Generation", "G1 Old Generation"} <= set(names), names


def test_collector_from_the_environment_wins() -> None:
    names = collectors(True, JAVA_TOOL_OPTIONS="-XX:+UseParallelGC")
    assert names == ["PS MarkSweep", "PS Scavenge"]


def test_daemon_collector_guard() -> None:
    assert _daemon_collector({}) == ["-XX:+UseSerialGC"]
    assert _daemon_collector({"JAVA_TOOL_OPTIONS": "-Xss4m"}) == ["-XX:+UseSerialGC"]
    for var in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS", "_JAVA_OPTIONS"):
        for flag in ("-XX:+UseG1GC", "-XX:+UseZGC", "-XX:+UseSerialGC"):
            assert _daemon_collector({var: f"-Xss4m {flag}"}) == []


def test_deployment_driver_java_options_are_kept(tmp_path) -> None:
    """A deployment's ``spark.driver.extraJavaOptions`` in
    ``SPARK_CONF_DIR/spark-defaults.conf`` reaches the JVM beside the
    session's own options, and a collector named there is the daemon's
    (no serial collector is added, which would stop the JVM)."""
    (tmp_path / "spark-defaults.conf").write_text(
        "# deployment settings\n"
        "spark.driver.extraJavaOptions  -Dfoo.bar=x -XX:+UseParallelGC\n"
    )
    names, props = probe(
        True, ("foo.bar", "derby.system.home"), SPARK_CONF_DIR=str(tmp_path)
    )
    assert props == {"foo.bar": "x", "derby.system.home": "/tmp/eventstreamd_spark_derby"}
    assert names == ["PS MarkSweep", "PS Scavenge"]


def test_spark_defaults_parse(tmp_path) -> None:
    (tmp_path / "spark-defaults.conf").write_text(
        "# comment\n"
        "! comment\n"
        "\n"
        "spark.a  one two \n"
        "  spark.b=2\n"
        "spark.c : three\n"
        "spark.d  -Da=1 -Db=2\n"
        "spark.e\n"
    )
    assert _spark_defaults({"SPARK_CONF_DIR": str(tmp_path)}) == {
        "spark.a": "one two",
        "spark.b": "2",
        "spark.c": "three",
        "spark.d": "-Da=1 -Db=2",
        "spark.e": "",
    }
    assert _spark_defaults({"SPARK_CONF_DIR": str(tmp_path / "none")}) == {}
    deployment = {"spark.driver.defaultJavaOptions": "-XX:+UseZGC"}
    assert _daemon_collector({}, deployment) == []


def test_fan_out_leaves_a_streaming_frame_alone(spark) -> None:
    stream = spark.readStream.format("rate").load()
    assert fan_out(stream) is stream


def test_fan_out_raises_what_a_batch_frame_raises(spark, monkeypatch) -> None:
    df = spark.range(4).coalesce(1)

    def broken(self):
        raise RuntimeError("rdd unavailable")

    monkeypatch.setattr(type(df), "rdd", property(broken))
    with pytest.raises(RuntimeError, match="rdd unavailable"):
        fan_out(df)
