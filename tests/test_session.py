"""The driver JVM ``get_spark`` launches carries the fixed JIT option, and a
caller's own ``spark.driver.extraJavaOptions`` is kept after it.  JVM
options apply only at launch and the test session's JVM is already up, so
the probe runs in its own process."""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]

_RUN = """
import json
from velib_lakehouse_spark.session import get_spark

spark = get_spark(
    cpus=1, extra_confs={"spark.driver.extraJavaOptions": "-Dvelib.probe=1"}
)
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(mx.getInputArguments())))
spark.stop()
"""


def test_driver_jvm_gets_jit_option_and_caller_options():
    out = subprocess.run(
        [sys.executable, "-c", _RUN],
        cwd=ROOT,
        check=True,
        capture_output=True,
        text=True,
        timeout=300,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    assert "-XX:CompileThresholdScaling=5" in args
    assert "-Dvelib.probe=1" in args
    assert args.index("-XX:CompileThresholdScaling=5") < args.index("-Dvelib.probe=1")
