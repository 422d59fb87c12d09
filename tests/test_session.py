"""session.build_session: settings that only take effect before the JVM
starts, checked in a fresh interpreter."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: more distinct plans than Spark's default generated-code cache holds
#: (100 entries); each inlines its own literal, so each compiles new code
OTHER_PLANS = 150

_RECOMPILE_PROBE = f"""
from pr2_transformation_spark.session import build_session, codegen_counters

spark = build_session("codegen-cache-test", master="local[1]",
                      shuffle_partitions=1, driver_memory="1g")
spark.range(3).selectExpr("id * 7919 AS y").collect()
for i in range({OTHER_PLANS}):
    spark.range(3).selectExpr(f"id + {{i}} AS x").collect()
before = codegen_counters(spark)[0]
spark.range(3).selectExpr("id * 7919 AS y").collect()
print("recompiled", codegen_counters(spark)[0] - before)
spark.stop()
"""


def test_codegen_cache_holds_the_working_set():
    """A plan run again after more than a default cache's worth of other
    plans compiles nothing: its generated classes are still cached."""
    out = subprocess.run(
        [sys.executable, "-c", _RECOMPILE_PROBE], cwd=ROOT,
        capture_output=True, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)})
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith("recompiled ")]
    assert lines == ["recompiled 0"], out.stdout[-2000:]
