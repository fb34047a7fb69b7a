"""bench.py's per-query counters: a traced bench session (its own JVM,
event log on, UI off) times a few queries at sf0.001, and after it stops
every query gets the nine counters from the event log."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ["tile_manifest", "tile_counts", "clip_ring"]
COUNTERS = {"jobs", "tasks", "task_s", "gc_s", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "python_sent_bytes",
            "python_recv_bytes"}

SCRIPT = f"""
import json, sys
import bench
log_dir = sys.argv[1]
spark, tracer = bench.traced_session(2, log_dir)
try:
    ui = spark.sparkContext.getConf().get("spark.ui.enabled")
    times, _ = bench.run_queries(spark, "/root/testdata/sf0.001", tracer,
                                 names={NAMES!r})
finally:
    spark.stop()
print(json.dumps({{"ui": ui, "times": times,
                  "counters": bench.query_counters(tracer, log_dir)}}))
"""


def test_bench_queries_carry_event_log_counters(tmp_path):
    log_dir = str(tmp_path / "eventlog")
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, log_dir], cwd=REPO, capture_output=True,
        text=True, timeout=600, env={**os.environ, "SPARK_DRIVER_MEM": "1g"})
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["ui"] == "false"
    assert set(res["times"]) == set(NAMES)
    counters = res["counters"]
    assert set(counters) == set(NAMES)
    for name in NAMES:
        assert set(counters[name]) == COUNTERS, name
    assert counters["tile_manifest"]["jobs"] >= 1
    assert counters["tile_manifest"]["shuffle_write_bytes"] > 0
    # clip_ring's ring test runs in mapInPandas: Arrow bytes cross to Python
    assert counters["clip_ring"]["python_sent_bytes"] > 0
    assert os.listdir(log_dir)  # the log stays on disk for drill-down
