"""bench.py must stay runnable: tiny-scale smoke via env overrides."""

import json
import os
import subprocess
import sys


def test_bench_smoke():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_MULT="1",
        SPARK_GRAFT_RUNS="1",
        SPARK_GRAFT_HEADLINE_ONLY="1",
        # the scaling pairs (4->16, 8->32 cores) are covered by
        # test_bench_scaling.py; a smoke run only checks bench.py runs
        SPARK_GRAFT_SCALING="0",
    )
    out = subprocess.run(
        [sys.executable, "bench.py"], env=env, capture_output=True, text=True,
        timeout=420, cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    d = json.loads(line)
    assert d["unit"] == "sec" and d["value"] > 0
    assert d["docs"] == 500 and d["cpus"] == 4
    assert "parse_extract" in d["queries"]
