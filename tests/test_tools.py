"""The measurement tooling: tools/isolate.py's per-scale ledger lines and
bench.py's one release sweep."""

import os
import re
import subprocess
import sys

from bench import release
from hbase_packet_inspector_spark import plans

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def test_isolate_prints_a_ledger_line_per_scale():
    r = subprocess.run(
        [sys.executable, "tools/isolate.py", "asof_correlate",
         "--sf", *SF, "--repeats", "1"],
        cwd=ROOT, timeout=900, capture_output=True, text=True,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [ln for ln in r.stdout.splitlines()
             if ln.startswith("asof_correlate @ ")]
    assert [ln.split()[2].rstrip(":") for ln in lines] == list(SF)
    for ln in lines:
        assert re.search(r"noop-min \d+\.\d+s", ln)
        for field in ("run_ms", "cpu_ms", "shuffle_write_bytes",
                      "spill_bytes", "max_task_share"):
            assert f" {field} " in ln
        assert int(re.search(r" tasks (\d+) ", ln).group(1)) > 0


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_release_leaves_no_persistent_rdd(spark):
    """host_pagerank local-checkpoints its round frames; after the query
    is collected, the one sweep releases every persistent RDD."""
    rows = plans.QUERIES["host_pagerank"].fn(
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    assert _persistent_rdds(spark) > 0
    assert release(spark) > 0
    assert _persistent_rdds(spark) == 0


def test_capture_rows_survive_release_sweep(spark):
    """With no capture memo, each call of a capture query derives the
    capture afresh, so a sweep between calls cannot leave it reading
    released checkpoint blocks."""
    q = plans.QUERIES["hbase_pcap_decode"].fn
    before = sorted(q(spark, SF[0]).collect())
    release(spark)
    assert sorted(q(spark, SF[0]).collect()) == before
    assert before
