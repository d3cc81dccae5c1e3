"""End-to-end conformance on the committed HBase RPC captures
(tests/fixtures/hbase_pcap, written by tools/make_hbase_fixture.py from the
reference's `hbase pe` fixture workloads): the full pcap -> framing +
protobuf decode -> correlate -> tables pipeline must reproduce the
invariants the reference asserts in
test/hbase_packet_inspector/core_test.clj:248-377, and the four tables must
equal the generator's model of them."""

import importlib.util
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from hbase_packet_inspector_spark.engine import Engine
from perfbench import checks

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXDIR = os.path.join(ROOT, "tests", "fixtures", "hbase_pcap")
GENERATOR = os.path.join(ROOT, "tools", "make_hbase_fixture.py")
TEST_TABLE = "TestTable"
RECORD_COUNT = 100
RECORD_SIZE = 1000
BATCH_GET = 20
CACHING = 20


def tables(spark, name):
    eng = Engine(spark).load_pcap(os.path.join(FIXDIR, f"{name}.pcap"))
    return eng.register_tables().tables


def _generator():
    spec = importlib.util.spec_from_file_location("make_hbase_fixture", GENERATOR)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sequential_write(spark):
    # core_test.clj:270-282
    t = tables(spark, "sequentialWrite")
    multi = t["requests"].where(
        (F.col("method") == "multi") & (F.col("table") == TEST_TABLE)
    ).collect()
    assert len(multi) == 1
    m = multi[0]
    assert m.batch == RECORD_COUNT
    assert m.size > RECORD_SIZE * RECORD_COUNT
    assert m.cells == RECORD_COUNT
    acts = t["actions"].where(F.col("call_id") == m.call_id).collect()
    assert len(acts) == RECORD_COUNT
    assert all(a.method == "put" and a.cells == 1 for a in acts)


def test_random_read(spark):
    # core_test.clj:284-299
    t = tables(spark, "randomRead")
    multis = t["responses"].where(F.col("method") == "multi").collect()
    assert len(multis) == RECORD_COUNT // BATCH_GET
    for m in multis:
        assert m.batch == BATCH_GET and m.cells == BATCH_GET
        assert m.size > RECORD_SIZE * m.batch
    results = t["results"].collect()
    assert len(results) == RECORD_COUNT
    assert all(
        r.method == "get" and r.cells == 1 and r.row and r.region and r.table
        for r in results
    )


def test_scan(spark):
    # core_test.clj:301-312: next-rows responses inherit TestTable via
    # scanner state; 100/20 = 5 of them, each > 20 KB with 20 cells
    t = tables(spark, "scan")
    nexts = t["responses"].where(
        (F.col("method") == "next-rows") & (F.col("table") == TEST_TABLE)
    ).collect()
    assert len(nexts) == RECORD_COUNT // CACHING
    for r in nexts:
        assert r.size > RECORD_SIZE * CACHING
        assert r.cells == CACHING


def test_multi_message_packets(spark):
    # core_test.clj:314-316: deferredFlush coalesces messages per packet;
    # 2000 increment infos total (requests + responses)
    t = tables(spark, "deferredFlush")
    n = (
        t["requests"].where(F.col("method") == "increment").count()
        + t["responses"].where(F.col("method") == "increment").count()
    )
    assert n == 2000


def test_small_scan(spark):
    # core_test.clj:318-325: 200 cells total over table 't' small scans
    t = tables(spark, "smallScan")
    total = (
        t["responses"]
        .where((F.col("method") == "small-scan") & (F.col("table") == "t"))
        .agg(F.sum("cells"))
        .collect()[0][0]
    )
    assert total == 200


@pytest.mark.parametrize(
    "fixture,method",
    [
        ("increment", "increment"),
        ("append", "append"),
        ("checkAndPut", "check-and-put"),
        ("checkAndMutate", "check-and-put"),
        ("checkAndDelete", "check-and-delete"),
    ],
)
def test_cas_methods(spark, fixture, method):
    # core_test.clj:327-340: 100 requests and 100 responses per method
    t = tables(spark, fixture)
    assert t["requests"].where(F.col("method") == method).count() == RECORD_COUNT
    assert t["responses"].where(F.col("method") == method).count() == RECORD_COUNT


def test_unknown_response(spark):
    # hbase_test.clj:147-154: a response to no request is still a row,
    # method 'unknown', with nothing merged from a request
    t = tables(spark, "unknownResponse")
    (r,) = t["responses"].collect()
    assert r.method == "unknown" and r.elapsed is None
    assert r.table is None and r.region is None and r.row is None
    assert t["requests"].count() == 0


def test_ttl_expiry(spark):
    # core.clj:69-72, 285-296: a response later than the 120 s TTL finds
    # no request; the request row stays as it was
    t = tables(spark, "ttlExpiry")
    (q,) = t["requests"].collect()
    (r,) = t["responses"].collect()
    assert q.method == "get" and q.table is not None
    assert r.call_id == q.call_id
    assert r.method == "unknown" and r.elapsed is None and r.table is None
    assert (r.ts - q.ts).total_seconds() > 120


def test_register_tables_match_committed_model(spark, tmp_path):
    """All captures at once, on the default ports: the four tables equal
    the generator's model rows, every column."""
    eng = Engine(spark).load_pcap(os.path.join(FIXDIR, "*.pcap"))
    eng.register_tables()
    for table, df in eng.tables.items():
        df.write.parquet(str(tmp_path / table))
    got, want = checks.read_tables(str(tmp_path)), checks.read_tables(FIXDIR)
    assert all(want.values())
    assert checks.diff_tables(got, want) == []


def test_generator_reproduces_committed_fixture(tmp_path):
    """Rerunning the generator rewrites every capture byte for byte and
    the same model rows; the committed files stay under 1 MB."""
    _generator().write(str(tmp_path))
    names = sorted(n for n in os.listdir(FIXDIR) if n.endswith(".pcap"))
    assert names == sorted(n for n in os.listdir(tmp_path) if n.endswith(".pcap"))
    for n in names:
        with open(os.path.join(FIXDIR, n), "rb") as a, \
                open(tmp_path / n, "rb") as b:
            assert a.read() == b.read(), n
    assert checks.read_tables(str(tmp_path)) == checks.read_tables(FIXDIR)
    assert sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(FIXDIR) for f in fs) < 1_000_000


def test_generator_does_not_import_the_engine():
    """The oracle is the generator's model, so the generator must not
    reach the code it checks."""
    probe = (
        "import runpy, sys\n"
        f"runpy.run_path({GENERATOR!r}, run_name='probe')['build']()\n"
        "assert 'perfbench.traffic' in sys.modules\n"
        "bad = [m for m in sys.modules\n"
        "       if m.split('.')[0] == 'hbase_packet_inspector_spark']\n"
        "assert not bad, bad\n"
    )
    proc = subprocess.run([sys.executable, "-c", probe], cwd=ROOT,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
