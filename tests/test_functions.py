"""Unit tests for the scalar function surface, mirroring the reference's
pure-function tests (hbase_test.clj:40-54, core_test.clj:126-131)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from hbase_packet_inspector_spark.functions import (
    camel_to_kebab,
    fmt_bytes,
    parse_region_name,
    sub_ts_ms,
    to_string_binary,
)
from hbase_packet_inspector_spark.functions.scalar import (
    _parse_region_name_py,
    _to_string_binary_py,
)


def test_to_string_binary_escapes():
    # spec: hbase_test.clj:40-43 — printable kept, rest \xNN
    assert _to_string_binary_py(b"hello") == "hello"
    assert _to_string_binary_py(b"\x00\x01") == "\\x00\\x01"
    assert _to_string_binary_py(b"a\tb") == "a\\x09b"
    assert _to_string_binary_py(b"\xff") == "\\xFF"
    assert _to_string_binary_py(None) is None
    assert _to_string_binary_py(b" ~") == " ~"  # boundary printables
    assert _to_string_binary_py(b"\x7f") == "\\x7F"  # DEL not printable


def test_parse_region_name():
    # spec: hbase_test.clj:45-49 — table,startkey,ts.<md5hex>.
    name = b"TestTable,row100,1502089614544." + b"a" * 32 + b"."
    table, region = _parse_region_name_py(name)
    assert table == "TestTable"
    assert region == "a" * 32
    # old-format name without encoded suffix falls back to string-binary
    t2, r2 = _parse_region_name_py(b"T,k,123")
    assert t2 == "T" and r2 == "T,k,123"


def test_camel_to_kebab(spark):
    # spec: hbase_test.clj:51-54
    rows = spark.createDataFrame(
        [("GetOnlineRegions",), ("Get",), ("CheckAndPut",), ("Multi",)], ["s"]
    ).select(camel_to_kebab("s").alias("k")).collect()
    assert [r.k for r in rows] == ["get-online-regions", "get", "check-and-put", "multi"]


def test_sub_ts_and_fmt_bytes(spark):
    df = spark.createDataFrame(
        [Row(a="2024-01-01 00:00:01.500", b="2024-01-01 00:00:00.000", n=512),
         Row(a="2024-01-01 00:00:02.000", b="2024-01-01 00:00:00.000", n=2048)]
    ).select(
        sub_ts_ms(F.col("a").cast("timestamp"), F.col("b").cast("timestamp")).alias("d"),
        fmt_bytes("n").alias("h"),
    ).collect()
    assert [r.d for r in df] == [1500, 2000]
    assert df[0].h == "512 B" and df[1].h == "2.0 KiB"


def test_udfs_registered(spark):
    df = spark.createDataFrame([(b"k\x00y",)], "data binary").select(
        to_string_binary("data").alias("s"),
        parse_region_name("data").alias("tr"),
    )
    r = df.collect()[0]
    assert r.s == "k\\x00y"
    assert r.tr.table == "k\\x00y"


def test_package_import_emits_no_user_warning():
    """Both UDFs name their eval type, so PySpark does not try to infer
    one from the type hints and warn on every import of the package."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-W", "error::UserWarning", "-c",
         "import hbase_packet_inspector_spark.engine, "
         "hbase_packet_inspector_spark.plans"],
        cwd=root, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
