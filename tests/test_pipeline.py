"""Workload-invariant tests for the batch pipeline, mirroring the reference's
end-to-end fixture assertions (test/hbase_packet_inspector/core_test.clj:248-377)."""

from pyspark.sql import functions as F

from hbase_packet_inspector_spark.operators import build_tables
import rpc_fixtures as fx


def tables(spark, rows):
    return build_tables(fx.to_df(spark, rows))


def test_sequential_write(spark):
    t = tables(spark, fx.sequential_write())
    req = t["requests"].collect()
    assert len(req) == 1
    r = req[0]
    assert r.method == "multi" and r.batch == 100 and r.size > 100 * 1000
    assert r.cells == 100  # rollup of 100 single-cell puts (D1)
    acts = t["actions"].collect()
    assert len(acts) == 100
    assert all(a.method == "put" and a.cells == 1 for a in acts)
    assert len({(a.client, a.port, a.call_id) for a in acts}) == 1
    res = t["responses"].collect()
    assert len(res) == 1 and res[0].method == "multi" and res[0].batch == 100
    assert res[0].elapsed == 35


def test_random_read(spark):
    t = tables(spark, fx.random_read())
    res = t["responses"].collect()
    assert len(res) == 5
    assert all(r.method == "multi" and r.batch == 20 and r.cells == 20 for r in res)
    assert all(r.size > 1000 * 20 for r in res)
    results = t["results"].collect()
    assert len(results) == 100
    # zip with request actions restores per-result method/table/region/row
    assert all(
        x.method == "get" and x.cells == 1 and x.table and x.region and x.row
        for x in results
    )


def test_scan_enrichment(spark):
    t = tables(spark, fx.scan())
    nr = [r for r in t["responses"].collect() if r.method == "next-rows"]
    assert len(nr) == 5
    # next-rows carry the table/region from the open-scanner request (B8)
    assert all(r.table == fx.TABLE and r.region == fx.REGION for r in nr)
    assert all(r.cells == 20 and r.size > 1000 * 20 for r in nr)
    nreq = [r for r in t["requests"].collect() if r.method == "next-rows"]
    assert all(r.table == fx.TABLE for r in nreq)


def test_increments_and_methods(spark):
    for method in ("increment", "append", "check-and-put", "check-and-delete"):
        t = tables(spark, fx.increments(100, method))
        req = t["requests"]
        res = t["responses"]
        assert req.where(F.col("method") == method).count() == 100
        assert res.where(F.col("method") == method).count() == 100


def test_deferred_flush_2000(spark):
    t = tables(spark, fx.increments(2000))
    n = (
        t["requests"].where(F.col("method") == "increment").count()
        + t["responses"].where(F.col("method") == "increment").count()
    )
    assert n == 4000  # 2000 requests + 2000 correlated responses


def test_small_scan_cells(spark):
    t = tables(spark, fx.small_scan())
    res = t["responses"].where(F.col("method") == "small-scan")
    total = res.agg(F.sum("cells")).collect()[0][0]
    assert total == 200
    assert all(r.table == "t" for r in res.collect())


def test_unknown_response(spark):
    t = tables(spark, fx.unknown_response())
    res = t["responses"].collect()
    assert len(res) == 1
    assert res[0].method == "unknown"
    assert res[0].elapsed is None and res[0].table is None


def test_ttl_expiry(spark):
    t = tables(spark, fx.ttl_expiry())
    res = t["responses"].collect()
    assert len(res) == 1
    assert res[0].method == "unknown" and res[0].elapsed is None


def test_call_id_reuse_as_of(spark):
    t = tables(spark, fx.call_id_reuse())
    res = sorted(t["responses"].collect(), key=lambda r: r.ts)
    assert [r.method for r in res] == ["get", "put"]
    assert res[0].elapsed == 10 and res[1].elapsed == 20
    assert res[0].row == "a" and res[1].row == "b"


def test_overwritten_request(spark):
    t = tables(spark, fx.overwritten_request())
    res = sorted(t["responses"].collect(), key=lambda r: r.ts)
    # first response matches the LATEST request (overwrite), second: unknown
    assert res[0].method == "put" and res[0].row == "b" and res[0].elapsed == 100
    assert res[1].method == "unknown" and res[1].elapsed is None


def test_singleton_promotion(spark):
    t = tables(spark, fx.single_action_multi())
    req = t["requests"].collect()[0]
    assert req.method == "put" and req.cells == 3 and req.row == "x"
    assert req.batch == 1
    assert t["actions"].count() == 0 and t["results"].count() == 0
    res = t["responses"].collect()[0]
    assert res.method == "put" and res.cells == 3
