"""Materialize a deterministic committed WARC crawl fixture + its parsed
snapshot.

Builds ``tests/fixtures/warc_capture/sample.warc.gz`` (a small synthetic
crawl: warcinfo + HTTP request/response pairs over a handful of hosts,
text pages whose bodies derive from md5 of the page index, one PPM image
and one WAV audio response) and parses it back through the library's own
``parse_warc_bytes``, writing the record-level snapshot
``records.parquet`` via pyarrow (single stable file, sorted by record id).

The committed pair gives the ``warc_source_stats`` query a DuckDB oracle:
the driver hash-checks the Spark WARC DataSource's scan + HTTP-envelope
split against an independent engine's aggregation of the pinned parse
output — a regression in the streaming parser, the record framing, or the
HTTP split shows up as an oracle mismatch.

Re-run after any intentional parser change:

    python tools/materialize_warc_fixture.py
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "warc_capture",
)


def _record(wtype: str, rid: str, uri: str | None, payload: bytes,
            ctype: str = "application/http; msgtype=response") -> bytes:
    head = [
        "WARC/1.0",
        f"WARC-Type: {wtype}",
        f"WARC-Record-ID: <urn:uuid:{rid}>",
        "WARC-Date: 2017-03-01T12:00:00Z",
    ]
    if uri:
        head.append(f"WARC-Target-URI: {uri}")
    head += [f"Content-Type: {ctype}", f"Content-Length: {len(payload)}"]
    return ("\r\n".join(head) + "\r\n\r\n").encode() + payload + b"\r\n\r\n"


def _words(seed: str, n: int) -> str:
    out = []
    i = 0
    while len(out) < n:
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        out.extend(h[j:j + 5] for j in range(0, 30, 5))
        i += 1
    return " ".join(out[:n])


def build_archive() -> bytes:
    recs = [_record("warcinfo", "info0", None, b"robots: classic\r\n",
                    ctype="application/warc-fields")]
    for i in range(30):
        uri = f"http://site{i % 5}.com/p/{i}"
        status = 404 if i % 7 == 0 else 200
        body = (f"<html><body>{_words(f'page{i}', 20 + i % 11)}"
                f"</body></html>").encode()
        recs.append(_record(
            "response", f"resp{i}", uri,
            (f"HTTP/1.1 {status} X\r\nContent-Type: text/html\r\n\r\n"
             ).encode() + body,
        ))
        if i % 6 == 0:
            recs.append(_record(
                "request", f"req{i}", uri,
                f"GET /p/{i} HTTP/1.1\r\nHost: site{i % 5}.com\r\n\r\n"
                .encode(),
                ctype="application/http; msgtype=request",
            ))
    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    recs.append(_record(
        "response", "img0", "http://site0.com/logo.ppm",
        b"HTTP/1.1 200 OK\r\nContent-Type: image/x-portable-pixmap\r\n\r\n"
        + ppm,
    ))
    wav = (b"RIFF\x28\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00\x01\x00"
           b"\x40\x1f\x00\x00\x80\x3e\x00\x00\x02\x00\x10\x00data"
           b"\x04\x00\x00\x00\x10\x00\xf0\xff")
    recs.append(_record(
        "response", "aud0", "http://site1.com/jingle.wav",
        b"HTTP/1.1 200 OK\r\nContent-Type: audio/wav\r\n\r\n" + wav,
    ))
    return b"".join(recs)


def _crosscheck(rows: list[dict]) -> None:
    """Hand-computed expectations asserted at materialization time.

    The committed snapshot is a REGRESSION PIN produced by the same
    parser the queries exercise — circular for absolute correctness.
    This function breaks the circle for a handful of records whose
    expected values are derived by literal arithmetic from the archive
    SPEC above (never from parser output): a parser bug that mangles
    framing, lengths, status codes, or body text fails materialization
    instead of getting silently pinned.
    """
    # 1 warcinfo + 30 pages + 5 requests (i % 6 == 0) + 2 media
    assert len(rows) == 38, f"record count {len(rows)} != 38"
    by_type: dict[str, int] = {}
    for r in rows:
        by_type[r["warc_type"]] = by_type.get(r["warc_type"], 0) + 1
    assert by_type == {"warcinfo": 1, "response": 32, "request": 5}, by_type
    # pages i % 7 == 0 (i = 0,7,14,21,28) are 404; media are 200
    n404 = sum(1 for r in rows if r["http_status"] == 404)
    n200 = sum(1 for r in rows if r["http_status"] == 200)
    assert (n404, n200) == (5, 27), (n404, n200)
    by_id = {r["record_id"]: r for r in rows}
    # img0: 58-byte HTTP head ("HTTP/1.1 200 OK\r\n" = 17, "Content-"
    # "Type: image/x-portable-pixmap\r\n" = 39, blank "\r\n" = 2) +
    # 11-byte PPM head ("P6\n2 2\n255\n") + 12 raster bytes = 81
    img = by_id["<urn:uuid:img0>"]
    assert img["content_length"] == 58 + 11 + 12, img["content_length"]
    # page 1: body = "<html><body>" + 21 five-char words + 20 spaces +
    # "</body></html>" = 12 + 105 + 20 + 14 = 151 chars; 200 status
    p1 = by_id["<urn:uuid:resp1>"]
    assert p1["http_status"] == 200
    assert len(p1["text"]) == 12 + 21 * 5 + 20 + 14, len(p1["text"])
    # and the first word of page 1's body is md5("page1:0")[:5]
    first = hashlib.md5(b"page1:0").hexdigest()[:5]
    assert p1["text"][12:17] == first, p1["text"][:20]


def main() -> None:
    import pandas as pd

    from hbase_packet_inspector_spark.sources.warc import parse_warc_bytes

    os.makedirs(FIXTURE_DIR, exist_ok=True)
    raw = build_archive()
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(raw)
    path = os.path.join(FIXTURE_DIR, "sample.warc.gz")
    with open(path, "wb") as f:
        f.write(buf.getvalue())

    parsed = list(parse_warc_bytes(path, raw))
    _crosscheck(parsed)
    rows = [
        {
            "record_id": r["record_id"],
            "warc_type": r["warc_type"],
            "target_uri": r["target_uri"],
            "content_length": r["content_length"],
            "http_status": r["http_status"],
            "n_text_chars": len(r["text"]) if r["text"] is not None else None,
        }
        for r in parsed
    ]
    df = pd.DataFrame(rows).sort_values("record_id").reset_index(drop=True)
    df.to_parquet(os.path.join(FIXTURE_DIR, "records.parquet"), index=False)

    # documents-bridge snapshot: the same engine pipeline the
    # warc_crawl_curation query runs (scan -> warc_to_documents), pinned
    # at the per-doc feature level so DuckDB can replay the rollup
    from pyspark.sql import functions as F

    from hbase_packet_inspector_spark.operators.text import (
        STOPWORDS, _tok,
    )
    from hbase_packet_inspector_spark.session import get_spark
    from hbase_packet_inspector_spark.sources import warc as W
    from hbase_packet_inspector_spark.sources.warc import warc_to_documents

    spark = get_spark("warc-fixture")
    spark.sparkContext.setLogLevel("ERROR")
    W.register(spark)
    docs = warc_to_documents(
        spark.read.format("warc").load(path)
    ).select(
        "doc_id", "source", "n_chars",
        F.size(_tok("text")).alias("n_words"),
        F.size(F.filter(_tok("text"), lambda x: x.isin(*STOPWORDS)))
        .alias("n_stop"),
    )
    ddf = docs.toPandas().sort_values("doc_id").reset_index(drop=True)
    ddf.to_parquet(os.path.join(FIXTURE_DIR, "documents.parquet"),
                   index=False)

    # media-bridge snapshot: envelope-stripped body sizes + identities
    from hbase_packet_inspector_spark.sources.warc import warc_to_media

    media = warc_to_media(
        spark.read.format("warc").load(path)
    ).select(
        "media_id", "kind", "format",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("body_md5"),
    )
    mdf = media.toPandas().sort_values("media_id").reset_index(drop=True)
    mdf.to_parquet(os.path.join(FIXTURE_DIR, "media.parquet"), index=False)
    print(f"wrote {path} ({len(buf.getvalue())} bytes) + records.parquet "
          f"({len(df)} rows) + documents.parquet ({len(ddf)} rows)")


if __name__ == "__main__":
    main()
