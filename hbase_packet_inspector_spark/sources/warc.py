"""WARC source via the Spark 4 Python DataSource API:
``spark.read.format("warc").load(glob)``.

WARC (ISO 28500) is the web-archive record format Common Crawl publishes —
THE canonical raw input of an LLM training-data pipeline. This source turns
archive files into rows a curation pipeline consumes directly: WARC headers
parsed into typed columns, and for ``application/http`` response records
the HTTP envelope split off (status + best-effort UTF-8 body text), so the
quality/dedup/language operators run on ``text`` without a second pass.

Format handling (pure stdlib, no external deps):
- plain ``.warc`` and gzip ``.warc.gz`` — both the whole-file-gzip and the
  per-record-member layout Common Crawl uses (GzipFile iterates
  concatenated members transparently);
- header block terminated by a blank line, ``Content-Length`` bytes of
  payload, CRLF or LF line endings;
- malformed tails degrade to fewer records, never an exception (the pcap
  garbage-never-raises discipline).

Scale shape — planning-time listing makes one InputPartition per archive
file (WARC framing is sequential; the file is the split unit, exactly how
distributed Common Crawl jobs shard), so a 100k-file crawl dump fans out
across executors with per-file retry and speculation; rows stream lazily out of the parser — ``parse_warc_stream``
consumes the (gzip) stream incrementally, holding at most one record plus
one read chunk in memory, so a ~1 GB ``.warc.gz`` that inflates to ~5 GB
never materializes whole in a task.

Landing convention (the crawl drop directory): writers MUST land archives
by atomic rename from a dot- or underscore-prefixed temp name (the
Hadoop/Spark convention) — the reader skips hidden/underscore names and
non-files, so a half-copied ``_tmp.x`` is never parsed and then pinned in
the stream offset. For writers that cannot rename atomically, the
``min_age_seconds`` option defers a file until its mtime is at least that
old.

Reference parity note: the reference engine reads packet captures, not web
archives (pcap.clj); WARC is part of this repo's LLM-data-pipeline surface.
"""

from __future__ import annotations

import datetime
import glob as _glob
import gzip
import io
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WARC_SCHEMA = StructType([
    StructField("path", StringType()),
    StructField("record_id", StringType()),
    StructField("warc_type", StringType()),
    StructField("warc_date", TimestampType()),
    StructField("target_uri", StringType()),
    StructField("content_type", StringType()),
    StructField("content_length", LongType()),
    StructField("http_status", IntegerType()),
    StructField("text", StringType()),
    StructField("payload", BinaryType()),
])


_CHUNK = 1 << 20  # stream read granularity: 1 MiB
_MAX_HEADER = 1 << 20  # a header block larger than this is garbage → stop


def _read_blob(path: str) -> bytes:
    """Whole-archive decompress — test/debug helper ONLY. The source paths
    use :func:`_iter_records`, which never materializes the archive."""
    with open(path, "rb") as f:
        head = f.read(2)
        f.seek(0)
        if head == b"\x1f\x8b":
            # GzipFile walks ALL concatenated members — this is what makes
            # Common Crawl's record-per-member layout read as one stream
            with gzip.GzipFile(fileobj=io.BytesIO(f.read())) as gz:
                return gz.read()
        return f.read()


def _gzip_chunks(raw, chunk: int = _CHUNK):
    """Yield decompressed chunks across concatenated gzip members using
    zlib.decompressobj directly (not GzipFile: its read() raises EOFError
    on a truncated member and DISCARDS the plaintext it had already
    inflated in that call — a corrupt tail would eat up to a whole chunk
    of good records). Here every byte inflated before the corruption
    point is yielded; a bad tail just ends iteration. max_length bounds
    plaintext per step, so a hyper-compressed member can't balloon one
    call's memory."""
    import zlib

    d = zlib.decompressobj(31)  # 31 = gzip wrapper
    buf = b""  # compressed bytes awaiting decompression
    while True:
        if not buf:
            buf = raw.read(chunk)
            if not buf:
                return  # clean EOF, or truncated mid-member: stop quietly
        try:
            out = d.decompress(buf, chunk)
        except zlib.error:
            return  # corrupt member: keep everything already yielded
        buf = d.unconsumed_tail
        if out:
            yield out
        if d.eof:  # member boundary; unused_data starts the next member
            buf = d.unused_data
            d = zlib.decompressobj(31)


class _ChunkStream:
    """read(n) adapter over an iterator of byte chunks, for feeding
    parse_warc_stream from the incremental gzip inflater."""

    def __init__(self, chunks):
        self._chunks = chunks
        self._buf = bytearray()

    def read(self, n: int) -> bytes:
        while len(self._buf) < n:
            nxt = next(self._chunks, None)
            if nxt is None:
                break
            self._buf.extend(nxt)
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out


def _iter_records(path: str):
    """Stream records out of one archive file, sniffing gzip by magic.
    Decompression is incremental — compressed bytes are pulled only as
    the parser consumes plaintext — so peak task memory is one record
    plus one chunk, never the inflated archive."""
    with open(path, "rb") as f:
        if f.read(2) == b"\x1f\x8b":
            f.seek(0)
            yield from parse_warc_stream(path, _ChunkStream(_gzip_chunks(f)))
        else:
            f.seek(0)
            yield from parse_warc_stream(path, f)


def _parse_warc_date(s: str):
    try:
        return datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    except ValueError:
        return None


def _split_http(payload: bytes):
    """(status, body_text) for an HTTP response payload; (None, None) when
    the payload doesn't start with an HTTP status line."""
    if not payload.startswith(b"HTTP/"):
        return None, None
    sep = payload.find(b"\r\n\r\n")
    seplen = 4
    if sep < 0:
        sep = payload.find(b"\n\n")
        seplen = 2
    if sep < 0:
        return None, None
    head, body = payload[:sep], payload[sep + seplen:]
    try:
        status = int(head.split(None, 2)[1])
    except (IndexError, ValueError):
        status = None
    return status, body.decode("utf-8", errors="replace")


def parse_warc_stream(path: str, fp, chunk_size: int = _CHUNK):
    """Yield record dicts from a binary stream of decompressed WARC bytes,
    consuming it incrementally: read the header block, then exactly
    ``Content-Length`` payload bytes, yield, drop the consumed prefix.
    Peak memory is one record + one read chunk, never the archive.
    Tolerant: a truncated or malformed tail (including a corrupt gzip
    member upstream raising ``EOFError``/``OSError``) ends iteration
    instead of raising — the pcap garbage-never-raises discipline."""
    buf = bytearray()
    eof = False

    def _fill() -> bool:
        nonlocal eof
        if eof:
            return False
        try:
            chunk = fp.read(chunk_size)
        except (OSError, EOFError):  # corrupt/truncated gzip tail
            chunk = b""
        if not chunk:
            eof = True
            return False
        buf.extend(chunk)
        return True

    while True:
        # skip inter-record blank lines (refilling across chunk edges)
        while True:
            i = 0
            while i < len(buf) and buf[i] in (0x0D, 0x0A):
                i += 1
            del buf[:i]
            if buf or not _fill():
                break
        while len(buf) < 5 and _fill():
            pass
        if bytes(buf[:5]) != b"WARC/":
            return
        # header block terminator: CRLF-CRLF or bare LF-LF, whichever
        # comes first; grow the buffer until one appears
        while True:
            hdr_end = buf.find(b"\r\n\r\n")
            seplen = 4
            lf_end = buf.find(b"\n\n")
            if hdr_end < 0 or (0 <= lf_end < hdr_end):
                hdr_end, seplen = lf_end, 2
            if hdr_end >= 0:
                break
            if len(buf) > _MAX_HEADER or not _fill():
                return
        headers: dict[str, str] = {}
        for line in bytes(buf[:hdr_end]).decode(
                "utf-8", errors="replace").splitlines()[1:]:
            k, _, v = line.partition(":")
            if _:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            return
        body_start = hdr_end + seplen
        while len(buf) < body_start + length:
            if not _fill():
                return  # truncated record: stop, don't guess
        payload = bytes(buf[body_start:body_start + length])
        del buf[:body_start + length]
        status, text = _split_http(payload)
        yield {
            "path": path,
            "record_id": headers.get("warc-record-id"),
            "warc_type": headers.get("warc-type"),
            "warc_date": _parse_warc_date(headers.get("warc-date", "")),
            "target_uri": headers.get("warc-target-uri"),
            "content_type": headers.get("content-type"),
            "content_length": length,
            "http_status": status,
            "text": text,
            "payload": payload,
        }


def parse_warc_bytes(path: str, blob: bytes):
    """Bytes-in convenience wrapper over :func:`parse_warc_stream` (tests
    and in-memory callers); the source itself streams from the file."""
    yield from parse_warc_stream(path, io.BytesIO(blob))


def warc_to_documents(warc, *, extract_html: bool = False):
    """HTTP response records -> the documents-table shape every curation
    operator consumes (doc_id, text, n_chars, source): deterministic
    doc_id (xxhash64 of the WARC record id — stable across re-reads and
    engines that agree on xxhash64), body text as extracted by the
    source, and source = the target URI's host (the natural per-domain
    rollup key for quality/mixture/dedup reports). Pure column
    expressions — chains straight into quality_features, lang_id,
    dedup, DSIR without another Python pass.

    ``extract_html=True`` additionally runs
    :func:`~..operators.web.html_to_text` on the body — the posture a
    real crawl pipeline wants (curation operators assume prose, not tag
    soup) — and carries its ``markup_frac`` column through. Default off
    so existing hash-pinned consumers are unchanged."""
    from pyspark.sql import functions as F

    docs = (
        warc.where(
            (F.col("warc_type") == "response") & F.col("text").isNotNull()
        )
        .select(
            F.xxhash64("record_id").alias("doc_id"),
            "text",
            F.coalesce(
                F.parse_url("target_uri", F.lit("HOST")), F.lit("")
            ).alias("source"),
        )
    )
    extra = []
    if extract_html:
        from ..operators.web import html_to_text

        docs = html_to_text(docs, html_col="text", out_col="text")
        extra = ["markup_frac"]
    return docs.select(
        "doc_id", "text", F.length("text").alias("n_chars"), "source",
        *extra,
    )


class WarcFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _landed(path: str, min_age: float, now: float) -> bool:
    """Admit only archives that have finished landing: skip hidden /
    underscore-prefixed names (in-flight temp files under the atomic-rename
    convention, plus _SUCCESS/.crc/checkpoint sidecars), skip
    subdirectories, and — when ``min_age_seconds`` is set — skip files
    whose mtime is younger than the grace interval (for writers that
    cannot rename atomically). A skipped file is simply not listed, so the
    stream offset never pins a half-copied archive."""
    if os.path.basename(path).startswith((".", "_")):
        return False
    if not os.path.isfile(path):
        return False
    if min_age > 0:
        try:
            if now - os.path.getmtime(path) < min_age:
                return False
        except OSError:  # vanished between listing and stat
            return False
    return True


def _list_archives(spec: str, min_age: float) -> list[str]:
    """Expand a dir / glob / literal path to landed archive files. A
    literal path is returned as-is when it exists (explicit user intent
    overrides the hidden-name convention) and [] when it does not —
    batch raises on empty, streaming just waits."""
    import time

    now = time.time()
    if os.path.isdir(spec):
        cands = (os.path.join(spec, f) for f in os.listdir(spec))
    elif any(c in spec for c in "*?["):
        cands = iter(_glob.glob(spec))
    else:
        return [spec] if os.path.isfile(spec) else []
    return sorted(p for p in cands if _landed(p, min_age, now))


class WarcDataSourceReader(DataSourceReader):
    def __init__(self, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("warc source requires a path")
        self._min_age = float(options.get("min_age_seconds", 0))

    def partitions(self):
        paths = _list_archives(self._path, self._min_age)
        if not paths:
            raise FileNotFoundError(self._path)
        return [WarcFilePartition(p) for p in paths]

    def read(self, partition: WarcFilePartition):
        for rec in _iter_records(partition.path):
            yield _record_tuple(rec)


def _record_tuple(rec: dict):
    return (
        rec["path"], rec["record_id"], rec["warc_type"], rec["warc_date"],
        rec["target_uri"], rec["content_type"], rec["content_length"],
        rec["http_status"], rec["text"], rec["payload"],
    )


class WarcStreamReader(SimpleDataSourceStreamReader):
    """Streaming half: ``spark.readStream.format("warc").load(dir)`` turns
    a crawl drop directory into a firehose — each micro-batch is the set
    of archive files that appeared since the last trigger, which is
    exactly the cadence crawls are delivered at (a dump lands, the gate
    runs). Compose with warc_to_documents + the streaming ingest gate for
    the end-to-end 'crawl in, curated docs out' loop.

    Offsets are the sorted list of file names already consumed, so
    readBetweenOffsets can replay any committed batch exactly (the
    checkpoint contract) and files may arrive in ANY order — no
    mtime/lexicographic assumptions. The simple-reader API reads on the
    driver; at crawl-dump rates (files per minute, parsed once) that is
    the right trade — a partition-parallel streamReader is the upgrade
    path if a batch must fan out, same parser either way."""

    def __init__(self, options: dict):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("warc source requires a path")
        self._min_age = float(options.get("min_age_seconds", 0))

    def _list(self) -> list[str]:
        return _list_archives(self._path, self._min_age)

    def initialOffset(self) -> dict:
        return {"seen": []}

    def read(self, start: dict):
        seen = set(start["seen"])
        new = [p for p in self._list() if p not in seen]
        end = {"seen": sorted(seen | set(new))}
        # a LIST iterator, not a generator: the runtime copy.copy()s the
        # prefetched iterator (replayable batches) and next()s it for the
        # empty-batch check — built-in list iterators support both,
        # generators neither
        return iter(self._rows(new)), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(
            sorted(set(end["seen"]) - set(start["seen"]))
        ))

    def _rows(self, paths: list[str]) -> list:
        return [
            _record_tuple(rec)
            for p in paths
            for rec in _iter_records(p)
        ]

    def commit(self, end: dict) -> None:
        pass  # files are immutable once landed; nothing to release


class WarcDataSource(DataSource):
    """``spark.dataSource.register(WarcDataSource)`` then
    ``spark.read.format("warc").load("crawl/*.warc.gz")`` or
    ``spark.readStream.format("warc").load("crawl/")``."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        return WARC_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return WarcDataSourceReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return WarcStreamReader(self.options)


def register(spark) -> None:
    # Python workers re-import this module by name; ship the package so
    # registration works from any working directory
    from ..session import _ship_package

    _ship_package(spark)
    spark.dataSource.register(WarcDataSource)


WARC_MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("format", StringType()),
    StructField("target_uri", StringType()),
    StructField("payload", BinaryType()),
])


def warc_to_media(warc, kinds=("image", "audio", "video")):
    """HTTP response records whose HTTP Content-Type is a media type ->
    the media-table shape the multimodal operators consume: (media_id,
    kind, format, target_uri, payload = HTTP BODY bytes). The envelope
    split and HTTP header read are imperative byte work, so they run in
    ONE Arrow-batched mapInPandas pass — the multimodal edge-adapter
    discipline (payloads never leave executors; per-row tolerance: rows
    without an HTTP envelope or a media content type drop here — the
    text path is warc_to_documents). media_id = xxhash64 of the WARC
    record id, computed JVM-side, so ids agree with warc_to_documents'
    doc_id for the same record. Chains straight into decode_ppm /
    ahash_ppm / trim_silence / extract_features."""
    import pandas as pd

    from pyspark.sql import functions as F

    base = (
        warc.where(
            (F.col("warc_type") == "response")
            & F.col("payload").isNotNull()
        )
        .select(
            F.xxhash64("record_id").alias("media_id"),
            "target_uri",
            "payload",
        )
    )
    cols = [f.name for f in WARC_MEDIA_SCHEMA]

    def _split(batch_iter):
        for pdf in batch_iter:
            rows = []
            for r in pdf.itertuples():
                data = bytes(r.payload)
                if not data.startswith(b"HTTP/"):
                    continue
                sep, seplen = data.find(b"\r\n\r\n"), 4
                if sep < 0:
                    sep, seplen = data.find(b"\n\n"), 2
                if sep < 0:
                    continue
                head = data[:sep].decode("latin-1", "replace")
                ctype = None
                for line in head.splitlines()[1:]:
                    k, _, v = line.partition(":")
                    if k.strip().lower() == "content-type":
                        ctype = v.strip().lower()
                        break
                if not ctype:
                    continue
                kind, _, fmt = ctype.partition("/")
                if kind not in kinds:
                    continue
                rows.append({
                    "media_id": r.media_id,
                    "kind": kind,
                    "format": fmt.split(";")[0].strip(),
                    "target_uri": r.target_uri,
                    "payload": data[sep + seplen:],
                })
            yield pd.DataFrame(rows, columns=cols)

    return base.mapInPandas(_split, WARC_MEDIA_SCHEMA)


def warc_to_robots(warc):
    """robots.txt responses in a crawl archive -> the (host, robots_txt)
    frame :func:`~..operators.web.parse_robots` consumes — Common Crawl
    ships each host's robots.txt as an ordinary WARC response record, so
    the compliance rules for the next crawl cycle come out of the SAME
    archives the pages do: scan once, gate forever.

    Selection is by target path (``/robots.txt``, query/fragment
    tolerated) on 200-status responses with a text body; duplicate
    fetches of one host's robots keep the lexicographically-first record
    id (deterministic re-crawl-stable argmin, the url_dedup rule).
    Pure column expressions over the scanned frame — chains into
    parse_robots -> robots_gate without another pass."""
    from pyspark.sql import functions as F

    from ..operators.web import url_host

    cand = (
        warc.where(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
            & F.col("text").isNotNull()
            & F.col("target_uri").rlike("^[^?#]*://[^/?#]+/robots\\.txt([?#].*)?$")
        )
        .select(
            url_host(F.col("target_uri")).alias("host"),
            F.col("text").alias("robots_txt"),
            "record_id",
        )
        .where(F.col("host") != "")
    )
    return (
        cand.groupBy("host")
        .agg(F.min(F.struct("record_id", "robots_txt")).alias("_r"))
        .select("host", F.col("_r.robots_txt").alias("robots_txt"))
    )
