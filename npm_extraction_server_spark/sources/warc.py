"""WARC / WET / WAT container formats: distributed write + read.

Common Crawl — the payload domain of BASELINE.json's north star — is
distributed as three container formats over the same crawl:

- **WARC** (ISO 28500): the raw capture. One ``response`` record per
  page: CRLF-framed named headers (``WARC-Target-URI``, ``WARC-Date``,
  ``Content-Length``), a blank line, then exactly ``Content-Length``
  payload bytes (an HTTP response: status line + headers + html body),
  then ``\\r\\n\\r\\n``.
- **WET**: ``conversion`` records whose payload is the extracted plain
  text (utf-8) — the column the north rule requires byte-identical
  per url.
- **WAT**: ``metadata`` records whose payload is a JSON envelope of
  per-page metadata, most importantly the outlink list.

In CC practice every record is its own gzip *member* and the file is
the member concatenation, so a reader can seek straight to a record
offset and inflate one record without touching the rest of the file;
this module writes exactly that layout (``compress=True``).

Reference parity: the reference ingests its corpus over couchdb HTTP
(reference ``lib/NpmCouchDb.js``) — WARC/WET/WAT is the equivalent
bulk-container ingestion path for the Common-Crawl-style page table
(``input_hint``: url, warc_ts, html, text, lang).

Scale notes (100 TB): a crawl ships as ~10^5 WARC files of ~1 GiB;
``spark.read.format("binaryFile")`` gives one task per file, so
parallelism is the file count and no shuffle exists anywhere in the
read or write path (pure map). Records never cross a partition
boundary (a WARC file is self-contained), so write is also map-only:
each input partition serializes its rows into one ``part-NNNNN`` file.
Parsing is Arrow-batched ``mapInPandas`` (the framing is byte-level
record splitting — genuinely outside DataFrame expressions); the
payload bytes stay in one Python worker hop exactly once, the same
budget as any binary decode. Whole-file inflation is bounded by the
writer's ``target_records_per_file``; with per-record gzip members a
production reader can further split one file across tasks by member
offsets (offsets are in the summary the writer returns).
"""

from __future__ import annotations

import gzip
import io
import json
import os
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CRLF = b"\r\n"
_WARC_VERSION = b"WARC/1.0"

# record kind -> (WARC-Type, Content-Type header)
_KINDS = {
    "response": ("response", "application/http; msgtype=response"),
    "conversion": ("conversion", "text/plain"),
    "metadata": ("metadata", "application/json"),
}

READ_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), True),
    T.StructField("warc_date", T.TimestampType(), True),
    T.StructField("warc_type", T.StringType(), False),
    T.StructField("http_status", T.IntegerType(), True),
    T.StructField("payload", T.BinaryType(), True),
])

_SUMMARY_SCHEMA = T.StructType([
    T.StructField("file", T.StringType(), False),
    T.StructField("n_records", T.LongType(), False),
    T.StructField("n_bytes", T.LongType(), False),
])


def _warc_date(ts) -> str:
    """ISO-8601 Zulu, second precision (the CC convention)."""
    if isinstance(ts, pd.Timestamp):
        ts = ts.to_pydatetime()
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return ts.astimezone(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _record_id(url: str, kind: str) -> str:
    import hashlib

    h = hashlib.sha256(f"{kind}:{url}".encode()).hexdigest()[:32]
    return f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"


def _frame_record(kind: str, url: str | None, date: str, payload: bytes) -> bytes:
    warc_type, ctype = _KINDS[kind]
    lines = [
        _WARC_VERSION,
        b"WARC-Type: " + warc_type.encode(),
        b"WARC-Date: " + date.encode(),
    ]
    if url is not None:
        lines.append(b"WARC-Record-ID: " + _record_id(url, kind).encode())
        lines.append(b"WARC-Target-URI: " + url.encode("utf-8"))
    lines.append(b"Content-Type: " + ctype.encode())
    lines.append(b"Content-Length: " + str(len(payload)).encode())
    return _CRLF.join(lines) + _CRLF + _CRLF + payload + _CRLF + _CRLF


def _http_wrap(html: bytes) -> bytes:
    """Minimal HTTP/1.1 response block around the body — what a WARC
    ``response`` payload actually is in a crawl."""
    head = (b"HTTP/1.1 200 OK" + _CRLF
            + b"Content-Type: text/html; charset=utf-8" + _CRLF
            + b"Content-Length: " + str(len(html)).encode() + _CRLF + _CRLF)
    return head + html


def _payload_bytes(kind: str, row) -> bytes:
    if kind == "response":
        html = row.html
        if isinstance(html, bytearray):
            html = bytes(html)
        return _http_wrap(html or b"")
    if kind == "conversion":
        return (row.text or "").encode("utf-8")
    return (row.payload or "").encode("utf-8")  # metadata: JSON string col


def write_warc(
    df: DataFrame,
    path: str,
    *,
    kind: str = "response",
    compress: bool = True,
) -> list:
    """Write ``df`` as WARC files under ``path``, one file per input
    partition (map-only — no shuffle; repartition upstream to choose
    the file count / size). Expected columns by ``kind``:

    - ``response``:   (url, warc_ts, html:binary)
    - ``conversion``: (url, warc_ts, text:string)   — WET
    - ``metadata``:   (url, warc_ts, payload:string) — WAT JSON

    With ``compress=True`` each record is an independent gzip member
    (CC layout — record-seekable); the file is their concatenation.
    Returns the small per-file summary list [(file, n_records,
    n_bytes)] — one row per non-empty partition."""
    if kind not in _KINDS:
        raise ValueError(f"unknown WARC kind {kind!r}; one of {sorted(_KINDS)}")
    os.makedirs(path, exist_ok=True)
    ext = ".warc.gz" if compress else ".warc"

    def _write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        fname = os.path.join(path, f"part-{pid:05d}{ext}")
        n = 0
        nbytes = 0
        out = None
        info_date = None
        for pdf in batches:
            if out is None:
                out = open(fname + ".tmp", "wb")
            for row in pdf.itertuples(index=False):
                date = _warc_date(row.warc_ts)
                if info_date is None:
                    # leading warcinfo record, as CC files carry
                    info = json.dumps({"software": "npm-extraction-server-spark",
                                       "format": "WARC File Format 1.0"})
                    rec = _frame_record("metadata", None, date, info.encode())
                    rec = _reframe_warcinfo(rec)
                    if compress:
                        rec = gzip.compress(rec, mtime=0)
                    out.write(rec)
                    nbytes += len(rec)
                    info_date = date
                rec = _frame_record(kind, row.url, date, _payload_bytes(kind, row))
                if compress:
                    rec = gzip.compress(rec, mtime=0)
                out.write(rec)
                n += 1
                nbytes += len(rec)
        if out is not None:
            out.close()
            os.replace(fname + ".tmp", fname)  # atomic publish
            yield pd.DataFrame([(fname, n, nbytes)],
                               columns=["file", "n_records", "n_bytes"])

    cols = {"response": ["url", "warc_ts", "html"],
            "conversion": ["url", "warc_ts", "text"],
            "metadata": ["url", "warc_ts", "payload"]}[kind]
    summary = df.select(*cols).mapInPandas(_write, schema=_SUMMARY_SCHEMA)
    return [r.asDict() for r in summary.collect()]


def _reframe_warcinfo(rec: bytes) -> bytes:
    return rec.replace(b"WARC-Type: metadata", b"WARC-Type: warcinfo", 1)


def _inflate(buf: bytes) -> bytes:
    """Whole-file inflate; handles the multi-member concatenation (the
    stdlib GzipFile loops members until EOF). Plain (uncompressed)
    files pass through on magic-byte sniff."""
    if buf[:2] == b"\x1f\x8b":
        with gzip.GzipFile(fileobj=io.BytesIO(buf)) as f:
            return f.read()
    return buf


class WarcFormatError(ValueError):
    pass


def parse_warc_bytes(buf: bytes):
    """Yield (headers: dict, payload: bytes) per record. Framing is
    driven strictly by Content-Length (never by scanning for blank
    lines), so payloads containing ``\\r\\n\\r\\n`` — every HTTP
    response does — parse correctly."""
    buf = _inflate(buf)
    pos = 0
    end = len(buf)
    while pos < end:
        # tolerate inter-record padding
        while pos < end and buf[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= end:
            return
        head_end = buf.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise WarcFormatError(f"unterminated header block at offset {pos}")
        head_lines = buf[pos:head_end].split(_CRLF)
        if not head_lines[0].startswith(b"WARC/"):
            raise WarcFormatError(
                f"bad version line {head_lines[0][:20]!r} at offset {pos}")
        headers = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("utf-8")
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise WarcFormatError(f"missing/bad Content-Length at offset {pos}")
        body_start = head_end + 4
        if body_start + clen > end:
            raise WarcFormatError(f"truncated payload at offset {body_start}")
        yield headers, buf[body_start:body_start + clen]
        pos = body_start + clen


def split_http_payload(payload: bytes):
    """(status:int|None, body) from an HTTP response payload."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0 or not payload.startswith(b"HTTP/"):
        return None, payload
    status_line = payload[: payload.find(_CRLF)]
    parts = status_line.split(b" ")
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        status = None
    return status, payload[sep + 4:]


def read_warc(
    spark: SparkSession,
    path: str,
    *,
    record_types: tuple = ("response",),
) -> DataFrame:
    """Read WARC/WET/WAT files under ``path`` into (url, warc_date,
    warc_type, http_status, payload). One task per file (binaryFile
    source); ``warcinfo`` records and types outside ``record_types``
    are skipped. For ``response`` records the HTTP header block is
    removed so ``payload`` is the raw html body and ``http_status``
    carries the status code."""
    wanted = set(record_types)
    files = (spark.read.format("binaryFile")
             .load(os.path.join(path, "part-*.warc*"))
             .select("content"))

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for buf in pdf["content"]:
                for headers, payload in parse_warc_bytes(bytes(buf)):
                    wtype = headers.get("warc-type", "")
                    if wtype == "warcinfo" or wtype not in wanted:
                        continue
                    status = None
                    if wtype == "response":
                        status, payload = split_http_payload(payload)
                    rows.append((
                        headers.get("warc-target-uri"),
                        datetime.strptime(headers["warc-date"],
                                          "%Y-%m-%dT%H:%M:%SZ"),
                        wtype,
                        status,
                        payload,
                    ))
            yield pd.DataFrame(
                rows, columns=[f.name for f in READ_SCHEMA.fields])

    return files.mapInPandas(_parse, schema=READ_SCHEMA)


# --------------------------------------------------------------------------
# WET / WAT derivation from the pages table


def wet_from_pages(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, text) projection — the WET (conversion) content.
    Pure column pruning; pair with ``write_warc(kind='conversion')``."""
    return pages.select("url", "warc_ts", "text")


def wat_from_pages(pages: DataFrame) -> DataFrame:
    """Per-page WAT metadata envelope, built entirely in-plan (JVM
    whole-stage codegen — to_json over a struct; the html bytes never
    enter Python): url, fetch date, and the outlink href list in the
    CC envelope shape. Returns (url, warc_ts, payload:string)."""
    from ..extract.links import _HREF_RE

    hrefs = F.regexp_extract_all(
        F.decode(F.col("html"), "UTF-8"), F.lit(_HREF_RE), F.lit(1))
    envelope = F.to_json(F.struct(
        F.struct(
            F.struct(
                F.col("url").alias("WARC-Target-URI"),
                F.date_format(
                    F.col("warc_ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
                ).alias("WARC-Date"),
            ).alias("WARC-Header-Metadata"),
            F.struct(
                F.struct(
                    F.struct(
                        F.transform(
                            hrefs, lambda u: F.struct(u.alias("url"))
                        ).alias("Links"),
                    ).alias("HTML-Metadata"),
                ).alias("HTTP-Response-Metadata"),
            ).alias("Payload-Metadata"),
        ).alias("Envelope"),
    ))
    return pages.select("url", "warc_ts", envelope.alias("payload"))


_WAT_SCHEMA = T.StructType([T.StructField("Envelope", T.StructType([
    T.StructField("WARC-Header-Metadata", T.StructType([
        T.StructField("WARC-Target-URI", T.StringType()),
        T.StructField("WARC-Date", T.StringType()),
    ])),
    T.StructField("Payload-Metadata", T.StructType([
        T.StructField("HTTP-Response-Metadata", T.StructType([
            T.StructField("HTML-Metadata", T.StructType([
                T.StructField("Links", T.ArrayType(T.StructType([
                    T.StructField("url", T.StringType()),
                ]))),
            ])),
        ])),
    ])),
]))])


def wat_outlinks(wat_records: DataFrame) -> DataFrame:
    """Explode a read-back WAT record stream into (url, dst_url) link
    rows — JSON decode + explode, all JVM-side (from_json)."""
    env = F.from_json(F.decode(F.col("payload"), "UTF-8"), _WAT_SCHEMA)
    links = env["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"][
        "HTML-Metadata"]["Links"]
    return (wat_records
            .select(
                env["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"]
                .alias("url"),
                F.explode(links).alias("link"))
            .select("url", F.col("link.url").alias("dst_url")))


# ---------------------------------------------------------------- CDX

CDX_SCHEMA = T.StructType([
    T.StructField("urlkey", T.StringType(), True),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("file", T.StringType(), False),
    T.StructField("offset", T.LongType(), False),
    T.StructField("length", T.LongType(), False),
    T.StructField("digest", T.StringType(), True),
])


def surt(url: str) -> str:
    """SURT canonical url key (the Common-Crawl CDX sort key): host
    labels reversed and comma-joined, then ')' + lowercased path
    (+ lowercased query). Scheme and default port are dropped —
    'http://Crawl.Example.org/A/b' -> 'org,example,crawl)/a/b'."""
    from urllib.parse import urlsplit

    p = urlsplit(url)
    host = (p.hostname or "").lower()
    key = ",".join(reversed(host.split("."))) + ")"
    key += (p.path or "/").lower()
    if p.query:
        key += "?" + p.query.lower()
    return key


def parse_warc_spans(buf: bytes):
    """Like parse_warc_bytes but over an UNCOMPRESSED buffer, yielding
    (start, end, headers, payload) with byte spans — the positional
    parse the CDX indexer needs. Framing strictly by Content-Length."""
    pos = 0
    end = len(buf)
    while pos < end:
        while pos < end and buf[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= end:
            return
        start = pos
        head_end = buf.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            raise WarcFormatError(f"unterminated header block at offset {pos}")
        head_lines = buf[pos:head_end].split(_CRLF)
        if not head_lines[0].startswith(b"WARC/"):
            raise WarcFormatError(
                f"bad version line {head_lines[0][:20]!r} at offset {pos}")
        headers = {}
        for line in head_lines[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("latin-1")] = \
                v.strip().decode("utf-8")
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise WarcFormatError(f"missing/bad Content-Length at offset {pos}")
        body_start = head_end + 4
        if body_start + clen > end:
            raise WarcFormatError(f"truncated payload at offset {body_start}")
        yield start, body_start + clen, headers, buf[body_start:body_start + clen]
        pos = body_start + clen


def build_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Build the CDX index of a WARC directory — the Common-Crawl
    index artifact that makes a petabyte of WARC random-accessible:
    one row per record with (urlkey=SURT, warc_ts, file, offset,
    length, digest=sha256 of the stored payload). ``offset``/
    ``length`` address the record's own gzip member in the CC
    record-seekable layout (plain .warc files get raw byte spans), so
    ``file[offset : offset+length]`` gunzips to exactly one record —
    pinned by the slice-fetch pytest. warcinfo records are not
    indexed (no target URI).

    Scale shape: one task per WARC file (binaryFile source), map-only
    — the indexer streams each file's members once; no shuffle until
    whatever the caller does with the index (typically a sort/write
    partitioned by urlkey prefix)."""
    import hashlib
    import zlib

    files = (spark.read.format("binaryFile")
             .load(os.path.join(path, "part-*.warc*"))
             .select("path", "content"))

    def _index(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                buf = bytes(content)
                fname = fpath.split("/")[-1]

                def emit(headers, payload, off, ln):
                    uri = headers.get("warc-target-uri")
                    if headers.get("warc-type") == "warcinfo" or not uri:
                        return
                    rows.append((
                        surt(uri),
                        datetime.strptime(headers["warc-date"],
                                          "%Y-%m-%dT%H:%M:%SZ"),
                        fname, off, ln,
                        hashlib.sha256(payload).hexdigest(),
                    ))

                if buf[:2] == b"\x1f\x8b":
                    pos = 0
                    while pos < len(buf):
                        obj = zlib.decompressobj(wbits=31)
                        data = obj.decompress(buf[pos:])
                        consumed = len(buf) - pos - len(obj.unused_data)
                        if consumed <= 0:
                            raise WarcFormatError(
                                f"stuck gzip member at offset {pos}")
                        for _s, _e, headers, payload in parse_warc_spans(data):
                            emit(headers, payload, pos, consumed)
                        pos += consumed
                else:
                    for s, e, headers, payload in parse_warc_spans(buf):
                        emit(headers, payload, s, e - s)
            yield pd.DataFrame(
                rows, columns=[f.name for f in CDX_SCHEMA.fields])

    return files.mapInPandas(_index, schema=CDX_SCHEMA)


def consolidate_revisits(cdx: "DataFrame") -> "DataFrame":
    """CDX revisit consolidation — the Common-Crawl / Wayback dedup
    rule: among captures sharing (urlkey, digest), the EARLIEST
    capture stays a full 'response' record and every later capture
    becomes a 'revisit' record referencing the original's timestamp
    (WARC-Refers-To-Date semantics; the payload is stored once).
    Ties on timestamp break on the record offset so the rule is total.

    Returns (urlkey, warc_ts, digest, kind, ref_ts) — ref_ts NULL for
    canonical responses. One (urlkey, digest)-keyed window pass over
    the CDX table (metadata-sized, never the payloads); storage saved
    = sum of revisit payload lengths, derivable from the same frame.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("urlkey", "digest").orderBy("warc_ts", "offset")
    rn = F.row_number().over(w)
    first_ts = F.first("warc_ts").over(w)
    return (cdx.select(
        "urlkey", "warc_ts", "digest",
        F.when(rn == 1, F.lit("response")).otherwise(F.lit("revisit"))
        .alias("kind"),
        F.when(rn > 1, first_ts).alias("ref_ts")))
