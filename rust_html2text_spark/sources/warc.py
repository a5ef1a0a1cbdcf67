"""Distributed WARC source — Common Crawl's native archive format.

The north-rule input is "Common-Crawl-style web pages"; in production those
arrive as WARC files (ISO 28500), ~1 GB apiece, gzip-compressed with one
gzip member per record (the Common Crawl convention).  This module reads
them into the pipeline's pages schema
(url: string, warc_ts: timestamp, html: binary, text: string, lang: string)
with pure-stdlib parsing.

Scale design (100 TB = ~100k WARC files / 1000 executors):
- **Parallelism by file**: one task per WARC file (a DataFrame of paths,
  round-robin repartitioned).  gzip is not block-splittable, but at ~1 GB
  a file IS the right task granularity; 100k tasks schedule fine.
- **Bounded memory**: records are streamed — chunked reads through a
  zlib decompressor into an incremental record parser, batches flushed to
  Arrow every `records_per_batch` records or `batch_bytes` of html.  Peak
  memory is one batch + one record, never the decompressed file.
- **Robustness**: non-response records (warcinfo/request/metadata) are
  skipped; a malformed record aborts only the rest of its file (crawl
  archives do truncate), never the task.

The writer emits the same record-per-gzip-member layout (deterministic:
fixed mtime, md5-derived record ids) and exists so tests and local runs
can round-trip pages → WARC → pages byte-identically.
"""

from __future__ import annotations

import hashlib
import os
import zlib
from datetime import datetime
from typing import Iterable, Iterator

_GZIP_MAGIC = b"\x1f\x8b"
_CHUNK = 1 << 20  # 1 MiB compressed read size


# -- record-level parsing ----------------------------------------------------


def _parse_warc_headers(raw: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in raw.split(b"\r\n"):
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().decode("ascii", "replace").lower()] = v.strip().decode(
                "utf-8", "replace"
            )
    return headers


def _parse_http_headers(raw: bytes) -> dict[str, str]:
    """Lower-cased header dict from the HTTP header block (status line
    skipped; duplicate headers comma-joined, per RFC 9110 §5.2)."""
    headers: dict[str, str] = {}
    for line in raw.split(b"\r\n")[1:]:
        if b":" not in line:
            continue
        k, _, v = line.partition(b":")
        key = k.strip().decode("ascii", "replace").lower()
        val = v.strip().decode("latin-1", "replace")
        headers[key] = headers[key] + ", " + val if key in headers else val
    return headers


def _dechunk(body: bytes) -> bytes:
    """Undo Transfer-Encoding: chunked framing (RFC 9112 §7.1).  Raises
    ValueError on malformed/truncated framing."""
    out = bytearray()
    pos = 0
    while True:
        nl = body.find(b"\r\n", pos)
        if nl < 0:
            raise ValueError("truncated chunk-size line")
        size = int(body[pos:nl].split(b";")[0].strip() or b"x", 16)
        pos = nl + 2
        if size == 0:
            return bytes(out)  # trailer section (if any) is discarded
        if pos + size > len(body):
            raise ValueError("truncated chunk data")
        out += body[pos : pos + size]
        pos += size + 2  # chunk data + trailing CRLF
        if pos > len(body):
            raise ValueError("missing chunk CRLF")


def _decompress_content(body: bytes, encoding: str) -> bytes:
    """Undo Content-Encoding.  Raises ValueError on unknown/undecodable."""
    codings = [c.strip() for c in encoding.lower().split(",") if c.strip()]
    # applied in reverse order of the header (last coding applied last)
    for coding in reversed(codings):
        if coding in ("gzip", "x-gzip", "deflate", "x-deflate"):
            try:
                # wbits=47: auto-detect gzip or zlib wrapper
                body = zlib.decompress(body, wbits=47)
            except zlib.error:
                try:
                    # many servers send raw deflate despite the spec
                    body = zlib.decompress(body, wbits=-15)
                except zlib.error as e:
                    raise ValueError(f"undecodable {coding} body: {e}")
        elif coding == "br":
            try:
                import brotli  # not in the baked image; gated
            except ImportError:
                raise ValueError("brotli not available")
            try:
                body = brotli.decompress(body)
            except Exception as e:  # brotli.error
                raise ValueError(f"undecodable br body: {e}")
        elif coding == "identity":
            continue
        else:
            raise ValueError(f"unknown content-encoding {coding!r}")
    return body


_CHARSET_PARAM_RE = None  # compiled lazily (module import stays light)


def _charset_from_content_type(value: str) -> str | None:
    """The charset= parameter of an HTTP Content-Type header value —
    the transport-layer encoding declaration the WHATWG sniff consults
    ahead of the meta prescan."""
    global _CHARSET_PARAM_RE
    if _CHARSET_PARAM_RE is None:
        import re

        _CHARSET_PARAM_RE = re.compile(
            r"""charset\s*=\s*["']?\s*([A-Za-z0-9._:\-]+)""", re.IGNORECASE
        )
    m = _CHARSET_PARAM_RE.search(value)
    return m.group(1).lower() if m else None


def _decode_http_payload(
    block: bytes,
) -> tuple[bytes, str | None, str | None]:
    """(payload, http_charset, ingest_error) — de-frame and decode an
    HTTP response block (status line + headers + CRLFCRLF + payload).
    Real Common Crawl response records carry HTTP framing on the body:
    `Transfer-Encoding: chunked` (hex chunk-size lines interleaved with
    the data) and/or `Content-Encoding: gzip|deflate|br`; both must be
    undone before the bytes are HTML.  On any malformed encoding the framed body is
    returned as-is with an error marker, so one hostile record never
    kills an ingest task.  http_charset is the Content-Type charset=
    parameter (lowercased label) when present — the transport-layer
    declaration for the extraction tier's encoding sniff."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0 or not block.startswith(b"HTTP/"):
        return block, None, None  # not http-framed (e.g. conversion record)
    headers = _parse_http_headers(block[:sep])
    charset = _charset_from_content_type(headers.get("content-type", ""))
    body = block[sep + 4 :]
    try:
        if "chunked" in headers.get("transfer-encoding", "").lower():
            body = _dechunk(body)
        ce = headers.get("content-encoding", "")
        if ce and ce.lower() not in ("identity",):
            body = _decompress_content(body, ce)
        return body, charset, None
    except ValueError as e:
        return block[sep + 4 :], charset, str(e)


def _parse_warc_date(value: str) -> datetime | None:
    # WARC-Date is W3C ISO-8601 Zulu: 2026-01-01T00:00:05Z
    try:
        return datetime.fromisoformat(value.replace("Z", "+00:00")).replace(
            tzinfo=None
        )
    except ValueError:
        return None


def iter_warc_records(chunks: Iterable[bytes]) -> Iterator[tuple[dict, bytes]]:
    """Incrementally parse a decompressed WARC byte stream into
    (headers, block) records.  Works on any chunking of the stream; memory
    is bounded by one record."""
    buf = bytearray()
    pos = 0
    chunks = iter(chunks)
    eof = False
    while True:
        # find end of the header section
        end = buf.find(b"\r\n\r\n", pos)
        while end < 0 and not eof:
            nxt = next(chunks, None)
            if nxt is None:
                eof = True
            else:
                # only rescan the tail (the marker may straddle chunks)
                scan_from = max(pos, len(buf) - 3)
                buf += nxt
                end = buf.find(b"\r\n\r\n", scan_from)
        if end < 0:
            return  # trailing garbage / truncation
        header_raw = bytes(buf[pos:end])
        version_at = header_raw.find(b"WARC/")
        if version_at < 0:
            return  # not a WARC header: stop (truncated/corrupt archive)
        headers = _parse_warc_headers(header_raw[version_at:])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            return
        if length < 0:
            # hostile/corrupt: a negative length would move pos backwards
            # (bytearray.find clamps negative starts to 0) and re-parse the
            # same header forever — treat as corrupt and stop this file
            return
        body_start = end + 4
        need = body_start + length + 4  # block + closing CRLFCRLF
        while len(buf) < need and not eof:
            nxt = next(chunks, None)
            if nxt is None:
                eof = True
            else:
                buf += nxt
        if len(buf) < body_start + length:
            return  # truncated final record
        block = bytes(buf[body_start : body_start + length])
        yield headers, block
        new_pos = min(body_start + length + 4, len(buf))
        if new_pos <= pos:
            return  # defensive: never re-scan the same bytes (no livelock)
        pos = new_pos
        # drop consumed bytes so memory stays O(record), not O(file)
        if pos > (1 << 22):
            del buf[:pos]
            pos = 0


def _fileobj_chunks(fh) -> Iterator[bytes]:
    """Yield decompressed chunks of a .warc / .warc.gz byte stream.
    Multi-member gzip (the Common Crawl record-per-member convention) is
    handled by chaining decompressors on `unused_data`."""
    head = fh.read(2)
    if head != _GZIP_MAGIC:
        yield head
        while True:
            chunk = fh.read(_CHUNK)
            if not chunk:
                return
            yield chunk
        return
    d = zlib.decompressobj(wbits=31)
    pending = head
    while True:
        chunk = fh.read(_CHUNK)
        data = pending + chunk
        pending = b""
        if not data:
            return
        while data:
            out = d.decompress(data)
            if out:
                yield out
            if d.eof:
                data = d.unused_data
                d = zlib.decompressobj(wbits=31)
            else:
                data = b""
        if not chunk:
            return


def _file_chunks(path: str) -> Iterator[bytes]:
    with open(path, "rb") as fh:
        yield from _fileobj_chunks(fh)


def _iter_warc_pages_ex(chunks, include_types):
    """(url, warc_ts, payload, http_charset, ingest_error) per matching
    record — ingest_error is non-None when the HTTP body claimed an
    encoding that could not be decoded (payload then degrades to the
    framed body); http_charset is the Content-Type charset= label."""
    for headers, block in iter_warc_records(chunks):
        if headers.get("warc-type") not in include_types:
            continue
        url = headers.get("warc-target-uri")
        if url is None:
            continue
        ts = _parse_warc_date(headers.get("warc-date", ""))
        payload, charset, err = _decode_http_payload(block)
        yield url, ts, payload, charset, err


def _iter_warc_pages(chunks, include_types):
    for url, ts, payload, _cs, _err in _iter_warc_pages_ex(chunks, include_types):
        yield url, ts, payload


def iter_warc_file(
    path: str, include_types: tuple[str, ...] = ("response",)
) -> Iterator[tuple[str, datetime | None, bytes]]:
    """Yield (url, warc_ts, html_bytes) for each matching record."""
    yield from _iter_warc_pages(_file_chunks(path), include_types)


def iter_warc_file_ex(
    path: str, include_types: tuple[str, ...] = ("response",)
) -> Iterator[tuple[str, datetime | None, bytes, str | None, str | None]]:
    """iter_warc_file plus the per-record Content-Type charset label and
    the ingest-error marker."""
    yield from _iter_warc_pages_ex(_file_chunks(path), include_types)


def iter_warc_bytes(
    data: bytes, include_types: tuple[str, ...] = ("response",)
) -> Iterator[tuple[str, datetime | None, bytes]]:
    """In-memory variant of iter_warc_file (e.g. a binaryFile-source
    `content` column in Structured Streaming)."""
    import io

    yield from _iter_warc_pages(_fileobj_chunks(io.BytesIO(data)), include_types)


# -- the Spark source --------------------------------------------------------

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_warc_pages(
    spark,
    paths,
    include_types: tuple[str, ...] = ("response",),
    records_per_batch: int = 256,
    batch_bytes: int = 32 << 20,
    include_error_col: bool = False,
    include_charset_col: bool = False,
):
    """WARC file(s) → pages DataFrame (north-rule schema; text/lang NULL —
    they are downstream products).  `paths` is a glob string or a list of
    file paths; one streaming task per file.

    `include_error_col=True` appends an `ingest_error` string column:
    non-NULL where the record's HTTP body claimed a Transfer-/Content-
    Encoding that could not be decoded (the html column then carries the
    framed body as-is) — the lineage signal for crawl-QA dashboards.

    `include_charset_col=True` appends `http_charset`: the Content-Type
    charset= label from the record's HTTP headers (transport-layer
    encoding declaration) — feed it to the extraction operators'
    `charset_col` so the WHATWG sniff consults it between the BOM and
    the meta prescan, exactly as a browser would."""
    if isinstance(paths, str):
        import glob as globmod

        paths = sorted(globmod.glob(paths))
    paths = [str(p) for p in paths]
    if not paths:
        raise ValueError("read_warc_pages: no input files")

    n = len(paths)
    include = tuple(include_types)
    rpb = int(records_per_batch)
    bb = int(batch_bytes)
    with_err = bool(include_error_col)
    with_charset = bool(include_charset_col)

    def read_files(batches):
        import os
        import sys

        _repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
        if _repo not in sys.path:
            sys.path.insert(0, _repo)
        import pandas as pd

        from rust_html2text_spark.sources.warc import iter_warc_file_ex

        cols = (
            ["url", "warc_ts", "html", "text", "lang"]
            + (["http_charset"] if with_charset else [])
            + (["ingest_error"] if with_err else [])
        )

        def flush(rows):
            return pd.DataFrame(rows, columns=cols)

        for pdf in batches:
            for path in pdf["path"]:
                rows: list[tuple] = []
                size = 0
                try:
                    for url, ts, html, cs, err in iter_warc_file_ex(
                        path, include
                    ):
                        row = (url, ts, html, None, None)
                        if with_charset:
                            row = row + (cs,)
                        if with_err:
                            row = row + (err,)
                        rows.append(row)
                        size += len(html)
                        if len(rows) >= rpb or size >= bb:
                            yield flush(rows)
                            rows, size = [], 0
                except (OSError, zlib.error):
                    # corrupt/truncated archive: keep the records parsed so
                    # far, lose only the rest of this file — never the task
                    pass
                if rows:
                    yield flush(rows)

    schema = (
        PAGES_SCHEMA
        + (", http_charset string" if with_charset else "")
        + (", ingest_error string" if with_err else "")
    )
    files = spark.createDataFrame([(p,) for p in paths], "path string")
    # round-robin: exactly one file per task (gzip is unsplittable; the
    # file is the unit of parallelism, as in any 100k-file crawl read)
    return files.repartition(n).mapInPandas(read_files, schema)


def read_warc_ranges(
    spark,
    plan,
    base_dir: str | None = None,
    include_charset_col: bool = False,
    include_error_col: bool = False,
):
    """Fetch ONLY the index-selected WARC members: `plan` carries
    (filename, offset, length) rows (the `sources/cdx.select_fetches`
    output); each task seeks to its members instead of scanning whole
    archives — reading a 1% selection costs ~1% of the bytes, the whole
    point of consulting the CDX index first.

    Plan shape: repartition by filename + sort by (filename, offset), so
    every file is opened once per task and read strictly forward (the
    access pattern object stores and page caches reward).  Each member
    is a self-contained gzip stream (Common Crawl's record-per-member
    layout — the same property the WET shard writer relies on), parsed
    by the exact record/HTTP machinery the full reader uses.
    Unreadable members (missing file, bad offset, corrupt gzip) are
    skipped, never task failures.  Output schema matches
    read_warc_pages (+ the same optional lineage columns)."""
    with_charset = bool(include_charset_col)
    with_err = bool(include_error_col)

    def read_members(batches):
        import io
        import os as _os
        import sys

        _repo = _os.path.dirname(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
        )
        if _repo not in sys.path:
            sys.path.insert(0, _repo)
        import pandas as pd

        from rust_html2text_spark.sources.warc import (
            _fileobj_chunks,
            _iter_warc_pages_ex,
        )

        cols = (
            ["url", "warc_ts", "html", "text", "lang"]
            + (["http_charset"] if with_charset else [])
            + (["ingest_error"] if with_err else [])
        )
        open_name, fh = None, None
        try:
            for batch in batches:
                rows = []
                for fname, offset, length in zip(
                    batch["filename"], batch["offset"], batch["length"]
                ):
                    path = (
                        _os.path.join(base_dir, fname) if base_dir else fname
                    )
                    try:
                        if open_name != path:
                            if fh is not None:
                                fh.close()
                            fh = open(path, "rb")
                            open_name = path
                        fh.seek(int(offset))
                        member = fh.read(int(length))
                        for url, ts, payload, cs, err in _iter_warc_pages_ex(
                            _fileobj_chunks(io.BytesIO(member)),
                            ("response",),
                        ):
                            row = (url, ts, payload, None, None)
                            if with_charset:
                                row = row + (cs,)
                            if with_err:
                                row = row + (err,)
                            rows.append(row)
                    except (OSError, zlib.error, EOFError,
                            TypeError, ValueError):
                        # missing file, bad offset, corrupt gzip, or a
                        # NULL/garbage plan field: skip the member,
                        # keep the task
                        continue
                yield pd.DataFrame(rows, columns=cols)
        finally:
            if fh is not None:
                fh.close()

    schema = (
        PAGES_SCHEMA
        + (", http_charset string" if with_charset else "")
        + (", ingest_error string" if with_err else "")
    )
    ordered = plan.select("filename", "offset", "length").repartition(
        "filename"
    ).sortWithinPartitions("filename", "offset")
    return ordered.mapInPandas(read_members, schema)


# -- the writer (tests / local round-trips) ----------------------------------


def _chunked_frame(body: bytes, chunk_size: int = 64) -> bytes:
    """Apply Transfer-Encoding: chunked framing (deterministic fixed-size
    chunks so round-trip tests are byte-stable)."""
    out = bytearray()
    for i in range(0, len(body), chunk_size):
        piece = body[i : i + chunk_size]
        out += b"%x\r\n" % len(piece) + piece + b"\r\n"
    out += b"0\r\n\r\n"
    return bytes(out)


def write_warc_file(
    path: str,
    records: Iterable[tuple[str, datetime | None, bytes]],
    gzip_members: bool = True,
    http_encoding: str | None = None,
    content_type: str = "text/html; charset=UTF-8",
    index_out: list | None = None,
) -> int:
    """Write (url, warc_ts, html) records as a WARC file, one gzip member
    per record (Common Crawl layout).  Deterministic output: record ids
    derive from md5(url), gzip mtime pinned to 0.  Returns record count.

    `http_encoding` emits the HTTP body with real-crawl framings so the
    reader's decode path can be round-trip tested:
      None       — plain body (Content-Length only)
      "gzip"     — Content-Encoding: gzip
      "chunked"  — Transfer-Encoding: chunked
      "gzip+chunked" — gzip content coding, then chunked transfer framing
      (the on-the-wire order real servers use: TE applied after CE).
    `content_type` sets the HTTP Content-Type header (e.g. with a
    non-UTF-8 charset= label to exercise the transport-charset lane)."""
    import gzip as gzipmod

    if http_encoding not in (None, "gzip", "chunked", "gzip+chunked"):
        raise ValueError(f"unknown http_encoding {http_encoding!r}")

    n = 0
    with open(path, "wb") as fh:
        for url, ts, html in records:
            date = (ts or datetime(1970, 1, 1)).strftime("%Y-%m-%dT%H:%M:%SZ")
            rec_id = hashlib.md5(url.encode("utf-8")).hexdigest()
            body = html
            enc_headers = b""
            if http_encoding in ("gzip", "gzip+chunked"):
                body = gzipmod.compress(body, mtime=0)
                enc_headers += b"Content-Encoding: gzip\r\n"
            if http_encoding in ("chunked", "gzip+chunked"):
                body = _chunked_frame(body)
                enc_headers += b"Transfer-Encoding: chunked\r\n"
            else:
                # Content-Length is forbidden alongside chunked (RFC 9112
                # §6.2); the WARC record's own Content-Length frames the
                # block either way
                enc_headers += b"Content-Length: " + str(len(body)).encode() + b"\r\n"
            http = (
                b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: " + content_type.encode("ascii") + b"\r\n"
                + enc_headers
                + b"\r\n"
                + body
            )
            header = (
                "WARC/1.0\r\n"
                "WARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {date}\r\n"
                "Content-Type: application/http;msgtype=response\r\n"
                f"Content-Length: {len(http)}\r\n\r\n"
            ).encode("utf-8")
            raw = header + http + b"\r\n\r\n"
            member = gzipmod.compress(raw, mtime=0) if gzip_members else raw
            if index_out is not None:
                # CDX-style capture entry: the (offset, length) of this
                # member is exactly what a range-reader needs
                index_out.append(
                    {
                        "url": url,
                        "timestamp": (ts or datetime(1970, 1, 1)).strftime(
                            "%Y%m%d%H%M%S"
                        ),
                        "digest": hashlib.md5(html).hexdigest(),
                        "offset": fh.tell(),
                        "length": len(member),
                        "filename": os.path.basename(path),
                    }
                )
            fh.write(member)
            n += 1
    return n


def robots_from_warc(pages, url_col: str = "url", body_col: str = "html"):
    """Fetched `/robots.txt` responses in a WARC-sourced pages frame →
    the (host, robots_txt) corpus the frontier gate consumes
    (functions/robots.robots_rules / robots_host_policy) — the
    PRODUCTION source for the gate, replacing the synthetic corpus the
    test queries derive from the frontier's host set.

    Selection is by URL shape (scheme://host/robots.txt, REP's fixed
    well-known location); when a host was fetched more than once the
    LATEST capture wins (deterministic: max by (warc_ts, body)).  The
    body decodes as UTF-8 LENIENTLY via a binary→string cast
    (replacement chars; `decode()` raises MALFORMED_CHARACTER_CODING on
    Spark 4, so one hostile robots.txt with invalid bytes would kill
    the whole job) — robots.txt is ASCII in practice and the parser
    ignores unparseable lines.  Size caps live in the parser (RFC 9309
    §2.5), not here.  One narrow filter + one host-keyed aggregation;
    no Python."""
    from pyspark.sql import functions as F

    from rust_html2text_spark.functions.robots import HOST_RE, PATH_RE

    host = F.regexp_extract(F.col(url_col), HOST_RE, 1)
    path = F.regexp_extract(F.col(url_col), PATH_RE, 1)
    picked = (
        pages.filter(
            (path == "/robots.txt") & (host != "") & F.col(body_col).isNotNull()
        )
        .select(
            host.alias("host"),
            F.struct(
                F.col("warc_ts"),
                # cast is lenient but keeps the invalid bytes inside the
                # JVM string; make_valid_utf8 replaces them with U+FFFD
                # so the Arrow transfer to the rules parser cannot choke
                F.make_valid_utf8(
                    F.col(body_col).cast("string")
                ).alias("txt"),
            ).alias("_cap"),
        )
        .groupBy("host")
        .agg(F.max("_cap").alias("_cap"))
    )
    return picked.select("host", F.col("_cap.txt").alias("robots_txt"))


# ---------------------------------------------------------------------------
# WET (extracted-text conversion records) — Common Crawl's output format
# ---------------------------------------------------------------------------


def write_wet_file(
    path: str,
    records: Iterable[tuple],
    gzip_members: bool = True,
) -> int:
    """Write (url, warc_ts, extracted_text[, source_charset]) as a WET
    file — WARC-Type: conversion records with text/plain payloads, one
    gzip member per record (the format Common Crawl publishes ITS
    extracted text in, so this pipeline's output drops into any
    WET-consuming tool).  A 4th tuple element records the charset the
    SOURCE page was decoded from as `WARC-Identified-Content-Charset`
    (Common Crawl's WET header for the same lineage); the payload
    itself is always UTF-8.  Deterministic like write_warc_file."""
    import gzip as gzipmod

    n = 0
    with open(path, "wb") as fh:
        for rec in records:
            url, ts, text = rec[0], rec[1], rec[2]
            charset = rec[3] if len(rec) > 3 else None
            date = (ts or datetime(1970, 1, 1)).strftime("%Y-%m-%dT%H:%M:%SZ")
            rec_id = hashlib.md5(url.encode("utf-8")).hexdigest()
            body = (text or "").encode("utf-8")
            cs_line = (
                f"WARC-Identified-Content-Charset: {charset}\r\n"
                if charset
                else ""
            )
            header = (
                "WARC/1.0\r\n"
                "WARC-Type: conversion\r\n"
                f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n"
                f"WARC-Target-URI: {url}\r\n"
                f"WARC-Date: {date}\r\n"
                f"{cs_line}"
                "Content-Type: text/plain\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode("utf-8")
            raw = header + body + b"\r\n\r\n"
            fh.write(gzipmod.compress(raw, mtime=0) if gzip_members else raw)
            n += 1
    return n


def iter_wet_file(path: str) -> Iterator[tuple[str, datetime | None, str]]:
    """Yield (url, warc_ts, text) from a WET file's conversion records.
    Conversion payloads are raw text — no HTTP framing to strip."""
    for headers, block in iter_warc_records(_file_chunks(path)):
        if headers.get("warc-type") != "conversion":
            continue
        url = headers.get("warc-target-uri")
        if url is None:
            continue
        ts = _parse_warc_date(headers.get("warc-date", ""))
        yield url, ts, block.decode("utf-8", "replace")


EXPORT_WET_MAX_ROWS = 100_000
EXPORT_WET_MAX_BYTES = 256 << 20


def export_wet(
    rendered,
    path: str,
    gzip_members: bool = True,
    max_rows: int = EXPORT_WET_MAX_ROWS,
    max_bytes: int = EXPORT_WET_MAX_BYTES,
) -> int:
    """Export an extraction result DataFrame (url, text, ...) as ONE WET
    file — the driver-side collector, TEST-SCOPED ONLY (collects every
    text row to the driver).  Production exports go through
    export_wet_partitioned, which never materializes rows on the
    driver.

    Guarded (r07): the CLI routes any `.wet`/`.gz` output path here, so
    an operator pointing a real run at `out.wet.gz` would otherwise
    collect the whole corpus onto the driver.  The result size is
    counted first (a cheap distributed agg) and anything over
    `max_rows`/`max_bytes` raises with a pointer at the partitioned
    directory form instead of OOMing the driver."""
    from pyspark.sql import functions as F

    has_enc = "encoding" in rendered.columns
    cols = ["url", "text"] + (["encoding"] if has_enc else [])
    sel = rendered.select(*cols).filter("text is not null")
    stats = sel.agg(
        F.count("*").alias("n"), F.sum(F.length("text")).alias("b")
    ).collect()[0]
    if stats["n"] > max_rows or (stats["b"] or 0) > max_bytes:
        raise ValueError(
            f"export_wet collects every row to the driver and this result "
            f"({stats['n']} rows, {stats['b'] or 0} text chars) exceeds the "
            f"single-file cap ({max_rows} rows / {max_bytes} bytes); "
            f"export to a DIRECTORY path instead (partitioned WET shards, "
            f"no driver collect)"
        )
    rows = sel.collect()
    return write_wet_file(
        path,
        [
            (r["url"], None, r["text"], r["encoding"] if has_enc else None)
            for r in rows
        ],
        gzip_members,
    )


def export_wet_partitioned(
    rendered, out_dir: str, gzip_members: bool = True
) -> dict:
    """Crawl-scale WET export: every partition writes its own WET shard
    (`part-<pid>.warc.wet[.gz]`, via a temp-file + atomic rename), and
    the driver sees ONE tiny (shard, rows, bytes) row per partition from
    which it writes `_wet_manifest.json` — text never crosses to the
    driver.  WET records are independent, so the file shards freely;
    any WET consumer (and iter_wet_file) reads each shard standalone.
    Uses `warc_ts` for WARC-Date when the column is present.  Assumes
    the executors share a filesystem with the consumer (same contract
    as the parquet sink)."""
    import json as _json
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    os.makedirs(out_dir, exist_ok=True)
    has_ts = "warc_ts" in rendered.columns
    has_enc = "encoding" in rendered.columns
    cols = ["url"] + (["warc_ts"] if has_ts else []) + ["text"]
    if has_enc:
        cols.append("encoding")
    df = rendered.select(*cols).filter("text is not null")

    shard_schema = StructType(
        [
            StructField("shard", StringType()),
            StructField("rows", LongType()),
            StructField("bytes", LongType()),
        ]
    )
    suffix = ".warc.wet.gz" if gzip_members else ".warc.wet"

    def write_shards(batches):
        import pandas as pd
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        name = f"part-{pid:05d}{suffix}"
        final = os.path.join(out_dir, name)
        # attempt id in the temp name: a speculative/retried attempt must
        # not interleave writes with the first; the rename decides
        tmp = os.path.join(out_dir, f".{name}.{ctx.taskAttemptId()}.tmp")

        def records():
            for batch in batches:
                urls = batch["url"]
                texts = batch["text"]
                tss = batch["warc_ts"] if has_ts else [None] * len(batch)
                encs = (
                    batch["encoding"] if has_enc else [None] * len(batch)
                )
                for url, ts, text, enc in zip(urls, tss, texts, encs):
                    if pd.isna(ts):
                        ts = None
                    elif hasattr(ts, "to_pydatetime"):
                        ts = ts.to_pydatetime()
                    if enc is not None and pd.isna(enc):
                        enc = None
                    yield url, ts, text, enc

        n = write_wet_file(tmp, records(), gzip_members)
        if n == 0:
            os.remove(tmp)  # empty partition: no shard
            return
        os.rename(tmp, final)
        yield pd.DataFrame(
            {"shard": [name], "rows": [n], "bytes": [os.path.getsize(final)]}
        )

    shards = sorted(
        (r["shard"], r["rows"], r["bytes"])
        for r in df.mapInPandas(write_shards, shard_schema).collect()
    )
    manifest = {
        "shards": [
            {"shard": s, "rows": r, "bytes": b} for s, r, b in shards
        ],
        "records": sum(r for _, r, _ in shards),
        "bytes": sum(b for _, _, b in shards),
        "gzip_members": gzip_members,
    }
    tmp = os.path.join(out_dir, "._wet_manifest.json.tmp")
    with open(tmp, "w") as fh:
        _json.dump(manifest, fh, indent=1)
    os.rename(tmp, os.path.join(out_dir, "_wet_manifest.json"))
    return manifest
