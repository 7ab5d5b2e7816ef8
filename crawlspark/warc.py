"""WARC source — read Common Crawl's native archive format (ISO 28500).

The north star frames the corpus as "Common-Crawl-style web pages"; the
parquet/Iceberg table is the engine's primary layout, and this module is
the ingestion edge that gets there: ``read_warc`` turns a directory of
``.warc`` / ``.warc.gz`` files into PAGES_SCHEMA-shaped rows
(url, warc_ts, html, text=NULL, lang=NULL) ready for
``extract.text_links_udf`` downstream.

Format essentials (public spec, ISO 28500 / WARC 1.0–1.1):

* a file is a sequence of records; each is ``WARC/1.x\\r\\n`` + named
  headers + ``\\r\\n`` + ``Content-Length`` payload bytes + ``\\r\\n\\r\\n``;
* ``.warc.gz`` files are CONCATENATED gzip members, one record per member
  (what Common Crawl ships) — decoded with zlib in multi-member mode;
* ``response`` records carry an HTTP response as payload: status line +
  headers + body; the body is the page bytes.  ``resource`` records carry
  the raw object directly.  Other types (warcinfo/request/metadata) are
  skipped.

Scale shape: Spark's ``binaryFile`` source gives one row per archive file
(Common Crawl segments are ~1 GB — the standard unit of parallelism), and
``mapInPandas`` explodes each into its page rows executor-side; nothing
touches the driver.  A writer (``write_warc``) exists for deterministic
round-trip tests.
"""

from __future__ import annotations

import gzip
import io as _iomod
import logging
import os
import zlib
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)

_CRLF = b"\r\n"


def _http_body(payload: bytes) -> bytes:
    """Body of an HTTP response payload (after the header terminator)."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        return payload  # not actually HTTP-framed; take it whole
    return payload[sep + 4 :]


def _parse_warc_date(s: str) -> datetime:
    # WARC-Date is ISO 8601 UTC, e.g. 2024-01-17T08:01:02Z (1.1 allows frac)
    s = s.strip()
    if s.endswith("Z"):
        s = s[:-1] + "+00:00"
    return datetime.fromisoformat(s).astimezone(timezone.utc).replace(tzinfo=None)


def parse_warc_stream(data: bytes):
    """Yield dicts (url, warc_ts, html) for response/resource records."""
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record blank lines
        while data.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            break
        header_block = data[pos:head_end].decode("latin-1")
        lines = header_block.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC record header at byte {pos}: {lines[0]!r}")
        headers: dict[str, str] = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        length = int(headers.get("content-length", "0"))
        payload = data[head_end + 4 : head_end + 4 + length]
        pos = head_end + 4 + length
        rtype = headers.get("warc-type", "")
        if rtype in ("response", "resource"):
            url = headers.get("warc-target-uri")
            ts = headers.get("warc-date")
            if url and ts:
                body = _http_body(payload) if rtype == "response" else payload
                yield {
                    "url": url,
                    "warc_ts": _parse_warc_date(ts),
                    "html": body,
                }


#: feed sizes for the per-member decompressor loop below.  Each member
#: starts at the MIN feed and doubles up to MAX while it keeps going, so
#: zlib's per-member ``unused_data`` tail copy is ~8 KB for tiny members
#: (Common Crawl: one gzip member per page) while multi-MB members still
#: stream at 1 MB a feed.  Total decode is O(total bytes) — the naive
#: ``d.decompress(data[pos:])`` loop copied the whole remaining archive
#: twice per member, O(members x bytes), turning one 80k-member archive
#: into ~50 min of pure memcpy (measured r5; see BENCH/warc_r5.json).
_GUNZIP_CHUNK_MIN = 8 << 10
_GUNZIP_CHUNK = 1 << 20


def _maybe_gunzip(data: bytes) -> bytes:
    """Decode concatenated gzip members (the .warc.gz layout) or pass through.

    Tolerant on purpose: a truncated or corrupt trailing member keeps
    everything decoded before it (``read_warc`` relies on this to salvage
    the prefix of a damaged archive), so this cannot be a plain
    ``gzip.decompress`` — that raises and loses the prefix.  Salvage is
    never silent: stopping before the end of the byte stream logs a
    WARNING with the offsets, so partially-ingested archives are visible
    in executor logs (the read_warc docstring's corrupt-archive contract
    — gzip-level damage can't reach read_warc's own except-clause because
    this function absorbs it).
    """
    if not data.startswith(b"\x1f\x8b"):
        return data
    out = []
    view = memoryview(data)
    n = len(data)
    pos = 0
    while pos < n:
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        mpos = pos
        feed = _GUNZIP_CHUNK_MIN
        try:
            while mpos < n:
                chunk = view[mpos : mpos + feed]
                out.append(d.decompress(chunk))
                mpos += len(chunk)
                if d.eof:
                    # member ended inside this chunk; unused_data is the
                    # (bounded, <= feed-size) leftover of the NEXT member
                    mpos -= len(d.unused_data)
                    break
                feed = min(feed * 2, _GUNZIP_CHUNK)
        except zlib.error:
            _log.warning(
                "corrupt gzip member at byte %d of %d: keeping the %d "
                "decoded bytes before it",
                pos, n, sum(len(o) for o in out),
            )
            break  # corrupt member: keep what already decoded
        if not d.eof or mpos <= pos:
            _log.warning(
                "truncated gzip member at byte %d of %d: keeping the %d "
                "decoded bytes before it",
                pos, n, sum(len(o) for o in out),
            )
            break  # truncated final member / no forward progress
        pos = mpos
    return b"".join(out)


_GZ_MAGIC = b"\x1f\x8b\x08"


def _scan_gz_members(f, start: int, end: int):
    """Yield ``(abs_offset, compressed_length, decoded_bytes)`` for every
    gzip member whose FIRST byte lies in ``[start, end)`` of the open
    binary file ``f`` — the index-free split primitive behind
    ``read_warc(split_mb=)`` and the distributed indexer ``build_cdx``.

    gzip members carry no length prefix, so an arbitrary byte range can't
    be decoded blind; instead each range scans its window for the member
    magic ``1f 8b 08`` and VALIDATES every candidate by decoding: a
    candidate is claimed only if its stream inflates cleanly from that
    offset AND the plaintext starts with ``WARC/`` (every member of a
    ``.warc.gz`` begins with a record header).  A stray ``1f 8b 08``
    inside some member's compressed payload fails one of the two checks
    and is skipped (expected ~once per 16 MB of compressed data — each
    rejected candidate costs at most one small inflate attempt).  Members
    are claimed by their start offset, so consecutive ranges partition
    the archive exactly: a member straddling ``end`` belongs to THIS
    range (the read continues past ``end`` to finish it, after which the
    scan stops), and the next range skips bytes before its own ``start``.
    """
    f.seek(start)
    window = end - start
    # +2 bytes of overlap so a magic beginning at end-1 is visible; only
    # candidates with i < window (start offset < end) are claimed.
    buf = bytearray(f.read(window + len(_GZ_MAGIC) - 1))
    pos = 0
    while True:
        i = buf.find(_GZ_MAGIC, pos)
        if i < 0 or i >= window:
            return
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out = bytearray()
        src = i
        feed = _GUNZIP_CHUNK_MIN
        ok = True
        while True:
            if src >= len(buf):
                more = f.read(_GUNZIP_CHUNK)  # file pos is start+len(buf)
                if not more:
                    ok = False  # truncated final member
                    break
                buf += more
            chunk = bytes(buf[src : src + feed])
            try:
                out += d.decompress(chunk)
            except zlib.error:
                ok = False
                break
            src += len(chunk)
            if len(out) >= 5 and not out.startswith(b"WARC/"):
                ok = False  # inflates, but not a WARC member — false magic
                break
            if d.eof:
                src -= len(d.unused_data)
                break
            feed = min(feed * 2, _GUNZIP_CHUNK)
        if ok and d.eof and out.startswith(b"WARC/"):
            yield start + i, src - i, bytes(out)
            pos = src
        else:
            pos = i + 1


def _warc_ranges(path: str, chunk: int) -> list[tuple[str, int, int]]:
    """Driver-side range plan for ``read_warc(split_mb=)``: every
    ``*.warc*`` file under ``path``, ``.gz`` files cut into ``chunk``-byte
    offset ranges (members claimed by start offset — see
    :func:`_scan_gz_members`), plain ``.warc`` kept whole (its records are
    length-prefix framed, only sequentially parseable)."""
    ranges: list[tuple[str, int, int]] = []
    for root, _dirs, names in os.walk(path):
        for nm in sorted(names):
            if ".warc" not in nm:
                continue
            fp = os.path.join(root, nm)
            size = os.path.getsize(fp)
            if nm.endswith(".gz") and size > chunk:
                for s in range(0, size, chunk):
                    ranges.append((fp, s, min(s + chunk, size)))
            else:
                ranges.append((fp, 0, size))
    return sorted(ranges)


def read_warc(
    spark: SparkSession, path: str, split_mb: float | None = None
) -> DataFrame:
    """``.warc``/``.warc.gz`` files under ``path`` → PAGES_SCHEMA rows.

    One archive file = one input row (binaryFile source) = the unit of
    parallelism, matching Common Crawl's ~1 GB segment layout; records are
    exploded executor-side.  ``text``/``lang`` are NULL — run the
    extraction UDF downstream exactly as for pre-parsed corpora.

    ``split_mb`` — INDEX-FREE sub-file parallelism: without a CDX offset
    index (``read_records_at`` covers the indexed case), one jumbo
    ``.warc.gz`` is otherwise one task and holds the whole stage
    (measured 9.98× on a single 326 MB archive, BENCH/warc_r5.json).
    When set, each ``.gz`` archive is cut into ``split_mb``-MB byte
    ranges and every range independently finds and decodes the gzip
    members that START inside it (validated-magic scan, see
    :func:`_scan_gz_members`) — no index, no sequential prescan, exactly-
    once per member.  Files must be reachable from executors (same
    shared-filesystem contract as ``read_records_at``); plain ``.warc``
    files and files smaller than one chunk stay whole.  A ``.gz``-named
    file that isn't actually gzip falls back to the whole-file parse (its
    range-0 task detects the missing magic; other ranges yield nothing).

    Error isolation (r2 ADVICE): a corrupt archive (bad gzip member, bad
    record header) must not kill a 100k-file ingestion job — each blob is
    parsed under try/except; records decoded before the corruption point
    are kept, the rest of that archive is skipped and counted via a
    warning log (matching :func:`read_records_at`'s per-record tolerance).
    """
    if split_mb is not None:
        return _read_warc_split(spark, path, split_mb)
    import logging

    import pandas as pd

    from .schemas import PAGES_SCHEMA

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )

    def _explode(batches):
        log = logging.getLogger("crawlspark.warc")
        for pdf in batches:
            rows = []
            for fpath, blob in zip(pdf["path"], pdf["content"]):
                try:
                    stream = parse_warc_stream(_maybe_gunzip(bytes(blob)))
                    # pull records one by one so a mid-archive corruption
                    # keeps everything already decoded
                    while True:
                        try:
                            rec = next(stream)
                        except StopIteration:
                            break
                        rows.append(
                            {
                                "url": rec["url"],
                                "warc_ts": rec["warc_ts"],
                                "html": rec["html"],
                                "text": None,
                                "lang": None,
                            }
                        )
                except (ValueError, zlib.error, OverflowError) as e:
                    log.warning("skipping corrupt WARC archive %s: %s", fpath, e)
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return raw.mapInPandas(_explode, PAGES_SCHEMA)


def _read_warc_split(spark: SparkSession, path: str, split_mb: float) -> DataFrame:
    """The ``read_warc(split_mb=)`` body: range-plan driver-side (file
    listing only — no archive bytes touch the driver), then each range
    scans/validates/decodes its own members executor-side."""
    import logging

    import pandas as pd

    from .schemas import PAGES_SCHEMA

    chunk = max(int(split_mb * (1 << 20)), 1)
    ranges = _warc_ranges(path, chunk)
    if not ranges:
        return spark.createDataFrame([], PAGES_SCHEMA)
    rng = spark.createDataFrame(ranges, "path string, start long, end long")
    # one task per range up to a bounded fan-out; round-robin keeps the
    # jumbo's ranges spread across executors instead of clumped per slice
    n_parts = min(len(ranges), max(4 * spark.sparkContext.defaultParallelism, 1))
    rng = rng.repartition(n_parts)

    def _explode(batches):
        log = logging.getLogger("crawlspark.warc")

        def _rows_from(member: bytes, rows: list) -> None:
            for rec in parse_warc_stream(member):
                rows.append(
                    {
                        "url": rec["url"],
                        "warc_ts": rec["warc_ts"],
                        "html": rec["html"],
                        "text": None,
                        "lang": None,
                    }
                )

        for pdf in batches:
            rows: list[dict] = []
            for fp, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                s, e = int(s), int(e)
                try:
                    with open(fp, "rb") as f:
                        if fp.endswith(".gz"):
                            if s == 0 and f.read(3) != _GZ_MAGIC:
                                # mislabeled plain file: whole-file fallback
                                # (ranges s>0 of it find no magic → no rows)
                                f.seek(0)
                                _rows_from(_maybe_gunzip(f.read()), rows)
                                continue
                            for _off, _clen, member in _scan_gz_members(f, s, e):
                                try:
                                    _rows_from(member, rows)
                                except ValueError:
                                    log.warning(
                                        "skipping bad WARC member in %s @%d", fp, _off
                                    )
                        else:
                            _rows_from(_maybe_gunzip(f.read()), rows)
                except (OSError, ValueError, zlib.error, OverflowError) as err:
                    log.warning("skipping corrupt WARC range %s [%d,%d): %s",
                                fp, s, e, err)
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return rng.mapInPandas(_explode, PAGES_SCHEMA)


CDX_SCHEMA = "filename string, offset long, length long, url string, warc_ts timestamp"


def build_cdx(
    spark: SparkSession, warc_root: str, split_mb: float = 16.0
) -> DataFrame:
    """Distributed CDX-style offset indexer: one pass over a ``.warc.gz``
    directory → ``(filename, offset, length, url, warc_ts)`` rows, the
    exact shape ``read_records_at`` (and a CDX server) consumes.

    This closes the ingestion loop for corpora that arrive WITHOUT an
    index: ``read_warc(split_mb=)`` streams them once, and ``build_cdx``
    — built on the same validated-magic range scan, so the indexing pass
    itself fans out sub-file — persists the offsets so every later access
    is a seek, not a scan (Common Crawl's own cdx-indexer workflow).
    ``filename`` is relative to ``warc_root``, matching what
    ``read_records_at(warc_root, index)`` joins back.  One row per
    response/resource record (warcinfo/request/metadata members carry no
    page and are skipped); a member holding several records yields one
    row per record, all sharing the member's (offset, length) —
    ``read_records_at`` collapses the duplicates and parses each member
    exactly once, recovering every record exactly once.  Plain ``.warc``
    files are skipped
    (no member framing to seek to; read them via ``read_warc`` directly).
    """
    import pandas as pd

    chunk = max(int(split_mb * (1 << 20)), 1)
    ranges = [
        (fp, s, e)
        for fp, s, e in _warc_ranges(warc_root, chunk)
        if fp.endswith(".gz")
    ]
    if not ranges:
        return spark.createDataFrame([], CDX_SCHEMA)
    rng = spark.createDataFrame(ranges, "path string, start long, end long")
    n_parts = min(len(ranges), max(4 * spark.sparkContext.defaultParallelism, 1))
    rng = rng.repartition(n_parts)
    root = os.path.abspath(warc_root)

    def _index(batches):
        for pdf in batches:
            rows = []
            for fp, s, e in zip(pdf["path"], pdf["start"], pdf["end"]):
                try:
                    with open(fp, "rb") as f:
                        rel = os.path.relpath(os.path.abspath(fp), root)
                        for off, clen, member in _scan_gz_members(f, int(s), int(e)):
                            try:
                                for rec in parse_warc_stream(member):
                                    rows.append(
                                        (rel, off, clen, rec["url"], rec["warc_ts"])
                                    )
                            except ValueError:
                                continue
                except OSError:
                    continue
            yield pd.DataFrame(
                rows, columns=["filename", "offset", "length", "url", "warc_ts"]
            )

    return rng.mapInPandas(_index, CDX_SCHEMA)


def write_warc(
    records, path: str, compress: bool = False
) -> list[tuple[str, int, int]]:
    """Deterministic WARC writer for round-trip tests.

    ``records``: iterable of (url, warc_ts datetime, html bytes); written
    as ``response`` records with a minimal HTTP frame, one gzip member per
    record when ``compress`` (the Common Crawl layout).

    Returns the offset index — a list of ``(url, offset, length)`` per
    record as laid out in the file — exactly what a CDX index stores and
    what :func:`read_records_at` consumes.
    """
    out = _iomod.BytesIO()
    index: list[tuple[str, int, int]] = []
    for url, ts, html in records:
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + f"Content-Length: {len(html)}\r\n\r\n".encode()
            + html
        )
        header = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            f"Content-Length: {len(http)}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            "\r\n"
        ).encode()
        record = header + http + b"\r\n\r\n"
        start = out.tell()
        if compress:
            buf = _iomod.BytesIO()
            # mtime pinned for byte-determinism
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(record)
            out.write(buf.getvalue())
        else:
            out.write(record)
        index.append((url, start, out.tell() - start))
    with open(path, "wb") as f:
        f.write(out.getvalue())
    return index


def read_records_at(
    spark: SparkSession,
    warc_root: str,
    index: "DataFrame",
    split_mb: float | None = None,
) -> "DataFrame":
    """Random-access payload fetch — Common Crawl's actual access pattern:
    given index rows ``(filename, offset, length, …)`` (e.g. from
    ``io.read_cdx``, optionally ``io.dedup_cdx_digest``-ed first), range-
    read exactly those gzip members out of the archives and return
    PAGES_SCHEMA-shaped rows, never scanning a whole archive for one page.

    Scale shape: rows are grouped by ``filename`` (``applyInPandas`` — the
    groupBy hash shuffle moves only thin index rows), so each task opens
    its archive once and seeks per record; archives must be reachable from
    executors (shared/local filesystem here; on a cluster, a fuse/NFS
    mount or ranged object-store reads at the same call site).  Bad
    offsets yield no row rather than failing the task.

    ``split_mb`` (r4 verdict item 6, sub-file parallelism): gzip members
    are independently seekable, so one JUMBO archive need not be one
    task — when set, the group key becomes (filename, offset-range chunk
    of ``split_mb`` MB) and a single multi-GB archive fans out across
    executors, each opening the file and seeking only its own members.
    Leave ``None`` for the classic one-task-per-archive layout (right when
    archives are already ~1 GB Common Crawl segments and numerous).
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from .schemas import PAGES_SCHEMA

    idx = index.select("filename", "offset", "length")
    group_cols = ["filename"]
    if split_mb is not None:
        chunk = max(int(split_mb * (1 << 20)), 1)
        idx = idx.withColumn(
            "__chunk", (F.col("offset") / F.lit(chunk)).cast("long")
        )
        group_cols = ["filename", "__chunk"]

    def _fetch(pdf: pd.DataFrame) -> pd.DataFrame:
        fname = pdf["filename"].iloc[0]
        rows = []
        try:
            f = open(os.path.join(warc_root, fname), "rb")
        except OSError:
            return pd.DataFrame(columns=["url", "warc_ts", "html", "text", "lang"])
        # A gzip member holding k records has k index rows sharing the
        # member's (offset, length) (build_cdx emits one row per record);
        # each seek parses the WHOLE member, so fetch each member exactly
        # once or every record in it comes back k times.  All rows of one
        # member share filename and offset, hence land in this same group
        # — a local set suffices, no extra shuffle.
        done: set[tuple[int, int]] = set()
        with f:
            for off, ln in zip(pdf["offset"], pdf["length"]):
                if (int(off), int(ln)) in done:
                    continue
                done.add((int(off), int(ln)))
                try:
                    f.seek(int(off))
                    blob = f.read(int(ln))
                    for rec in parse_warc_stream(_maybe_gunzip(blob)):
                        rows.append(
                            (rec["url"], rec["warc_ts"], rec["html"], None, None)
                        )
                except Exception:
                    continue
        return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    return idx.groupBy(*group_cols).applyInPandas(_fetch, PAGES_SCHEMA)
