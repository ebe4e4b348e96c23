"""WARC (Web ARChive, ISO 28500) source + sink — the web-crawl
ingestion format (Common Crawl ships its entire corpus as WARC).

The reference pipeline ingests syslog text (SURVEY §2.1 S6); a webtext
training-data pipeline's equivalent raw input is the crawl archive, so
this module adds WARC as a first-class source format beside the
text/gzip log scan, parquet, ORC, JSON and CSV.

Layout follows Common Crawl's convention exactly:

- **Each record is its own gzip member** and members are concatenated
  into the file (RFC 1952 allows member concatenation), so a reader can
  split a petabyte crawl at member boundaries without decompressing
  anything it does not need, and a range request that starts at a
  member offset (what the CC index points at) decodes standalone.
- **The unit of Spark parallelism is the FILE** (Common Crawl ships
  ~1 GB files; one task each).  ``read_warc`` goes through the
  ``binaryFile`` data source — each file is one row, one task, and the
  record splitter runs inside a single Arrow row stage
  (``functions.arrow.row_stage``).  At 100 TB that is ~100k files across
  the cluster with zero shuffle; everything downstream of the splitter is
  columnar.
- **Record framing is Content-Length-driven, never scanned**: the
  splitter reads the header block (terminated by CRLFCRLF), takes
  ``Content-Length`` from it, and slices exactly that many payload
  bytes.  A page whose BODY contains the bytes ``"WARC/1.0"`` or a
  blank line therefore cannot confuse it (a delimiter-scanning splitter
  would tear such a record apart — pinned by test).

Writer determinism: gzip members are emitted with ``mtime=0`` so the
same frame always produces byte-identical files (the bench/oracle
discipline used across the repo).

No third-party dependency: stdlib ``gzip``/``zlib`` only.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import os
import zlib
from collections.abc import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.arrow import row_stage

__all__ = [
    "WARC_SCHEMA",
    "CDX_SCHEMA",
    "write_warc",
    "write_warc_indexed",
    "read_warc",
    "fetch_warc_records",
]

# Output schema of the record splitter.  ``file``/``rec_index`` are the
# lineage columns (same discipline as sources/logfiles.py line lineage).
WARC_SCHEMA = (
    "file string, rec_index long, warc_type string, record_id string, "
    "warc_date string, url string, content_type string, "
    "content_length long, payload binary"
)

_CRLF = b"\r\n"
_HDR_END = b"\r\n\r\n"
_GZIP_MAGIC = b"\x1f\x8b"

# Fixed, deterministic WARC-Date for synthesized archives (the table has
# no crawl-time column; a wall-clock date would break byte determinism).
_FIXED_DATE = "2026-01-01T00:00:00Z"

# CDX-style index row (Common Crawl's cluster.idx / cdx-*.gz carry the
# same triple): the (file, offset, length) of a record's OWN gzip member
# — because each record is a standalone member, that byte range decodes
# with no other byte of the archive.
CDX_SCHEMA = "url string, seq long, file string, offset long, length long"


def _record_bytes(url: str, payload: bytes, rec_id: str, date: str) -> bytes:
    """One uncompressed WARC/1.0 response record, spec framing:
    version line, named headers, CRLFCRLF, ``Content-Length`` payload
    bytes, then the two record-terminating CRLFs."""
    hdr = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rec_id}>\r\n"
        f"WARC-Date: {date}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"Content-Type: text/plain\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode("utf-8")
    return hdr + payload + _HDR_END


def _write_file(group: pa.Table, path: str, gzip_members: bool) -> tuple[int, pa.Table]:
    """One writer task's file: the group's ``(file_id, seq, url, payload)``
    rows encoded in ``seq`` order and written under ``path``.  Returns the
    file's size and its CDX index (``CDX_SCHEMA``, one row per record)."""
    group = group.sort_by("seq")
    fid = group.column("file_id")[0].as_py()
    fname = f"part-{fid:05d}.warc" + (".gz" if gzip_members else "")
    out = io.BytesIO()
    cdx: dict[str, list] = {c: [] for c in ("url", "seq", "file", "offset", "length")}
    for seq, url, payload in zip(
        *(group.column(c).to_pylist() for c in ("seq", "url", "payload"))
    ):
        rec_id = hashlib.md5(f"warc-{seq}".encode()).hexdigest()
        rec = _record_bytes(str(url), payload, rec_id, _FIXED_DATE)
        member = gzip.compress(rec, 6, mtime=0) if gzip_members else rec
        for c, v in zip(cdx, (str(url), seq, fname, out.tell(), len(member))):
            cdx[c].append(v)
        out.write(member)
    with open(os.path.join(path, fname), "wb") as f:
        f.write(out.getvalue())
    return out.tell(), pa.table(cdx)


def write_warc(
    records: DataFrame,
    path: str,
    n_files: int = 8,
    gzip_members: bool = True,
) -> list:
    """Write ``(seq, url, payload binary)`` rows as WARC files under
    ``path`` (``part-NNNNN.warc[.gz]``), one gzip member per record in
    Common Crawl layout.

    File assignment is ``seq % n_files`` and records are laid out in
    ``seq`` order within a file, so the output is a pure function of the
    input frame (byte-identical across partitionings — the repo's
    determinism discipline).  The writer is one ``applyInArrow`` over
    ``groupBy(file_id)``: each task encodes and writes ITS file; nothing
    rides through the driver except the ``n_files``-row summary, which
    is returned (the eager action that materializes the files).

    Scale: groups are file-sized by construction (pick ``n_files`` ~
    corpus_bytes / 1 GB in production); encoding is sequential gzip per
    record — the same cost profile as Common Crawl's own writers.
    """
    os.makedirs(path, exist_ok=True)

    def _write(group: pa.Table) -> pa.Table:
        n_bytes, cdx = _write_file(group, path, gzip_members)
        return pa.table(
            {"file": cdx.column("file")[:1], "n_records": [cdx.num_rows], "n_bytes": [n_bytes]}
        )

    plan = (
        records.withColumn("file_id", (F.col("seq") % n_files).cast("long"))
        .select("file_id", "seq", "url", "payload")
        .groupBy("file_id")
        .applyInArrow(_write, "file string, n_records long, n_bytes long")
    )
    return plan.collect()  # n_files rows — the eager write action


def write_warc_indexed(
    records: DataFrame,
    path: str,
    index_path: str,
    n_files: int = 8,
) -> DataFrame:
    """:func:`write_warc` plus a CDX-style index, built AS A BY-PRODUCT
    of the write — the pattern behind Common Crawl's URL index: each
    writer task already knows every member's byte offset (it put it
    there), so the index costs zero extra passes over the corpus.  The
    archive bytes are identical to ``write_warc``'s (pinned by test).

    Writes ``part-NNNNN.warc.gz`` files under ``path`` and the index as
    parquet at ``index_path`` (``CDX_SCHEMA``: url, seq, file, offset,
    length); returns the index frame read back.  Because every record is
    its own gzip member, ``file[offset : offset+length]`` decodes
    standalone — the property that lets :func:`fetch_warc_records` (and
    Common Crawl's own range requests) pull one document out of a
    petabyte archive reading exactly ``length`` bytes.

    Scale: the index is ~60 B/doc (10^12 docs → ~60 TB archive keys in
    a few-TB parquet table, itself partition-prunable by file); the
    write plan is the same one-task-per-file ``applyInArrow`` as
    ``write_warc``, with the index rows riding out as the task's output
    instead of a 1-row summary.
    """
    os.makedirs(path, exist_ok=True)

    def _write(group: pa.Table) -> pa.Table:
        return _write_file(group, path, gzip_members=True)[1]

    (
        records.withColumn("file_id", (F.col("seq") % n_files).cast("long"))
        .select("file_id", "seq", "url", "payload")
        .groupBy("file_id")
        .applyInArrow(_write, CDX_SCHEMA)
        .write.mode("overwrite")
        .parquet(index_path)  # materializing the index IS the write action
    )
    return records.sparkSession.read.parquet(index_path)


def fetch_warc_records(
    spark: SparkSession, warc_path: str, index: DataFrame
) -> DataFrame:
    """Random-access record fetch: given CDX index rows, return the
    addressed records — reading ONLY each record's own byte range, never
    scanning or decompressing the rest of the archive (the member-per-
    record layout makes ``seek(offset); read(length)`` a complete,
    standalone gzip stream; pinned by a corrupt-neighbor test).

    This is the lookup half of the Common Crawl index contract: at
    100 TB, fetching k documents costs k·avg_member bytes of I/O —
    corpus size never appears in the cost.  Plan: one shuffle of the
    (already filtered, k-row) index by file, then one task per touched
    file opening it once and seeking member-to-member in offset order;
    parallelism = files touched, payload bytes move only executor-side.

    Returns ``(url, seq, content_length, payload)``.
    """

    def _fetch(group: pa.Table) -> pa.Table:
        group = group.sort_by("offset")  # one forward pass per file
        fname = os.path.join(warc_path, str(group.column("file")[0].as_py()))
        rows = []
        with open(fname, "rb") as f:
            for url, seq, off, ln in zip(
                *(group.column(c).to_pylist() for c in ("url", "seq", "offset", "length"))
            ):
                f.seek(off)
                member = f.read(ln)
                data = (
                    gzip.decompress(member)
                    if member[:2] == _GZIP_MAGIC
                    else member
                )
                recs = list(_iter_records(data, strict=True))
                if len(recs) != 1:
                    raise ValueError(
                        f"index range {fname}@{off}+{ln} held "
                        f"{len(recs)} records, expected exactly 1"
                    )
                hdr, payload = recs[0]
                rows.append(
                    {"url": str(url), "seq": seq, "content_length": len(payload),
                     "payload": payload}
                )
        return pa.Table.from_pylist(rows)

    return (
        index.select("url", "seq", "file", "offset", "length")
        .groupBy("file")
        .applyInArrow(
            _fetch, "url string, seq long, content_length long, payload binary"
        )
    )


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (RFC 1952 §2.2) into one
    buffer.  ``zlib`` is driven member-by-member via ``unused_data`` so
    a truncated trailing member surfaces as an error rather than silent
    data loss."""
    out = []
    rest = data
    while rest:
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out.append(d.decompress(rest))
        out.append(d.flush())
        if not d.eof:
            raise ValueError("truncated gzip member in WARC file")
        rest = d.unused_data
    return b"".join(out)


def _iter_records(buf: bytes, strict: bool):
    """Content-Length-driven record iterator over an uncompressed WARC
    buffer.  Yields ``(headers dict, payload bytes)``; on a malformed
    tail, raises when ``strict`` else stops (the partial record is
    dropped, everything before it survives — crash-tail tolerance)."""
    pos, n = 0, len(buf)
    while pos < n:
        # tolerate extra inter-record CRLFs
        while buf.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            return
        if not buf.startswith(b"WARC/", pos):
            if strict:
                raise ValueError(f"bad WARC version line at offset {pos}")
            return
        hend = buf.find(_HDR_END, pos)
        if hend < 0:
            if strict:
                raise ValueError("unterminated WARC header block")
            return
        headers: dict = {}
        for line in buf[pos:hend].split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().decode("utf-8").lower()] = (
                    v.strip().decode("utf-8")
                )
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            if strict:
                raise ValueError("missing/invalid Content-Length")
            return
        body_start = hend + len(_HDR_END)
        body_end = body_start + clen
        if body_end + len(_HDR_END) > n:
            if strict:
                raise ValueError("truncated WARC payload")
            return
        yield headers, buf[body_start:body_end]
        pos = body_end + len(_HDR_END)


def read_warc(
    spark: SparkSession, path: str, strict: bool = False
) -> DataFrame:
    """Read a directory of WARC files (plain or gzip-member) into a
    record frame (``WARC_SCHEMA``).

    Plan: ``binaryFile`` scan (one row/task per file — Common Crawl's
    own parallelism unit) -> ONE Arrow row stage as the splitter.  No
    shuffle; lineage columns ``(file, rec_index)`` identify every
    record's provenance the way the log source's ``(file, line)`` pair
    does.  Gzip detection is per-file by magic bytes, so mixed
    directories work.
    """
    raw = spark.read.format("binaryFile").load(path).select("path", "content")

    def _split(files: Iterator[dict]) -> Iterator[dict]:
        for row in files:
            data = row["content"]
            if data[:2] == _GZIP_MAGIC:
                data = _gunzip_members(data)
            for i, (hdr, payload) in enumerate(_iter_records(data, strict)):
                yield {
                    "file": row["path"],
                    "rec_index": i,
                    "warc_type": hdr.get("warc-type"),
                    "record_id": hdr.get("warc-record-id"),
                    "warc_date": hdr.get("warc-date"),
                    "url": hdr.get("warc-target-uri"),
                    "content_type": hdr.get("content-type"),
                    "content_length": len(payload),
                    "payload": payload,
                }

    return row_stage(raw, WARC_SCHEMA, _split)
