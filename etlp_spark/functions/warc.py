"""WARC/WET container walking: the Common Crawl ingestion format.

A pretraining-data pipeline's documents arrive inside WARC files
(ISO 28500 / the public WARC 1.0-1.1 spec): a WARC file is a plain
concatenation of records, each framed as

    WARC/1.0<CRLF>
    Header-Name: value<CRLF>          (named headers, any order)
    ...<CRLF>
    <CRLF>                            (blank line ends the block)
    <exactly Content-Length payload bytes>
    <CRLF><CRLF>                      (record terminator)

WET files are WARC files whose content records are ``WARC-Type:
conversion`` with ``Content-Type: text/plain`` — the extracted page
text, which is what the dedup / quality / lang-id operators in this
engine consume. In the wild ``.warc.gz`` compresses EACH RECORD AS
ITS OWN GZIP MEMBER and concatenates the members, so readers can
split a file at member boundaries without decompressing the whole
thing; stdlib ``zlib`` walks concatenated members via
``decompressobj(31)`` + ``unused_data``.

This module is the x146-x150 walker pattern applied to the text
pipeline's front door:

- ``warc_records(payload)`` — pure byte-walk, one dict PER RECORD
  (a WARC payload is a container of many records, unlike the
  one-row image walkers), every read bounds-checked, damage counted
  and never hidden (``clean`` flips on truncation, missing
  Content-Length, bad framing, or inter-record garbage).
- ``encode_warc(records, ...)`` — the inverse fixture generator
  (deterministic: gzip members are built with ``zlib.compressobj``,
  which embeds no timestamp).
- ``extract_warc_records(df)`` — EXPLODES payloads into one output
  row per record through ``functions._payload.per_payload``.
- ``read_warc(spark, path)`` — the source: ``binaryFile`` scan →
  ``extract_warc_records``. One task per WARC file; at 100 TB the
  unit of parallelism is the file (Common Crawl ships ~1 GB
  segments, ~80k files per crawl — far more files than executors,
  so file-granular is the right grain; member-granular splitting
  would only matter for pathological multi-TB single files).

Reference: engine-added (SURVEY.md §2.2 text-pipeline family); WARC
1.0/1.1 public spec layouts only.
"""

from __future__ import annotations

import zlib
from typing import TYPE_CHECKING, Any, Callable, Iterable

from etlp_spark.functions._payload import per_payload

if TYPE_CHECKING:  # pragma: no cover - typing only
    from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "warc_records",
    "encode_warc",
    "extract_warc_records",
    "read_warc",
    "read_warc_stream",
]

#: Output columns of one record row (id + parse_error added by
#: ``per_payload``).
_WARC_COLS = (
    ("rec_index", "int"),
    ("warc_type", "string"),
    ("target_uri", "string"),
    ("record_id", "string"),
    ("warc_date", "string"),
    ("content_type", "string"),
    ("content_length", "bigint"),
    ("n_headers", "int"),
    ("http_status", "int"),
    ("http_content_type", "string"),
    ("text", "string"),
    ("clean", "int"),
    ("compressed", "int"),
)


def _dechunk(entity: bytes) -> "tuple[bytes, int]":
    """Decode ``Transfer-Encoding: chunked`` framing (RFC 9112 §7.1):
    a hex chunk-size line (optional ``;ext`` dropped) + CRLF, that
    many data bytes, CRLF — terminated by a 0-size chunk (trailer
    fields and the final CRLF are ignored). Damage-contained: a bad
    chunk-size line, a truncated chunk, or missing framing CRLF keeps
    the decoded PREFIX and returns clean=0 — crawl WARCs preserve the
    raw message, so a cut-off download lands exactly here."""
    out = bytearray()
    pos = 0
    while True:
        eol = entity.find(_CRLF, pos)
        if eol < 0:
            return bytes(out), 0  # no size line: truncated framing
        size_tok = entity[pos:eol].split(b";")[0].strip()
        # pure hex digits ONLY: int(x, 16) also accepts '-6'/'+5'/
        # '0x5'/'1_0', and a negative size would move pos BACKWARD —
        # an infinite loop on attacker-controlled crawl bytes
        if not size_tok or any(
            c not in b"0123456789abcdefABCDEF" for c in size_tok
        ):
            return bytes(out), 0  # garbage where a hex size should be
        size = int(size_tok, 16)
        pos = eol + 2
        if size == 0:
            return bytes(out), 1
        chunk = entity[pos : pos + size]
        out += chunk
        if len(chunk) < size:
            return bytes(out), 0  # truncated inside a chunk
        pos += size
        if entity[pos : pos + 2] != _CRLF:
            return bytes(out), 0  # missing chunk-data CRLF
        pos += 2


def _inflate_partial(data: bytes) -> "tuple[bytes, int]":
    """zlib/gzip inflate (auto-detect wrapper) that keeps the PREFIX
    on a mid-stream error — fed in 64 KiB slices so every fully-
    processed slice's output survives a truncation or CRC failure
    (the _gunzip_members discipline). Returns (bytes, clean); a
    stream that never reached eof is clean=0 even when bytes came
    out (the tail is missing)."""
    obj = zlib.decompressobj(47)
    out = bytearray()
    step = 1 << 16
    try:
        for i in range(0, len(data), step):
            out += obj.decompress(data[i : i + step])
            if obj.eof:
                return bytes(out), 1
    except zlib.error:
        return bytes(out), 0
    return bytes(out), 0  # ran out of input before end-of-stream


def _http_response_meta(body: bytes) -> "tuple[int | None, str | None, bytes | None, int]":
    """Parse an ``application/http`` record payload (raw WARC
    response records — the bulk of a Common Crawl drop): status line,
    header block, entity body. Returns (status, content_type, body,
    clean). RFC-2822 header folding (continuation lines starting with
    SP/HT) extends the previous value, exactly as the WARC-level
    parser does. ``Transfer-Encoding: chunked`` is DECHUNKED first
    (crawl WARCs preserve the raw wire message), THEN
    ``Content-Encoding: gzip/deflate`` is inflated with stdlib zlib —
    the inverse of how a server built the message. Any framing or
    inflate failure keeps the decoded PREFIX and flips clean=0
    (``_inflate_partial`` feeds slices so a truncated gzip stream
    yields its head, exactly like ``_gunzip_members``); only an
    UNKNOWN transfer coding drops the body to None (those bytes are
    unreadable, not partially readable). A payload that doesn't
    start with ``HTTP/`` is damage, not a different format (the WARC
    header already declared msgtype)."""
    if body[:5] != b"HTTP/":
        return None, None, None, 0
    clean = 1
    head, sep, entity = body.partition(b"\r\n\r\n")
    if not sep:
        clean = 0  # header block never terminated: status may still read
        entity = b""
    lines = head.split(b"\r\n")
    parts = lines[0].split(b" ", 2)
    status = None
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    else:
        clean = 0
    folded: list[bytes] = []
    for line in lines[1:]:
        if line[:1] in (b" ", b"\t") and folded:
            folded[-1] += b" " + line.strip()
        else:
            folded.append(line)
    ctype = None
    encoding = None
    transfer = None
    for line in folded:
        name, hsep, value = line.partition(b":")
        if not hsep:
            clean = 0
            continue
        key = name.strip().lower()
        if key == b"content-type":
            ctype = value.strip().decode("utf-8", "replace")
        elif key == b"content-encoding":
            encoding = value.strip().lower()
        elif key == b"transfer-encoding":
            transfer = value.strip().lower()
    if transfer is not None and entity:
        # apply transfer codings innermost-last, i.e. reversed list
        # order ("gzip, chunked" means chunked was applied last)
        for coding in reversed(transfer.split(b",")):
            coding = coding.strip()
            if coding in (b"", b"identity"):
                continue
            if coding == b"chunked":
                entity, ok = _dechunk(entity)
                if not ok:
                    clean = 0
                    break
            elif coding in (b"gzip", b"x-gzip", b"deflate"):
                entity, ok = _inflate_partial(entity)
                if not ok:
                    clean = 0
                    break  # prefix kept; deeper codings would misread
            else:
                clean = 0  # unknown transfer coding: bytes unusable
                return status, ctype, None, 0
    if encoding in (b"gzip", b"deflate") and entity:
        entity, ok = _inflate_partial(entity)
        if not ok:
            clean = 0  # decoded prefix kept, damage counted
    return status, ctype, entity, clean

_CRLF = b"\r\n"

_CHARSET_RE = None  # compiled lazily (module import stays cheap)


def _decode_text(body: bytes, content_type: "str | None") -> "tuple[str, int]":
    """Decode a text payload honoring, in priority order: a BOM
    (in-band truth beats any label), the ``charset=`` parameter of
    the content type (crawled pages declare latin-1/windows-1251/...
    constantly — decoding everything as UTF-8 reads mojibake), then
    UTF-8; always ``errors=replace`` (damage shows as U+FFFD, the
    walk never dies on bytes). Returns (text, clean): clean flips
    when a DECLARED charset is unknown to the codec registry — the
    fallback decode is a guess, and guesses are counted."""
    global _CHARSET_RE
    if body[:3] == b"\xef\xbb\xbf":
        return body[3:].decode("utf-8", "replace"), 1
    # 4-byte UTF-32 BOMs BEFORE the 2-byte UTF-16 ones: the
    # UTF-32-LE BOM starts with the UTF-16-LE BOM's bytes
    if body[:4] == b"\xff\xfe\x00\x00":
        return body[4:].decode("utf-32-le", "replace"), 1
    if body[:4] == b"\x00\x00\xfe\xff":
        return body[4:].decode("utf-32-be", "replace"), 1
    if body[:2] == b"\xff\xfe":
        return body[2:].decode("utf-16-le", "replace"), 1
    if body[:2] == b"\xfe\xff":
        return body[2:].decode("utf-16-be", "replace"), 1
    if content_type:
        if _CHARSET_RE is None:
            import re

            _CHARSET_RE = re.compile(
                r"charset\s*=\s*\"?([A-Za-z0-9_.:+-]+)\"?",
                re.IGNORECASE,
            )
        m = _CHARSET_RE.search(content_type)
        if m:
            try:
                return body.decode(m.group(1), "replace"), 1
            except LookupError:
                return body.decode("utf-8", "replace"), 0
    return body.decode("utf-8", "replace"), 1


def _gunzip_members(payload: bytes) -> tuple[bytes, int, int]:
    """Decompress a concatenation of gzip members (the .warc.gz wire
    layout) with stdlib zlib, returning (bytes, n_members, clean).
    A corrupt TAIL — including a FIRST member cut mid-download —
    yields what decompressed so far, fed in 1 MiB slices so a
    mid-stream CRC or framing error keeps every fully-processed
    slice; ``clean`` flips to 0 so the record walk can COUNT the
    damage even when the cut member emitted no bytes at all (deflate
    buffers — a 30-byte stub may decode to nothing). Only a payload
    that yields NO bytes at all raises ValueError (whole-payload
    containment: it was never a .warc.gz)."""
    out = bytearray()
    members = 0
    clean = 1
    rest = payload
    step = 1 << 20
    while rest[:2] == b"\x1f\x8b":
        obj = zlib.decompressobj(31)
        after = b""
        try:
            for i in range(0, len(rest), step):
                out += obj.decompress(rest[i : i + step])
                if obj.eof:
                    # unused_data holds only the current slice's
                    # remainder — stitch the unfed tail back on
                    after = obj.unused_data + rest[i + step :]
                    break
        except zlib.error:
            clean = 0
            break
        if not obj.eof:
            clean = 0
            break  # member cut mid-stream: keep what decompressed
        members += 1
        rest = after
    if rest and clean:
        clean = 0  # leftover bytes that are not a gzip member
    if not members and not out:
        raise ValueError(
            "not a WARC payload (no gzip member decompressed)"
        )
    return bytes(out), members, clean


def warc_records(payload: bytes) -> "list[dict]":
    """Walk a WARC/WET payload into one dict per record.

    Per-record fields: ``rec_index`` (0-based file order),
    ``warc_type`` / ``target_uri`` / ``record_id`` / ``warc_date`` /
    ``content_type`` (named headers; None when absent),
    ``content_length`` (the DECLARED length), ``n_headers`` (header
    lines in the block), ``text`` (the payload decoded UTF-8-replace
    when content_type says ``text/*``, else None — a truncated
    record yields the bytes that exist), ``clean`` (1 unless the
    record is damaged: truncated payload, missing/garbled
    Content-Length, malformed header line, or missing CRLF-CRLF
    terminator), and ``compressed`` (1 when the payload arrived as
    gzip members — a file-level fact repeated per row so the
    exploded output stays self-describing).

    Damage containment mirrors the image walkers: a payload that is
    not WARC at all (no version line, bad gzip head) raises
    ValueError; garbage BETWEEN records is reported as its own row
    (``warc_type='garbage'``, clean=0) and ends the walk — counted,
    never silently skipped."""
    compressed = 0
    gz_dirty = 0
    n = len(payload)
    if payload[:2] == b"\x1f\x8b":
        payload, _members, gz_clean = _gunzip_members(payload)
        compressed = 1
        gz_dirty = 1 - gz_clean
        n = len(payload)
    if payload[:5] != b"WARC/":
        raise ValueError("not a WARC payload (no version line)")

    records: list[dict] = []
    pos = 0
    while pos < n:
        if payload[pos : pos + 5] != b"WARC/":
            # mid-stream garbage: count it as a terminal damaged row
            records.append(
                {
                    "rec_index": len(records),
                    "warc_type": "garbage",
                    "target_uri": None,
                    "record_id": None,
                    "warc_date": None,
                    "content_type": None,
                    "content_length": None,
                    "n_headers": None,
                    "http_status": None,
                    "http_content_type": None,
                    "text": None,
                    "clean": 0,
                    "compressed": compressed,
                }
            )
            break
        rec = {
            "rec_index": len(records),
            "warc_type": None,
            "target_uri": None,
            "record_id": None,
            "warc_date": None,
            "content_type": None,
            "content_length": None,
            "n_headers": 0,
            "http_status": None,
            "http_content_type": None,
            "text": None,
            "clean": 1,
            "compressed": compressed,
        }
        # version line
        eol = payload.find(_CRLF, pos)
        if eol < 0:
            rec["clean"] = 0
            records.append(rec)
            break
        pos = eol + 2
        # header block: named lines until the blank line. The spec
        # allows RFC-2822-style FOLDING (a continuation line starts
        # with SP/HT and extends the previous value); a name that is
        # empty or contains whitespace is not a legal field token —
        # counted as damage, never guessed at.
        content_length = None
        hdrs: list[list[bytes]] = []
        while True:
            eol = payload.find(_CRLF, pos)
            if eol < 0:
                rec["clean"] = 0
                pos = n
                break
            line = payload[pos:eol]
            pos = eol + 2
            if not line:
                break  # blank line = end of header block
            if line[0:1] in (b" ", b"\t") and hdrs:
                hdrs[-1][1] += b" " + line.strip()
                continue
            name, sep, value = line.partition(b":")
            name = name.strip()
            if not sep or not name or any(
                c in name for c in (b" ", b"\t")
            ):
                rec["clean"] = 0  # malformed header line
                continue
            hdrs.append([name.lower(), value.strip()])
        rec["n_headers"] = len(hdrs)
        for key, val in hdrs:
            if key == b"warc-type":
                rec["warc_type"] = val.decode("utf-8", "replace")
            elif key == b"warc-target-uri":
                rec["target_uri"] = val.decode("utf-8", "replace")
            elif key == b"warc-record-id":
                rec["record_id"] = val.decode("utf-8", "replace")
            elif key == b"warc-date":
                rec["warc_date"] = val.decode("utf-8", "replace")
            elif key == b"content-type":
                rec["content_type"] = val.decode("utf-8", "replace")
            elif key == b"content-length":
                try:
                    content_length = int(val)
                except ValueError:
                    rec["clean"] = 0
        if content_length is None or content_length < 0:
            # can't frame the payload: the record is damaged and the
            # rest of the file is unreachable — stop, don't guess
            rec["clean"] = 0
            records.append(rec)
            break
        rec["content_length"] = content_length
        body = payload[pos : pos + content_length]
        if len(body) < content_length:
            rec["clean"] = 0  # truncated inside the payload
        pos += len(body)
        ct = (rec["content_type"] or "").split(";")[0].strip()
        if ct.startswith("text/") or ct in (
            "application/json",  # WAT metadata records
            "application/warc-fields",  # warcinfo key:value text
        ):
            rec["text"], dclean = _decode_text(body, rec["content_type"])
            if not dclean:
                rec["clean"] = 0
        elif ct == "application/http":
            # raw WARC response/request record: the payload is the
            # full HTTP message (the bulk of a Common Crawl drop)
            status, hct, entity, hclean = _http_response_meta(body)
            rec["http_status"] = status
            rec["http_content_type"] = hct
            if not hclean:
                rec["clean"] = 0
            hbase = (hct or "").split(";")[0].strip()
            if entity is not None and (
                hbase.startswith("text/") or hbase == "application/json"
            ):
                rec["text"], dclean = _decode_text(entity, hct)
                if not dclean:
                    rec["clean"] = 0
        if payload[pos : pos + 4] == _CRLF + _CRLF:
            pos += 4
        elif len(body) == content_length:
            rec["clean"] = 0  # full payload but missing terminator
        records.append(rec)
    if gz_dirty and (not records or records[-1]["clean"] == 1):
        # a cut/corrupt gzip member whose partial deflate stream
        # emitted NO bytes would otherwise vanish silently — count
        # the compressed-tail damage as a terminal row
        records.append(
            {
                "rec_index": len(records),
                "warc_type": "garbage",
                "target_uri": None,
                "record_id": None,
                "warc_date": None,
                "content_type": None,
                "content_length": None,
                "n_headers": None,
                "http_status": None,
                "http_content_type": None,
                "text": None,
                "clean": 0,
                "compressed": compressed,
            }
        )
    return records


def encode_warc(
    records: "Iterable[dict]",
    *,
    gzip_members: bool = False,
    truncate_last_payload_at: "int | None" = None,
    trailing_garbage: bytes = b"",
) -> bytes:
    """Inverse fixture generator (x146-x150's pattern): build a WARC
    byte stream whose ``warc_records`` walk returns exactly the
    arguments. Each record dict takes ``warc_type``, ``body``
    (bytes or str), and optional ``target_uri`` / ``record_id`` /
    ``warc_date`` / ``content_type``. ``gzip_members`` wraps each
    record as its own gzip member (the .warc.gz wire layout),
    deterministically (zlib, no timestamp).
    ``truncate_last_payload_at`` cuts the LAST record's payload that
    many bytes in and drops its terminator (a download cut mid-
    record); ``trailing_garbage`` appends non-WARC bytes after the
    final record (both are uncompressed-layout damage knobs).

    The ``http`` knob builds a raw ``application/http`` response
    record from ``{status, reason, content_type, body, gzip,
    chunked, chunk_size, truncate_chunked_at}``: ``gzip`` applies
    ``Content-Encoding: gzip`` to the entity, ``chunked`` then frames
    it as ``Transfer-Encoding: chunked`` (gzip-then-chunk — the
    inverse of the reader's dechunk-then-inflate),
    ``truncate_chunked_at`` cuts the chunked stream mid-framing (the
    reader must keep the decoded prefix and flip clean)."""
    recs = list(records)
    pieces: list[bytes] = []
    for i, r in enumerate(recs):
        r = dict(r)
        if "http" in r:
            # build a raw response record: payload = full HTTP message
            h = r["http"]
            entity = h.get("body", b"")
            if isinstance(entity, str):
                entity = entity.encode("utf-8")
            enc_hdr = b""
            if h.get("gzip"):
                obj = zlib.compressobj(6, zlib.DEFLATED, 31)
                entity = obj.compress(entity) + obj.flush()
                enc_hdr = b"Content-Encoding: gzip\r\n"
            te_hdr = b""
            if h.get("chunked"):
                # chunk AFTER any Content-Encoding gzip: the decode
                # order is dechunk-then-inflate, so the encode order
                # is inflate's inverse first, framing last
                step = int(h.get("chunk_size", 7))
                chunks = bytearray()
                for ci in range(0, len(entity), step):
                    part = entity[ci : ci + step]
                    chunks += (
                        format(len(part), "x").encode("ascii") + _CRLF
                        + part + _CRLF
                    )
                chunks += b"0" + _CRLF + _CRLF
                if h.get("truncate_chunked_at") is not None:
                    chunks = chunks[: int(h["truncate_chunked_at"])]
                entity = bytes(chunks)
                te_hdr = b"Transfer-Encoding: chunked\r\n"
            status_line = (
                f"HTTP/1.1 {h.get('status', 200)} {h.get('reason', 'OK')}"
            )
            ct_line = f"Content-Type: {h.get('content_type', 'text/html')}"
            r["body"] = (
                status_line.encode("utf-8") + _CRLF
                + ct_line.encode("utf-8") + _CRLF
                + enc_hdr + te_hdr + _CRLF + entity
            )
            r.setdefault(
                "content_type", "application/http; msgtype=response"
            )
        body = r.get("body", b"")
        if isinstance(body, str):
            body = body.encode("utf-8")
        headers = [("WARC-Type", r.get("warc_type", "conversion"))]
        for key, field in (
            ("WARC-Record-ID", "record_id"),
            ("WARC-Date", "warc_date"),
            ("WARC-Target-URI", "target_uri"),
            ("Content-Type", "content_type"),
        ):
            if r.get(field) is not None:
                headers.append((key, r[field]))
        headers.append(("Content-Length", str(len(body))))
        rec = b"WARC/1.0\r\n"
        rec += b"".join(
            f"{k}: {v}".encode("utf-8") + _CRLF for k, v in headers
        )
        rec += _CRLF
        if i == len(recs) - 1 and truncate_last_payload_at is not None:
            rec += body[:truncate_last_payload_at]
        else:
            rec += body + _CRLF + _CRLF
        pieces.append(rec)
    if gzip_members:
        out = bytearray()
        for rec in pieces:
            obj = zlib.compressobj(6, zlib.DEFLATED, 31)
            out += obj.compress(rec) + obj.flush()
        return bytes(out)
    return b"".join(pieces) + trailing_garbage


def extract_warc_records(
    media_df: "DataFrame",
    id_col: str = "media_id",
    payload_col: str = "payload",
    *,
    strict: bool = True,
    attach: "Callable[[Any], list] | None" = None,
) -> "DataFrame":
    """One row per ``warc_records`` record, through ``per_payload``
    (whose flush budget bounds a task holding ~1 GB crawl segments);
    ``strict=False`` contains a non-WARC blob as a single NULL row +
    ``parse_error``. ``attach`` (value -> payloads) is forwarded: the
    producer runs in the same Python pass as the walk."""
    return per_payload(
        media_df, warc_records, _WARC_COLS,
        id_col=id_col, payload_col=payload_col, strict=strict,
        attach=attach,
    )


def read_warc(
    spark: "SparkSession",
    path: str,
    *,
    strict: bool = False,
) -> "DataFrame":
    """Read WARC/WET files (plain or .warc.gz member-concatenated)
    into one row per record: ``binaryFile`` scan → record explosion.
    The scan parallelizes per FILE (Common Crawl's unit: ~1 GB
    segments, tens of thousands per crawl), each task walking its
    file's records inside the scan stage — no shuffle, and column
    pruning upstream of the walk is irrelevant because the walk IS
    the scan. Per-task Python memory is bounded by ``per_payload``'s
    flush budget plus ONE file's inflated records (~4-5x the .warc.gz
    size). Defaults to ``strict=False``: real crawls contain
    damaged members, and an audit row beats a dead executor."""
    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").load(path)
    return extract_warc_records(
        files.select(
            F.col("path").alias("media_id"), F.col("content").alias("payload")
        ),
        strict=strict,
    )


def read_warc_stream(
    spark: "SparkSession",
    path: str,
    *,
    strict: bool = False,
    max_files_per_trigger: "int | None" = None,
) -> "DataFrame":
    """Streaming twin of ``read_warc``: a crawl DROP DIRECTORY as an
    unbounded source — each new .warc/.warc.gz file landing under
    ``path`` becomes one micro-batch unit, exploded to record rows by
    the same Arrow-batched walk (mapInPandas runs unchanged on
    streaming frames; the kernel is stateless per file, so exactly-
    once replay is the file source's checkpoint contract, nothing
    ours). ``max_files_per_trigger`` caps per-batch intake — the
    backpressure knob for a 1000-executor cluster chewing a backlog
    of ~1 GB segments (Common Crawl publishes ~80k per crawl; you
    want steady batches, not one 80 TB batch). Downstream composes
    exactly like batch: filter conversion/response records → text
    family / html strip → windowed aggregates or sinks."""
    from pyspark.sql import functions as F

    reader = spark.readStream.format("binaryFile").schema(
        "path string, modificationTime timestamp, "
        "length long, content binary"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(path)
    return extract_warc_records(
        files.select(
            F.col("path").alias("media_id"), F.col("content").alias("payload")
        ),
        strict=strict,
    )
