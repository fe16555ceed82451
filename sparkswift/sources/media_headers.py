"""Bounded-read media-header ingestion — container censuses WITHOUT
reading payload bytes.

The ``binaryFile``-based path (sources/loaders.py:load_binary_files)
materializes EVERY byte of every file before a census op sees it; for
header-only facts (mm26 MP3 framing, mm28 AVI census, mm29 MP4/BMFF
census) that is the difference between a metadata query and a full
100 TB scan — an MP4 census needs ftyp + moov (KBs) and the mdat
*size field*, roughly 0.1% of a video corpus's bytes.

This source instead maps over the FILE LISTING (Spark's binaryFile
reader with only ``path``/``length`` selected — column pruning means
no content is read) and performs RANGED reads per file through
pyarrow.fs (local now; the identical ``read_at`` calls become ranged
GETs on S3/HDFS). Reads go through a block cache so header-dense
regions cost one fetch per block, and every loader reports
``header_bytes_read`` next to ``file_bytes`` so the saving is a
measured column, not a claim.

Field extraction is NOT re-implemented: the ranged walk only does
size/seek arithmetic — the small header structures it fetches are fed
verbatim to the SAME certified in-memory parsers
(operators/multimodal.py: _parse_mp4_container, _parse_avi_container,
_decode_mp3_frame_header), so the two ingest paths cannot drift on
field semantics. The AVI, MP4 and Matroska loaders also take their
field lists and derived values (exact µs durations, frame counts)
from the in-memory ops' facts functions (_avi_facts, _mp4_facts,
_mkv_facts), and every loader runs through the same ``_map_rows``
shell. A pytest equality law additionally pins ranged ==
in-memory census rows across every synth-fixture branch.

Scale notes: one listing row per file → one task per file batch;
partition count follows the listing (cheap), not file bytes. Censuses
are map-side only, zero shuffle. ``spark.sql.files.maxPartitionBytes``
is irrelevant here — tasks never hold payloads, only headers.
"""

from __future__ import annotations

import struct
from typing import Callable, Iterator
from urllib.parse import unquote, urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkswift.operators.multimodal import (
    _AVI_FIELDS,
    _MKV_FIELDS,
    _MP3_FIELDS,
    _MP4_FIELDS,
    Fields,
    _avi_facts,
    _decode_f80,
    _decode_mp3_frame_header,
    _ebml_el,
    _map_rows,
    _mkv_facts,
    _mp4_facts,
    _parse_avi_container,
    _parse_matroska,
    _parse_mp4_container,
    _parse_ogg_vorbis,
    _parse_webp_header,
    _pick,
    _read_ebml_id,
    _read_ebml_size,
)
from sparkswift.operators.spread import width

DEFAULT_BLOCK_BYTES = 65536


class RangedReader:
    """Block-cached ranged reader over a pyarrow NativeFile.

    ``read_at(off, n)`` assembles the request from ``block_bytes``
    aligned fetches (a tiny LRU — header walks are locally
    sequential, so two live blocks suffice) and counts every byte
    actually FETCHED from storage in ``bytes_fetched`` — the honest
    cost metric: seeking past an mdat body costs nothing, while a
    4-byte header read costs its enclosing block once.
    """

    def __init__(self, f, size: int, block_bytes: int = DEFAULT_BLOCK_BYTES):
        self._f = f
        self.size = int(size)
        self._bs = max(1, int(block_bytes))
        self._cache: dict[int, bytes] = {}
        self.bytes_fetched = 0

    def _block(self, idx: int) -> bytes:
        blk = self._cache.get(idx)
        if blk is None:
            off = idx * self._bs
            n = min(self._bs, self.size - off)
            blk = self._f.read_at(n, off) if n > 0 else b""
            self.bytes_fetched += len(blk)
            if len(self._cache) >= 4:  # tiny LRU: drop oldest
                self._cache.pop(next(iter(self._cache)))
            self._cache[idx] = blk
        return blk

    def read_at(self, off: int, n: int) -> bytes:
        """Best-effort read of n bytes at off (short at EOF, like a
        POSIX pread) — callers bounds-check against .size."""
        off, n = int(off), int(n)
        if off >= self.size or n <= 0:
            return b""
        n = min(n, self.size - off)
        first, last = off // self._bs, (off + n - 1) // self._bs
        parts = []
        for idx in range(first, last + 1):
            blk = self._block(idx)
            lo = off - idx * self._bs if idx == first else 0
            hi = off + n - idx * self._bs if idx == last else len(blk)
            parts.append(blk[lo:hi])
        return b"".join(parts)


def open_ranged(
    path: str, block_bytes: int = DEFAULT_BLOCK_BYTES
) -> RangedReader:
    """Open any file:/hdfs:/s3: URI (or a bare local path) for ranged
    reads via pyarrow.fs — the one place the storage scheme is
    resolved, so every census below is storage-agnostic."""
    import pyarrow.fs as pafs

    parsed = urlparse(path)
    if parsed.scheme in ("", "file"):
        local = unquote(parsed.path) if parsed.scheme else path
        fs, where = pafs.LocalFileSystem(), local
    else:
        fs, where = pafs.FileSystem.from_uri(path)
    f = fs.open_input_file(where)
    return RangedReader(f, f.size(), block_bytes)


# --- ranged census walks ---------------------------------------------------


def census_mp4_ranged(r: RangedReader) -> dict:
    """MP4/ISO-BMFF census from ranged reads: walk TOP-LEVEL box
    headers only; fetch every non-mdat box verbatim (ftyp + moov +
    stray free/skip — KBs) into a buffer that the certified
    _parse_mp4_container walks for all field extraction; account each
    mdat from its SIZE FIELD alone, never touching the body. Matches
    the in-memory parser exactly, incl. 64-bit largesize and the
    size=0 extends-to-EOF last box."""
    end = r.size
    hdr = bytearray()
    mdat_bytes = 0
    pos = 0
    while pos + 8 <= end:
        head = r.read_at(pos, 16)
        if len(head) < 8:
            raise ValueError(f"corrupt ISO-BMFF box at byte {pos}")
        (size,) = struct.unpack_from(">I", head, 0)
        typ = head[4:8]
        hlen = 8
        if size == 1:  # 64-bit largesize follows the fourcc
            if len(head) < 16:
                raise ValueError(f"corrupt ISO-BMFF box at byte {pos}")
            (size,) = struct.unpack_from(">Q", head, 8)
            hlen = 16
        elif size == 0:  # box extends to EOF (spec: last box)
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"corrupt ISO-BMFF box at byte {pos}")
        if typ == b"mdat":
            mdat_bytes += size - hlen
        else:
            body = r.read_at(pos, size)
            if len(body) != size:
                raise ValueError(f"corrupt ISO-BMFF box at byte {pos}")
            hdr += body
        pos += size
    info = _parse_mp4_container(bytes(hdr))
    info["mdat_bytes"] = mdat_bytes
    return info


def census_avi_ranged(r: RangedReader) -> dict:
    """RIFF/AVI census from ranged reads: fetch the hdrl LIST
    verbatim and feed it, rewrapped as a minimal RIFF, to the
    certified _parse_avi_container for avih/strh field extraction;
    count movi data chunks and their byte totals from 8-byte chunk
    headers alone (8 bytes read per frame, bodies seeked past); idx1
    noted from its header. Iterative stack walk, bounds-checked, same
    ValueError surface as the in-memory parser."""
    end = r.size
    head12 = r.read_at(0, 12)
    if head12[:4] != b"RIFF" or head12[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    hdrl: bytes | None = None
    n_chunks = 0
    video_bytes = 0
    has_index = 0
    stack = [(12, end)]
    while stack:
        pos, lim = stack.pop()
        while pos + 8 <= lim:
            head = r.read_at(pos, 12)
            if len(head) < 8:
                raise ValueError(
                    f"truncated RIFF/AVI chunk {head[:4]!r} at {pos}"
                )
            fourcc = head[:4]
            (size,) = struct.unpack_from("<I", head, 4)
            dpos = pos + 8
            if dpos + size > lim:
                raise ValueError(
                    f"truncated RIFF/AVI chunk {fourcc!r} at {pos}"
                )
            if fourcc == b"LIST":
                if size < 4:
                    raise ValueError("RIFF LIST chunk shorter than its type")
                ltype = head[8:12]
                if ltype == b"hdrl" and hdrl is None:
                    body = r.read_at(pos, 8 + size)
                    if len(body) != 8 + size:
                        raise ValueError(
                            f"truncated RIFF/AVI chunk {fourcc!r} at {pos}"
                        )
                    hdrl = bytes(body)
                else:
                    stack.append((dpos + size + (size % 2), lim))
                    pos, lim = dpos + 4, dpos + size
                    continue
            elif fourcc[2:4] in (b"dc", b"db") and fourcc[:2].isdigit():
                n_chunks += 1
                video_bytes += size
            elif fourcc == b"idx1":
                has_index = 1
            pos = dpos + size + (size % 2)
    if hdrl is None:
        raise ValueError("RIFF/AVI payload has no avih header")
    mini = b"RIFF" + struct.pack("<I", 4 + len(hdrl)) + b"AVI " + hdrl
    info = _parse_avi_container(mini)
    info["n_chunks"] = n_chunks
    info["video_bytes"] = video_bytes
    info["has_index"] = has_index
    return info


def census_webp_ranged(r: RangedReader) -> dict:
    """WebP header census from ranged reads: walk chunk headers with
    seeks, fetching only the tiny header spans (VP8X 10 B, VP8
    key-frame front 10 B, VP8L front 5 B) and rebuilding a minimal
    container those fetched spans feed to the certified in-memory
    _parse_webp_header — large ALPH/ANMF/image payloads are seeked
    past, accounted from their size fields."""
    end = r.size
    head = r.read_at(0, 12)
    if head[:4] != b"RIFF" or head[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    mini = bytearray()
    image_bytes = 0
    pos = 12
    while pos + 8 <= end:
        ch = r.read_at(pos, 8)
        if len(ch) < 8:
            raise ValueError(f"truncated WebP chunk {ch[:4]!r}")
        fourcc = ch[:4]
        (size,) = struct.unpack_from("<I", ch, 4)
        dpos = pos + 8
        if dpos + size > end:
            raise ValueError(f"truncated WebP chunk {fourcc!r}")
        if fourcc in (b"VP8X", b"VP8 ", b"VP8L"):
            take = {b"VP8X": 10, b"VP8 ": 10, b"VP8L": 5}[fourcc]
            take = min(take, size)
            front = r.read_at(dpos, take)
            if len(front) != take:
                raise ValueError(f"truncated WebP chunk {fourcc!r}")
            # re-declare the chunk at its REAL size with a zero-padded
            # body so byte accounting in the shared parser is exact
            mini += fourcc + struct.pack("<I", size)
            mini += front + bytes(size - take) + (b"\x00" if size % 2 else b"")
            if fourcc in (b"VP8 ", b"VP8L"):
                image_bytes += size
        pos = dpos + size + (size % 2)
    payload = b"RIFF" + struct.pack("<I", 4 + len(mini)) + b"WEBP" + bytes(mini)
    info = _parse_webp_header(payload)
    info["image_bytes"] = image_bytes  # identical by construction
    return info


def census_ogg_ranged(r: RangedReader) -> dict:
    """Ogg/Vorbis census from ranged reads: 27-byte page headers +
    lacing tables + the BOS body (the Vorbis id header) are fetched;
    audio page BODIES are seeked past and accounted from the lacing
    sums. NOTE: page CRC verification requires the full page bytes,
    so this bounded path does NOT verify CRCs (the in-memory
    `_parse_ogg_vorbis` does — run it on suspect corpora); framing
    sync, truncation and id-header checks still apply."""
    end = r.size
    if r.read_at(0, 4) != b"OggS":
        raise ValueError("not an Ogg payload")
    info = {
        "sample_rate": None, "channels": None, "n_pages": 0,
        "last_granule": 0, "audio_bytes": 0, "has_eos": 0,
    }
    pos = 0
    while pos + 27 <= end:
        head = r.read_at(pos, 27)
        if head[:4] != b"OggS" or head[4] != 0:
            raise ValueError(f"lost Ogg page sync at byte {pos}")
        htype = head[5]
        (granule,) = struct.unpack_from("<q", head, 6)
        nseg = head[26]
        lacing = r.read_at(pos + 27, nseg)
        if len(lacing) != nseg:
            raise ValueError("truncated Ogg lacing table")
        body_len = sum(lacing)
        page_end = pos + 27 + nseg + body_len
        if page_end > end:
            raise ValueError("truncated Ogg page body")
        info["n_pages"] += 1
        if htype & 0x02:
            body = r.read_at(pos + 27 + nseg, body_len)
            if body[:7] != b"\x01vorbis" or len(body) < 30:
                raise ValueError("Ogg BOS page lacks a Vorbis id header")
            info["channels"] = body[11]
            (info["sample_rate"],) = struct.unpack_from("<I", body, 12)
        else:
            info["audio_bytes"] += body_len
            if granule >= 0:
                info["last_granule"] = max(info["last_granule"], granule)
        if htype & 0x04:
            info["has_eos"] = 1
        pos = page_end
    if pos != end:
        raise ValueError("trailing garbage after last Ogg page")
    if info["sample_rate"] is None:
        raise ValueError("Ogg stream has no Vorbis id header")
    return info


def census_mkv_ranged(r: RangedReader) -> dict:
    """Matroska/WebM census from ranged reads (the mp4 pattern for
    EBML): fetch the EBML header element verbatim, then walk the
    Segment's TOP-LEVEL children fetching every non-Cluster element
    (SeekHead/Info/Tracks/Tags — KBs) into a rebuilt mini-container
    that the certified in-memory _parse_matroska walks for all field
    extraction; Clusters — the payload, mdat's analog — are accounted
    from their SIZE VINTS alone and seeked past."""
    end = r.size
    head = r.read_at(0, 12)
    if head[:4] != b"\x1aE\xdf\xa3":
        raise ValueError("not an EBML/Matroska payload")

    def read_header(pos: int) -> tuple[int, int, int]:
        span = r.read_at(pos, 24)
        eid, p = _read_ebml_id(span, 0)
        size, p = _read_ebml_size(span, p)
        return eid, size, pos + p

    eid, size, body0 = read_header(0)
    if body0 + size > end:
        raise ValueError("truncated EBML header element")
    mini = bytearray(r.read_at(0, body0 + size))
    pos = body0 + size
    cluster_bytes = 0
    seg_children = bytearray()
    while pos < end:
        eid, size, bpos = read_header(pos)
        if bpos + size > end:
            raise ValueError(f"EBML element 0x{eid:X} overruns file")
        if eid != 0x18538067:  # only Segment is walked at top level
            mini += r.read_at(pos, bpos - pos + size)
            pos = bpos + size
            continue
        cpos, cend = bpos, bpos + size
        while cpos < cend:
            ceid, csize, cbpos = read_header(cpos)
            if cbpos + csize > cend:
                raise ValueError(
                    f"EBML element 0x{ceid:X} overruns Segment"
                )
            if ceid == 0x1F43B675:  # Cluster: account size, seek past
                cluster_bytes += csize
            else:
                seg_children += r.read_at(cpos, cbpos - cpos + csize)
            cpos = cbpos + csize
        pos = cend
    info = _parse_matroska(bytes(mini + _ebml_el(0x18538067, bytes(seg_children))))
    info["cluster_bytes"] = cluster_bytes  # from size vints alone
    return info


def census_aiff_ranged(r: RangedReader) -> dict:
    """AIFF/AIFC census from ranged reads: IFF chunk headers walked
    with seeks, COMM fetched (tiny — the 80-bit extended rate field
    decodes through the same certified _decode_f80), SSND body
    accounted from its size field alone. Duration is exact integer
    µs from COMM's frame count and integral rate."""
    end = r.size
    head = r.read_at(0, 12)
    if head[:4] != b"FORM" or head[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not an AIFF payload")
    is_aifc = head[8:12] == b"AIFC"
    pos = 12
    comm = None
    ssnd_bytes = 0
    while pos + 8 <= end:
        ch = r.read_at(pos, 8)
        if len(ch) < 8:
            raise ValueError("truncated AIFF chunk header")
        fourcc = ch[:4]
        (size,) = struct.unpack_from(">I", ch, 4)
        if pos + 8 + size > end:
            raise ValueError(f"truncated AIFF chunk {fourcc!r}")
        if fourcc == b"COMM":
            comm = r.read_at(pos + 8, size)
        elif fourcc == b"SSND":
            ssnd_bytes = max(0, size - 8)  # minus offset/blockSize
        pos += 8 + size + (size % 2)
    if comm is None or len(comm) < 18:
        raise ValueError("AIFF payload missing/short COMM chunk")
    nchan, nframes, bits = struct.unpack_from(">HIH", comm, 0)
    rate = _decode_f80(comm[8:18])
    ctype = comm[18:22] if (is_aifc and len(comm) >= 22) else b"NONE"
    return {
        "n_channels": int(nchan), "n_frames": int(nframes),
        "bits": int(bits), "sample_rate": int(rate),
        "duration_us": int(nframes) * 1_000_000 // int(rate),
        "audio_bytes": int(ssnd_bytes),
        "compression": ctype.decode("ascii", "replace"),
    }


def census_mp3_ranged(
    r: RangedReader, max_frames: int | None = None
) -> dict:
    """MP3 framing census from ranged reads: ID3v2 skip from a
    10-byte prefix (v2.4 footer-aware), ID3v1 trailer from one
    128-byte tail read, then 4 bytes per frame header with the body
    seeked past — header decode shared verbatim with the in-memory
    walk (_decode_mp3_frame_header). ``max_frames`` bounds the walk
    for triage-at-a-glance mode: the census then covers the first N
    frames and sets ``truncated`` = 1 (exactness flag — duration/
    byte totals are prefixes, not stream totals)."""
    pos = 0
    b10 = r.read_at(0, 10)
    if b10[:3] == b"ID3":
        if len(b10) < 10:
            raise ValueError("truncated ID3v2 header")
        sz = (
            ((b10[6] & 0x7F) << 21) | ((b10[7] & 0x7F) << 14)
            | ((b10[8] & 0x7F) << 7) | (b10[9] & 0x7F)
        )
        pos = 10 + sz
        if b10[5] & 0x10:  # ID3v2.4 footer: 10 extra trailing bytes
            pos += 10
    end = r.size
    if end - pos >= 128 and r.read_at(end - 128, 3) == b"TAG":
        end -= 128
    n = samples = dur_us = nbytes_total = 0
    min_kbps = max_kbps = None
    truncated = 0
    while pos < end:
        if max_frames is not None and n >= max_frames:
            truncated = 1
            break
        if end - pos < 4:
            raise ValueError("trailing garbage after last MP3 frame")
        h = int.from_bytes(r.read_at(pos, 4), "big")
        kbps, rate, spf, nbytes = _decode_mp3_frame_header(h, pos)
        if pos + nbytes > end:
            raise ValueError("truncated final MP3 frame")
        n += 1
        samples += spf
        dur_us += spf * 1_000_000 // rate
        nbytes_total += nbytes
        min_kbps = kbps if min_kbps is None else min(min_kbps, kbps)
        max_kbps = kbps if max_kbps is None else max(max_kbps, kbps)
        pos += nbytes
    if n == 0:
        raise ValueError("MP3 stream has no frames")
    return {
        "n_frames": n,
        "total_samples": samples,
        "duration_us": dur_us,
        "stream_bytes": nbytes_total,
        "min_kbps": min_kbps,
        "max_kbps": max_kbps,
        "is_vbr": int(min_kbps < max_kbps),
        "truncated": truncated,
    }


# --- Spark loaders ---------------------------------------------------------


def list_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """The listing-only half of binaryFile: (path, file_bytes) with
    NO content column selected — column pruning keeps this a pure
    file-listing scan, zero payload bytes read."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path).select(
        "path", F.col("length").cast("bigint").alias("file_bytes")
    )


def _header_loader(
    listing: DataFrame,
    census: Callable[[RangedReader], tuple],
    fields: Fields,
    block_bytes: int,
) -> DataFrame:
    """Per listing row, open ranged, run the census (its values in
    ``fields`` order), emit path, file_bytes, the census fields and
    header_bytes_read. binaryFile packs even a few hundred tiny files
    into dozens of splits, each paying the per-task floor for a
    header read, so the listing is coalesced to the spread "listing"
    width — a narrow merge of the scan's splits, no shuffle."""

    def row(p, fb) -> tuple:
        r = open_ranged(str(p), block_bytes)
        return (str(p), int(fb), *census(r), r.bytes_fetched)

    return _map_rows(
        listing.coalesce(width(listing, "listing")),
        ["path", "file_bytes"],
        [("path", "string"), ("file_bytes", "bigint"), *fields,
         ("header_bytes_read", "bigint")],
        row,
    )


def load_mp4_headers(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
) -> DataFrame:
    """MP4/ISO-BMFF container census over a directory WITHOUT reading
    media bytes — mm29's facts (brand, timescale/duration, exact µs,
    track count, codec fourccs, mdat byte total) at listing+headers
    cost."""
    return _header_loader(
        list_files(spark, path, glob),
        lambda r: _mp4_facts(census_mp4_ranged(r)),
        _MP4_FIELDS,
        block_bytes,
    )


def load_avi_headers(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
) -> DataFrame:
    """RIFF/AVI container census over a directory at headers-only
    cost — mm28's facts (codec fourcc, geometry, frame count, exact
    µs duration, video byte total, index presence)."""
    return _header_loader(
        list_files(spark, path, glob),
        lambda r: _avi_facts(census_avi_ranged(r)),
        _AVI_FIELDS,
        block_bytes,
    )


def load_mkv_headers(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
) -> DataFrame:
    """Matroska/WebM container census over a directory at
    headers-only cost — mm40's facts with Cluster payloads accounted
    from size vints, never fetched."""
    return _header_loader(
        list_files(spark, path, glob),
        lambda r: _mkv_facts(census_mkv_ranged(r)),
        _MKV_FIELDS,
        block_bytes,
    )


def load_mp3_headers(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_frames: int | None = None,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
) -> DataFrame:
    """MP3 framing census over a directory at 4-bytes-per-frame cost
    — mm26's facts; ``max_frames`` switches to first-N-frames triage
    with ``truncated`` = 1 flagging the inexact rows."""
    fields = [*_MP3_FIELDS, ("truncated", "bigint")]
    return _header_loader(
        list_files(spark, path, glob),
        lambda r: _pick(census_mp3_ranged(r, max_frames), fields),
        fields,
        block_bytes,
    )


_SNIFF = (
    ("mp4", lambda b: len(b) >= 12 and b[4:8] == b"ftyp"),
    ("mkv", lambda b: b[:4] == b"\x1aE\xdf\xa3"),
    ("aiff", lambda b: b[:4] == b"FORM" and b[8:12] in (b"AIFF", b"AIFC")),
    ("avi", lambda b: b[:4] == b"RIFF" and b[8:12] == b"AVI "),
    ("webp", lambda b: b[:4] == b"RIFF" and b[8:12] == b"WEBP"),
    ("ogg", lambda b: b[:4] == b"OggS"),
    ("mp3", lambda b: b[:3] == b"ID3" or (
        len(b) >= 2 and b[0] == 0xFF and (b[1] & 0xE0) == 0xE0
    )),
)


def sniff_media_format(r: RangedReader) -> str:
    """Magic-byte format sniff from the first 12 bytes."""
    head = r.read_at(0, 12)
    for name, pred in _SNIFF:
        if pred(head):
            return name
    raise ValueError("unrecognized media container (want MP4/AVI/MP3)")


def write_payload_files(
    df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    ext: str = "bin",
    ext_col: str | None = None,
) -> int:
    """Materialize a payload column as one file per row
    (``doc_<id>.<ext>``) with DISTRIBUTED task-side writes — the
    fixture bridge that turns the synth payload generators into an
    on-disk corpus for the ranged loaders (local/shared FS; a real
    crawl's corpus already is files). Returns the file count.

    ``ext_col`` names a per-row extension column: a MIXED corpus
    (several formats unioned into one frame) then lands in ONE Spark
    job instead of one job per format — the mm32/st38 call sites went
    from 4 jobs + 4 driver collects to 1 + 1 (guide §1.2: fixed
    per-job overhead dominates small-task work)."""
    import os

    os.makedirs(out_dir, exist_ok=True)

    def write_part(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        for pdf in it:
            exts = pdf[ext_col] if ext_col is not None else None
            for row, (i, p) in enumerate(zip(pdf[id_col], pdf[payload_col])):
                e = exts.iloc[row] if exts is not None else ext
                name = os.path.join(out_dir, f"doc_{int(i):08d}.{e}")
                with open(name, "wb") as f:
                    f.write(bytes(p))
            n += len(pdf)
        yield pd.DataFrame({"n": pd.Series([n], dtype="int64")})

    cols = [id_col, payload_col] + ([ext_col] if ext_col is not None else [])
    return int(
        df.select(*cols)
        .mapInPandas(write_part, "n bigint")
        .agg(F.sum("n"))
        .collect()[0][0]
    )


def load_media_triage(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    mp3_max_frames: int | None = None,
    block_bytes: int = DEFAULT_BLOCK_BYTES,
) -> DataFrame:
    """MIXED-corpus triage at headers-only cost — the real crawl
    shape: one directory, whatever containers arrived. Per file:
    magic-sniff the format from the first 12 bytes, dispatch to the
    matching ranged census, and normalize to one schema —
    ``media_format`` (mp3/avi/mp4/webp/ogg/mkv/aiff), ``detail`` (codec fourcc where
    the container names one), ``n_units`` (frames / video chunks /
    tracks), ``duration_us`` (exact integer microseconds),
    ``media_bytes`` (audio stream / video chunk / mdat bytes) — plus
    the standard ``file_bytes`` and ``header_bytes_read`` cost
    columns. Unrecognized files raise (triage must be loud, not
    lossy); pre-filter with ``glob`` to quarantine junk."""

    def named(fields: Fields, facts: tuple) -> dict:
        return {n: v for (n, _), v in zip(fields, facts)}

    def census(r: RangedReader) -> tuple:
        fmt = sniff_media_format(r)
        if fmt == "mp3":
            c = census_mp3_ranged(r, mp3_max_frames)
            return "mp3", "", c["n_frames"], c["duration_us"], c["stream_bytes"]
        if fmt == "avi":
            c = named(_AVI_FIELDS, _avi_facts(census_avi_ranged(r)))
            return (
                "avi", c["codec"], c["n_frames"], c["duration_us"],
                c["video_bytes"],
            )
        if fmt == "webp":
            c = census_webp_ranged(r)
            # n_units: still=1, animated >=2; stills carry no timeline
            return "webp", c["variant"], 1 + c["has_anim"], 0, c["image_bytes"]
        if fmt == "aiff":
            c = census_aiff_ranged(r)
            detail = (
                f"pcm{c['bits']}" if c["compression"] in ("NONE", "sowt")
                else c["compression"]
            )
            return (
                "aiff", detail, c["n_frames"], c["duration_us"],
                c["audio_bytes"],
            )
        if fmt == "mkv":
            c = named(_MKV_FIELDS, _mkv_facts(census_mkv_ranged(r)))
            return (
                "mkv", c["video_codec"], c["n_tracks"], c["duration_us"],
                c["cluster_bytes"],
            )
        if fmt == "ogg":
            c = census_ogg_ranged(r)
            return (
                "ogg", "vorbis", c["n_pages"],
                c["last_granule"] * 1_000_000 // c["sample_rate"],
                c["audio_bytes"],
            )
        c = named(_MP4_FIELDS, _mp4_facts(census_mp4_ranged(r)))
        return (
            "mp4", c["video_codec"], c["n_tracks"], c["duration_us"],
            c["mdat_bytes"],
        )

    return _header_loader(
        list_files(spark, path, glob),
        census,
        [
            ("media_format", "string"), ("detail", "string"),
            ("n_units", "bigint"), ("duration_us", "bigint"),
            ("media_bytes", "bigint"),
        ],
        block_bytes,
    )
