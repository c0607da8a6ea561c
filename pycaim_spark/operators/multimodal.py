"""Multimodal column support (SURVEY.md §2.C mm_column; task north star).

Design: a modality payload is an opaque ``binary`` column packed with typed
metadata (mime, uri, byte size) in sibling columns / a struct — the layout
a 100 TB multimodal lakehouse table uses (parquet stores the blob column
contiguously; metadata predicates prune row groups without touching bytes).

Decode / feature-extraction runs as Arrow-batched ``mapInPandas`` so each
task streams record batches (bounded memory even with large blobs). The
actual image/audio codecs are NOT available in this environment, so the
decoder is a deterministic STUB that parses our fake 8-byte header; the
Spark-side plumbing — schema, batch iteration, partition behavior — is real
and tested. Swap ``_decode_fake_header`` for PIL/ffmpeg in production.
"""

from __future__ import annotations

import sys as _sys
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

try:
    from pyspark import cloudpickle as _cloudpickle
except ImportError:  # pragma: no cover
    import cloudpickle as _cloudpickle

#: Fake modality header: magic 'MM' + 1-byte kind + 1-byte channels +
#: 2-byte width + 2-byte height (big-endian). Deterministically derived
#: from text fixtures by pack_demo_payload.
_MAGIC = b"MM"

DECODED_SCHEMA = (
    "doc_id long, mime string, payload_bytes long, "
    "kind int, channels int, width int, height int, valid boolean"
)


def _decode_fake_header(blob: bytes):
    """STUB decoder: parse the fake header; a real build calls the codec
    here (PIL.Image.open / soundfile / pyav) — deliberately the only line
    that changes."""
    if blob is None or len(blob) < 8 or blob[:2] != _MAGIC:
        return None
    return {
        "kind": blob[2],
        "channels": blob[3],
        "width": int.from_bytes(blob[4:6], "big"),
        "height": int.from_bytes(blob[6:8], "big"),
    }


def decode_metadata(packed: DataFrame) -> DataFrame:
    """mapInPandas decode: binary payloads → typed modality metadata.

    Real Arrow plumbing: the function receives an iterator of record
    batches and yields transformed batches — constant memory per task no
    matter the table size.
    """

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_decode_fake_header(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "payload_bytes": [
                        len(b) if b is not None else 0 for b in pdf["payload"]
                    ],
                    "kind": [m["kind"] if m else -1 for m in metas],
                    "channels": [m["channels"] if m else -1 for m in metas],
                    "width": [m["width"] if m else -1 for m in metas],
                    "height": [m["height"] if m else -1 for m in metas],
                    "valid": [m is not None for m in metas],
                }
            )

    return packed.mapInPandas(decode_batches, DECODED_SCHEMA)


def pack_demo_payload(docs: DataFrame) -> DataFrame:
    """Deterministically derive a fake binary modality payload per document
    (header + utf-8 text bytes) — the fixture for decode plumbing tests."""
    header = F.concat(
        F.lit(_MAGIC),
        # kind=1 (image-like), channels=3
        F.lit(bytes([1, 3])),
        # width/height from doc_id — deterministic, parseable
        F.expr("CAST(unhex(lpad(hex((doc_id % 512) + 16), 4, '0')) AS BINARY)"),
        F.expr("CAST(unhex(lpad(hex((doc_id % 256) + 16), 4, '0')) AS BINARY)"),
    )
    return docs.select(
        "doc_id",
        F.concat(header, F.encode("text", "utf-8")).alias("payload"),
        F.lit("image/fake").alias("mime"),
        F.concat(F.lit("mem://documents/"), F.col("doc_id")).alias("uri"),
    )


# --- Real binary formats -----------------------------------------------------
# Genuine PNG, JPEG, and WAV payloads, generated and decoded with the stdlib
# only (zlib + struct + crc32): the decode path parses REAL container formats
# — CRC-validated PNG IHDR, ITU T.81 marker walk to the JPEG SOF frame
# header, RIFF chunk walk for WAV — not a toy header.

import binascii as _binascii
import struct as _struct
import zlib as _zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        _struct.pack(">I", len(data))
        + tag
        + data
        + _struct.pack(">I", _binascii.crc32(tag + data) & 0xFFFFFFFF)
    )


def make_png(width: int, height: int, seed: int = 0) -> bytes:
    """A fully valid 8-bit grayscale PNG (signature, CRC'd IHDR/IDAT/IEND,
    zlib-compressed scanlines with filter byte 0)."""
    ihdr = _struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((seed + y + x) % 256 for x in range(width))
        for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def _jpeg_segment(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) + _struct.pack(">H", len(payload) + 2) + payload


def make_jpeg(width: int, height: int, channels: int = 3) -> bytes:
    """A structurally valid baseline JPEG marker stream: SOI, JFIF APP0,
    DQT, SOF0 (the frame header carrying precision/height/width/
    components), SOS, entropy stub, EOI. The metadata decoder only needs
    the marker walk up to SOF0 to be spec-correct — which it is. The SOS
    scan header declares the same ``channels`` components as SOF0 so the
    stream stays self-consistent under a strict validator."""
    app0 = b"JFIF\x00\x01\x01\x00" + _struct.pack(">HH", 1, 1) + b"\x00\x00"
    sof0 = _struct.pack(">BHHB", 8, height, width, channels) + b"".join(
        bytes([i + 1, 0x11, 0]) for i in range(channels)
    )
    sos = bytes([channels]) + b"".join(
        bytes([i + 1, 0x00]) for i in range(channels)
    ) + b"\x00\x3f\x00"
    return (
        b"\xff\xd8"
        + _jpeg_segment(0xE0, app0)
        + _jpeg_segment(0xDB, b"\x00" + bytes(64))
        + _jpeg_segment(0xC0, sof0)
        + _jpeg_segment(0xDA, sos)
        + b"\x00" * 8
        + b"\xff\xd9"
    )


def make_wav(sample_rate: int, channels: int, n_samples: int) -> bytes:
    """A fully valid 16-bit PCM RIFF/WAVE file with deterministic samples."""
    frames = b"".join(
        _struct.pack("<h", ((i * 1103) % 20000) - 10000)
        for i in range(n_samples * channels)
    )
    bits = 16
    fmt = _struct.pack(
        "<HHIIHH", 1, channels, sample_rate,
        sample_rate * channels * bits // 8, channels * bits // 8, bits,
    )
    return (
        b"RIFF"
        + _struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(frames))
        + b"WAVE"
        + b"fmt " + _struct.pack("<I", len(fmt)) + fmt
        + b"data" + _struct.pack("<I", len(frames)) + frames
    )


def decode_media(blob: bytes) -> dict | None:
    """Parse a real PNG, JPEG, or WAV payload into typed metadata.

    PNG: signature + IHDR (first chunk, CRC-verified) → width/height/
    bit-depth. JPEG: ITU T.81 marker walk to the SOF0-3 frame header →
    width/height/bit_depth(precision)/channels(Nf components). WAV:
    RIFF/WAVE chunk walk → fmt (PCM only) + data size → channels/
    sample-rate/bit-depth/sample count. Returns None for anything
    unparseable — a corrupted IHDR CRC, a truncated or inconsistent JPEG
    segment, scan data before any frame header.
    """
    if blob is None:
        return None
    b = bytes(blob)
    if b.startswith(_PNG_SIG) and len(b) >= 33:
        (length,) = _struct.unpack(">I", b[8:12])
        tag = b[12:16]
        # Validate tag/length BEFORE slicing the CRC: a corrupted length
        # field would otherwise make the CRC slice <4 bytes and unpack
        # raise struct.error instead of returning None. length == 13 plus
        # the len(b) >= 33 check above guarantees the slices below.
        if tag != b"IHDR" or length != 13:
            return None
        data = b[16 : 16 + length]
        (stored_crc,) = _struct.unpack(">I", b[16 + length : 20 + length])
        if (_binascii.crc32(tag + data) & 0xFFFFFFFF) != stored_crc:
            return None  # corrupted header
        width, height = _struct.unpack(">II", data[:8])
        return {
            "fmt": "png", "width": width, "height": height,
            "bit_depth": data[8], "channels": -1, "sample_rate": -1,
            "n_samples": -1,
        }
    if b[:2] == b"\xff\xd8":
        # JPEG marker walk to the SOF0/1/2/3 frame header (ITU T.81 §B.2):
        # every non-standalone segment is FF <marker> <len16 incl. itself>.
        # Stops at SOS/EOI — a stream with no frame header before scan
        # data is undecodable, return None (never raise).
        pos = 2
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xFF:  # fill byte padding before a marker
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2  # standalone markers carry no length
                continue
            if marker in (0xD9, 0xDA):
                return None  # EOI / scan data reached without a SOF
            (seglen,) = _struct.unpack(">H", b[pos + 2 : pos + 4])
            if seglen < 2 or pos + 2 + seglen > len(b):
                return None  # corrupted/truncated segment length
            if marker in (0xC0, 0xC1, 0xC2, 0xC3):  # SOF0-3 frame header
                body = b[pos + 4 : pos + 2 + seglen]
                if len(body) < 6:
                    return None
                precision = body[0]
                frame_h, frame_w = _struct.unpack(">HH", body[1:5])
                ncomp = body[5]
                if seglen != 8 + 3 * ncomp:
                    return None  # component list size must match Nf
                return {
                    "fmt": "jpeg", "width": frame_w, "height": frame_h,
                    "bit_depth": precision, "channels": ncomp,
                    "sample_rate": -1, "n_samples": -1,
                }
            pos += 2 + seglen
        return None
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        pos, fmt_info, data_size = 12, None, None
        while pos + 8 <= len(b):
            tag = b[pos : pos + 4]
            (size,) = _struct.unpack("<I", b[pos + 4 : pos + 8])
            body = b[pos + 8 : pos + 8 + size]
            if len(body) < size:
                return None  # truncated chunk
            if tag == b"fmt " and size >= 16:
                audio_fmt, ch, sr, _, _, bits = _struct.unpack("<HHIIHH", body[:16])
                if audio_fmt != 1:
                    return None  # non-PCM not supported
                fmt_info = (ch, sr, bits)
            elif tag == b"data":
                data_size = size
            pos += 8 + size + (size % 2)  # RIFF chunks are word-aligned
        if fmt_info is None or data_size is None:
            return None
        ch, sr, bits = fmt_info
        return {
            "fmt": "wav", "width": -1, "height": -1, "bit_depth": bits,
            "channels": ch, "sample_rate": sr,
            "n_samples": data_size // (ch * bits // 8),
        }
    return None


def resize_png(blob: bytes, max_dim: int) -> bytes | None:
    """REAL nearest-neighbor resize of the 8-bit grayscale filter-0 PNGs
    this module generates (stdlib zlib + numpy — production swaps in PIL
    for arbitrary inputs): decode IDAT scanlines, resample to fit
    ``max_dim`` preserving aspect (integer floor, min 1 px; images already
    within the box pass through byte-identical), re-encode a valid PNG.
    Returns None for anything decode_media rejects or non-grayscale input.
    """
    import numpy as np

    meta = decode_media(blob)
    if meta is None or meta["fmt"] != "png" or meta["bit_depth"] != 8:
        return None
    w, h = meta["width"], meta["height"]
    if max(w, h) <= max_dim:
        return bytes(blob)
    b = bytes(blob)
    # Concatenate IDAT payloads in order (ours emit one, but walk anyway).
    pos, idat = 8, b""
    while pos + 8 <= len(b):
        (length,) = _struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        if pos + 8 + length + 4 > len(b):
            return None
        if tag == b"IDAT":
            idat += b[pos + 8 : pos + 8 + length]
        if tag == b"IEND":
            break
        pos += 8 + length + 4
    try:
        raw = _zlib.decompress(idat)
    except _zlib.error:
        return None
    if len(raw) != h * (w + 1) or any(raw[y * (w + 1)] != 0 for y in range(h)):
        return None  # non-filter-0 scanlines: a real codec's job
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, w + 1)[:, 1:]
    new_w = max(1, (w * max_dim) // max(w, h))
    new_h = max(1, (h * max_dim) // max(w, h))
    ys = (np.arange(new_h) * h) // new_h
    xs = (np.arange(new_w) * w) // new_w
    out = arr[ys][:, xs]
    scanlines = b"".join(b"\x00" + out[y].tobytes() for y in range(new_h))
    ihdr = _struct.pack(">IIBBBBB", new_w, new_h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(scanlines))
        + _png_chunk(b"IEND", b"")
    )


def wav_samples(blob: bytes):
    """Extract the interleaved 16-bit PCM samples from a WAV payload as a
    numpy int16 array (REAL byte-level extraction — the input to any audio
    feature computation). None if decode_media rejects the payload."""
    import numpy as np

    meta = decode_media(blob)
    if meta is None or meta["fmt"] != "wav" or meta["bit_depth"] != 16:
        return None
    b = bytes(blob)
    pos = 12
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        (size,) = _struct.unpack("<I", b[pos + 4 : pos + 8])
        if tag == b"data":
            return np.frombuffer(b[pos + 8 : pos + 8 + size], dtype="<i2")
        pos += 8 + size + (size % 2)
    return None


# --- Fake video container (frame sampling) -----------------------------------
# No video codec exists in this environment, so the CONTAINER is a
# deterministic fake ("MV01": magic + u16 frame count + length-prefixed
# frames) while each frame is a REAL PNG and the Spark-side plumbing —
# schema, mapInPandas batching, per-frame parse — is real (task contract:
# stub the codec, not the pipeline).

_VIDEO_MAGIC = b"MV01"


def make_video(frames: list[bytes]) -> bytes:
    """Pack frames (each an encoded image) into the MV01 container."""
    return (
        _VIDEO_MAGIC
        + _struct.pack(">H", len(frames))
        + b"".join(_struct.pack(">I", len(f)) + f for f in frames)
    )


def iter_video_frames(blob: bytes):
    """Yield frame payloads from an MV01 container; [] on corruption."""
    b = bytes(blob or b"")
    if b[:4] != _VIDEO_MAGIC or len(b) < 6:
        return
    (count,) = _struct.unpack(">H", b[4:6])
    pos = 6
    for _ in range(count):
        if pos + 4 > len(b):
            return
        (length,) = _struct.unpack(">I", b[pos : pos + 4])
        if pos + 4 + length > len(b):
            return
        yield b[pos + 4 : pos + 4 + length]
        pos += 4 + length


MEDIA_SCHEMA = (
    "doc_id long, mime string, fmt string, width long, height long, "
    "bit_depth long, channels long, sample_rate long, n_samples long, "
    "valid boolean"
)


def media_params_for_doc(doc_id: int) -> dict:
    """Deterministic per-document media parameters (shared by the packer
    and the SQL oracle): doc_id % 3 selects PNG / WAV / JPEG."""
    m = doc_id % 3
    if m == 0:
        return {
            "kind": "png",
            "width": 16 + doc_id % 64,
            "height": 16 + doc_id % 32,
        }
    if m == 1:
        return {
            "kind": "wav",
            "sample_rate": 8000 + (doc_id % 8) * 1000,
            "channels": 1 if doc_id % 4 == 1 else 2,
            "n_samples": 40 + doc_id % 50,
        }
    return {
        "kind": "jpeg",
        "width": 32 + doc_id % 96,
        "height": 32 + doc_id % 48,
        "channels": 1 if doc_id % 2 == 1 else 3,
    }


def pack_media_payload(docs: DataFrame, corrupt_every: int = 0) -> DataFrame:
    """Generate real PNG/JPEG/WAV payloads per document via mapInPandas
    (binary generation needs zlib → Python; Arrow ships the bytes back).

    ``corrupt_every=k`` truncates every k-th payload (doc_id % k == 0) to
    6 bytes — undecodable in all three formats — the deterministic stand-in
    for the corrupt blobs a real 100 TB crawl always contains, so validity
    filtering downstream is exercised (and oracle-checkable: the corrupt
    set is ``doc_id % k = 0``).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, mimes = [], []
            for doc_id in pdf["doc_id"]:
                p = media_params_for_doc(int(doc_id))
                if p["kind"] == "png":
                    payloads.append(
                        make_png(p["width"], p["height"], seed=int(doc_id))
                    )
                    mimes.append("image/png")
                elif p["kind"] == "wav":
                    payloads.append(
                        make_wav(p["sample_rate"], p["channels"], p["n_samples"])
                    )
                    mimes.append("audio/wav")
                else:
                    payloads.append(
                        make_jpeg(p["width"], p["height"], p["channels"])
                    )
                    mimes.append("image/jpeg")
                if corrupt_every and int(doc_id) % corrupt_every == 0:
                    payloads[-1] = payloads[-1][:6]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads, "mime": mimes}
            )

    return docs.select("doc_id").mapInPandas(
        gen, "doc_id long, payload binary, mime string"
    )


def decode_media_df(packed: DataFrame) -> DataFrame:
    """mapInPandas real-format decode: PNG/WAV payload bytes → metadata."""

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [decode_media(b) for b in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "fmt": [m["fmt"] if m else "unknown" for m in metas],
                    "width": [m["width"] if m else -1 for m in metas],
                    "height": [m["height"] if m else -1 for m in metas],
                    "bit_depth": [m["bit_depth"] if m else -1 for m in metas],
                    "channels": [m["channels"] if m else -1 for m in metas],
                    "sample_rate": [m["sample_rate"] if m else -1 for m in metas],
                    "n_samples": [m["n_samples"] if m else -1 for m in metas],
                    "valid": [m is not None for m in metas],
                }
            )

    return packed.mapInPandas(decode_batches, MEDIA_SCHEMA)


_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
