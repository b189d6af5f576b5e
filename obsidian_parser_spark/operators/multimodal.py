"""Multimodal column plumbing: opaque media payloads through the engine.

Media enters as ``kind='media'``/``kind='embed'`` spans carrying an opaque
``media_ref``, plus (for payload-bearing tables) a ``binary`` column.

The eight payload operators (``decode_media_payloads``,
``gif_frame_stats``, ``image_channel_stats``, ``audio_sample_stats``,
``thumbnail_row_stats``, ``image_ahash``, ``audio_frame_features``,
``gif_frame_samples``) are each one ``{ext: decoder}`` table, one output
schema and one error-row tail, run by ``_map_payloads``: a single
Arrow-batched ``mapInPandas`` pass over ``(media_ref, payload)``, no
shuffle.  Per row the pass parses the ref's extension, looks up the
decoder and calls it on the payload bytes; the decoder returns the row
tails, or None for a corrupt payload — an ``ok=false`` error-channel row,
never a thrown task.  An extension with no decoder takes the same error
channel (one stray .jpg in a 10^12-row table must not kill the job)
unless ``strict=True``, which raises the declared codec stub.

PNG, GIF, BMP and WAV decode for real with stdlib ``struct``/``zlib`` and
numpy (no PIL/ffmpeg): PNG signature + IHDR + inflated IDAT raster, GIF
logical screen descriptor + positional block walk + LZW, BMP
BITMAPINFOHEADER over an uncompressed raster, WAV RIFF/fmt header + 16-bit
PCM body.  Formats whose decode needs a real codec (jpeg/mp4/...) remain
declared stubs.  A format is added with one decoder-table entry in each
operator that should read it — the pass, schema and partitioning don't
change.

Outside that pass, keyed by ``(doc_id, media_ref)`` without payloads:

* ``decode_media``           — ``fake=True`` (default): deterministic
  md5-derived "decode" so downstream operators are testable without
  payloads; ``fake=False`` + ``payload_col``: the real decode of
  ``decode_media_payloads``; ``fake=False`` without a payload column
  raises (declared stub).
* ``extract_features``       — deterministic fake embedding (16 floats from
  md5 bytes), same mapInPandas shape a real CLIP/wav2vec stage would use.
* ``sample_frames``          — deterministic frame-offset plan for videos.
* ``modality_stats``         — per-document span counts by media type.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

DECODED_SCHEMA = (
    "doc_id string, media_ref string, media_type string, "
    "width int, height int, duration_ms long, ok boolean"
)
# real header decode is keyed by media_ref (payload tables are ref-keyed;
# join back to spans on media_ref for per-document views)
PAYLOAD_DECODED_SCHEMA = (
    "media_ref string, media_type string, "
    "width int, height int, duration_ms long, ok boolean"
)
GIF_FRAMES_SCHEMA = (
    "media_ref string, width int, height int, n_frames int, ok boolean"
)
FEATURES_SCHEMA = "doc_id string, media_ref string, features array<float>"
FRAMES_SCHEMA = "doc_id string, media_ref string, frame_ms array<long>"

# media type by extension: read by ``_media_type`` (Python) and by
# ``modality_stats`` (its SQL counts), so the two cannot disagree
_MEDIA_TYPES = {
    "png": "image", "jpg": "image", "jpeg": "image", "gif": "image",
    "bmp": "image",
    "mp3": "audio", "wav": "audio", "flac": "audio",
    "mp4": "video", "mkv": "video", "webm": "video",
}

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# a decoder maps payload bytes to the operator's row tails (the columns
# after media_ref; a list, since one payload may give many rows or none),
# or to None for the error channel
Decoder = Callable[[bytes], "list[tuple] | None"]


def _ext(ref: str | None) -> str:
    return ref.rsplit(".", 1)[-1].lower() if ref and "." in ref else ""


def _media_type(ref: str | None) -> str:
    return _MEDIA_TYPES.get(_ext(ref), "unknown")


def _decoder(
    parse: Callable[[bytes], Any], tails: Callable[[Any], "list[tuple] | None"]
) -> Decoder:
    """A decoder-table entry: ``tails`` of the parsed payload, or None
    (the error channel) when ``parse`` rejects the bytes."""

    def decode(b: bytes) -> list[tuple] | None:
        parsed = parse(b)
        return None if parsed is None else tails(parsed)

    return decode


def _map_payloads(
    media: DataFrame,
    payload_col: str,
    schema: str,
    decoders: dict[str, Decoder],
    bad: Callable[[str], tuple],
    strict: bool = False,
) -> DataFrame:
    """The payload pass: one Arrow-batched mapInPandas over
    ``(media_ref, payload)``.  Each row's extension selects its decoder
    in ``decoders``; the decoder's row tails become rows
    ``(media_ref, *tail)``.  A NULL payload decodes as b"", which every
    decoder fails closed.  The error channel — a decoder returning None,
    or an extension with no decoder — appends the single row
    ``(media_ref, *bad(media_ref))``; under ``strict`` an extension with
    no decoder raises the declared codec stub instead, except for a NULL
    ref, which has no codec to name and always takes the error channel."""
    columns = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload in zip(pdf["media_ref"], pdf[payload_col]):
                ext = _ext(ref)
                dec = decoders.get(ext)
                if dec is None and strict and ref is not None:
                    raise NotImplementedError(
                        f"real media decode for '.{ext}' requires a codec "
                        "library (PIL/ffmpeg), which the engine does not "
                        f"bundle; {'/'.join(decoders)} decode natively"
                    )
                tails = None if dec is None else dec(
                    b"" if payload is None else bytes(payload)
                )
                rows.extend(
                    (ref, *tail) for tail in ([bad(ref)] if tails is None else tails)
                )
            yield pd.DataFrame(rows, columns=columns)

    return media.select("media_ref", payload_col).mapInPandas(run, schema)


def _parse_png(b: bytes) -> tuple[int, int] | None:
    """(width, height) from the IHDR header, or None if not a valid PNG
    prefix.  Layout: 8-byte signature, 4-byte chunk length, 'IHDR',
    width/height as big-endian uint32 at byte offsets 16/20."""
    if len(b) < 24 or b[:8] != _PNG_SIG or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack(">II", b[16:24])
    return w, h


def _parse_gif(b: bytes) -> tuple[int, int] | None:
    """(width, height) from the GIF logical screen descriptor, or None if
    not a valid GIF87a/GIF89a prefix.  Layout: 6-byte signature, width and
    height as little-endian uint16 at byte offsets 6/8 — fixed-header
    metadata, stdlib-parseable like PNG/WAV."""
    if len(b) < 10 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    w, h = struct.unpack("<HH", b[6:10])
    return w, h


def _parse_bmp(b: bytes) -> tuple[int, int] | None:
    """(width, height) from the BITMAPINFOHEADER, or None if not a valid
    24-bit uncompressed BMP prefix.  Layout: 'BM' signature, pixel-array
    offset at byte 10, width/height little-endian int32 at offsets 18/22,
    bpp uint16 at 28, compression uint32 at 30 — all fixed-header, stdlib
    parseable.  Only the subset the engine can fully decode (bpp=24,
    BI_RGB, positive height = bottom-up) reports a valid header, mirroring
    the SQL oracle's checks bit for bit."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    w = int.from_bytes(b[18:22], "little")
    h = int.from_bytes(b[22:26], "little")
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if w <= 0 or h <= 0 or h >= 1 << 31 or bpp != 24 or comp != 0:
        return None
    return w, h


def _parse_wav(b: bytes) -> int | None:
    """duration_ms from the canonical RIFF/fmt/data header, or None if not
    a valid PCM WAV prefix.  byte_rate is little-endian uint32 at offset
    28, data chunk size at offset 40; duration = data·1000 // byte_rate
    (integer division — exact in any engine)."""
    if (
        len(b) < 44
        or b[:4] != b"RIFF"
        or b[8:12] != b"WAVE"
        or b[12:16] != b"fmt "
        or b[36:40] != b"data"
    ):
        return None
    byte_rate = struct.unpack("<I", b[28:32])[0]
    data_size = struct.unpack("<I", b[40:44])[0]
    if byte_rate <= 0:
        return None
    return data_size * 1000 // byte_rate


def _wav_pcm16(b: bytes) -> "tuple[int, np.ndarray] | None":
    """(sample_rate, int64 samples) off a 16-bit PCM WAV's data chunk —
    little-endian int16 read with numpy.  None outside the 16-bit subset
    or on a data chunk shorter than its declared size."""
    if _parse_wav(b) is None:
        return None
    bits = struct.unpack("<H", b[34:36])[0]
    data_size = struct.unpack("<I", b[40:44])[0]
    body = b[44 : 44 + data_size]
    if bits != 16 or len(body) != data_size or data_size % 2:
        return None
    rate = struct.unpack("<I", b[24:28])[0]
    return rate, np.frombuffer(body, dtype="<i2").astype(np.int64)


def decode_media_payloads(
    media: DataFrame, payload_col: str = "payload", strict: bool = False
) -> DataFrame:
    """REAL dependency-free decode of ``(media_ref, payload)`` rows for the
    formats whose metadata lives in fixed headers:

    * ``.png`` → (width, height) from IHDR, duration 0;
    * ``.gif`` → (width, height) from the logical screen descriptor,
      duration 0;
    * ``.bmp`` → (width, height) from the BITMAPINFOHEADER (24-bit
      BI_RGB subset), duration 0;
    * ``.wav`` → duration_ms from the RIFF header, width/height 0;
    * corrupt payload of a supported extension → ``ok=false``, NULL metrics
      (the error channel — never a thrown task);
    * any OTHER extension → ``ok=false`` row (``media_type`` still set
      from the extension) by default; ``strict=True`` restores the loud
      NotImplementedError (declared stub: jpeg/mp4 metadata needs a real
      codec library).

    Arrow-batched mapInPandas, one pass, no shuffle — the same plumbing a
    PIL/ffmpeg deployment would use."""

    def image(wh: tuple[int, int]) -> list[tuple]:
        return [("image", wh[0], wh[1], 0, True)]

    return _map_payloads(
        media,
        payload_col,
        PAYLOAD_DECODED_SCHEMA,
        {
            "png": _decoder(_parse_png, image),
            "gif": _decoder(_parse_gif, image),
            "bmp": _decoder(_parse_bmp, image),
            "wav": _decoder(_parse_wav, lambda dur: [("audio", 0, 0, dur, True)]),
        },
        lambda ref: (_media_type(ref), None, None, None, False),
        strict,
    )


def gif_frame_stats(media: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(media_ref, payload) → REAL GIF block-stream walk: (width, height,
    n_frames, ok) — image descriptors counted positionally off the
    length-prefixed sub-block structure (no LZW inflate needed), so an
    independent engine can recompute n_frames from the generation rule and
    verify the walk EXACTLY.  A frame with no color table still counts.
    Non-gif extensions and malformed streams → ok=false rows (error
    channel)."""

    def count(walked: tuple) -> list[tuple]:
        width, height, frames = walked
        return [(width, height, len(frames), True)]

    return _map_payloads(
        media,
        payload_col,
        GIF_FRAMES_SCHEMA,
        {"gif": _decoder(_gif_frames_raw, count)},
        lambda ref: (None, None, None, False),
    )


def _fake_decode(ref: str | None) -> tuple[int | None, int | None, int | None]:
    if ref is None:
        return None, None, None
    h = hashlib.md5(ref.encode()).digest()
    return 16 + h[0] * 8, 16 + h[1] * 8, int.from_bytes(h[2:4], "big")


def decode_media(
    media: DataFrame,
    fake: bool = True,
    payload_col: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """(doc_id, media_ref) → decoded metadata.

    ``fake=False`` with ``payload_col`` set routes to the REAL header
    decode (``decode_media_payloads`` — png/gif/bmp/wav parsed natively,
    other extensions ok=false rows, or the declared codec stub under
    ``strict=True``); ``fake=False`` without payload bytes raises: there
    is nothing to decode from a bare ref.  Under ``fake=True`` a NULL ref
    gives an ``ok=false`` row with NULL width and height."""
    if not fake and payload_col is not None:
        return decode_media_payloads(media, payload_col, strict=strict)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "real decode needs payload bytes: pass payload_col= "
                    "(png/gif/bmp/wav parse natively; other formats need "
                    "PIL/ffmpeg — use fake=True for the stub)"
                )
            rows = []
            for doc_id, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                w, hgt, dur = _fake_decode(ref)
                mt = _media_type(ref)
                rows.append(
                    (doc_id, ref, mt, w, hgt, dur if mt in ("audio", "video") else 0,
                     mt != "unknown")
                )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "media_ref", "media_type", "width", "height",
                         "duration_ms", "ok"],
            )

    return media.select("doc_id", "media_ref").mapInPandas(run, DECODED_SCHEMA)


PIXELS_SCHEMA = (
    "media_ref string, width int, height int, n_px long, "
    "sum_r long, sum_g long, sum_b long, ok boolean"
)
SAMPLES_SCHEMA = (
    "media_ref string, n_samples long, sum_amp long, sample_rate int, ok boolean"
)
THUMB_SCHEMA = (
    "media_ref string, ty int, sum_r long, sum_g long, sum_b long, ok boolean"
)
AUDIO_FRAMES_SCHEMA = (
    "media_ref string, frame_idx int, n int, sum_amp long, sum_abs long, "
    "n_zc int, ok boolean"
)
GIF_SAMPLE_SCHEMA = (
    "media_ref string, f int, n_px long, sum_r long, sum_g long, "
    "sum_b long, ok boolean"
)


def _png_raster(b: bytes) -> "np.ndarray | None":
    """REAL raster decode for the 8-bit RGB / filter-0 / non-interlaced
    PNG subset, stdlib-only: walk the chunk stream, concatenate IDAT,
    zlib inflate, strip per-row filter bytes → (height, width, 3) uint8
    array in top-down RGB order.  None for anything outside the subset or
    corrupt — the error channel, not an exception.  (Filters 1-4 and
    other color types need a per-row reconstruction pass; this decoder
    covers the subset the corpus writes and FAILS CLOSED on everything
    else.)"""
    import zlib

    wh = _parse_png(b)
    if wh is None:
        return None
    width, height = wh
    # IHDR data: bitdepth=8, colortype=2 (RGB), interlace=0
    if len(b) < 29 or b[24] != 8 or b[25] != 2 or b[28] != 0:
        return None
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(b):
        (ln,) = struct.unpack(">I", b[pos : pos + 4])
        tag = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        if len(data) < ln:
            return None  # truncated chunk
        if tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + ln  # len + tag + data + crc
    if not idat:
        return None
    try:
        raster = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = 1 + 3 * width
    if len(raster) != stride * height:
        return None
    arr = np.frombuffer(raster, dtype=np.uint8).reshape(height, stride)
    if (arr[:, 0] != 0).any():
        return None  # filter types other than None: outside the subset
    return arr[:, 1:].reshape(height, width, 3)


def _bmp_raster(b: bytes) -> "np.ndarray | None":
    """REAL raster decode for the 24-bit uncompressed BMP subset: read the
    raster straight off the pixel-array offset (no decompression at all),
    drop the per-row 4-byte-alignment padding → (height, width, 3) uint8
    in TOP-DOWN RGB order.  BMP stores rows bottom-up in BGR order, so
    both the row order and the channel order are reversed here — a
    positional consumer (thumbnailing, row stats) sees the image the way
    a viewer renders it.  None outside the subset / corrupt — the error
    channel, not an exception."""
    wh = _parse_bmp(b)
    if wh is None:
        return None
    width, height = wh
    off = int.from_bytes(b[10:14], "little")
    row = (3 * width + 3) & ~3
    if off < 54 or len(b) < off + row * height:
        return None
    arr = np.frombuffer(b, dtype=np.uint8, count=row * height, offset=off)
    px = arr.reshape(height, row)[:, : 3 * width].reshape(height, width, 3)
    return px[::-1, :, ::-1]  # bottom-up BGR → top-down RGB


def _channel_sums(px: "np.ndarray") -> list[tuple]:
    """[(width, height, n_px, sum_r, sum_g, sum_b, ok)] over a decoded
    (h, w, 3) PNG/BMP raster — exact integer channel sums (orientation
    doesn't affect sums, but BMP's BGR→RGB mapping does: a swapped
    mapping gives wrong per-channel integers and fails the oracle hash)."""
    h, w = px.shape[0], px.shape[1]
    s = px.astype(np.int64).sum(axis=(0, 1))
    return [(w, h, w * h, int(s[0]), int(s[1]), int(s[2]), True)]


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int] | None:
    """REAL GIF-LZW decompression, stdlib-only: LSB-first variable-width
    codes, CLEAR resets the table, code width grows when the next free
    slot reaches 2^width (capped at 12 bits per the spec), the KwKwK case
    (code == next free slot) resolves to prev + prev[0].  Returns the
    pixel-index list, or None on any malformed stream (truncated bits,
    out-of-range code, data before the first literal)."""
    if not 2 <= min_code_size <= 8:
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    literals: list[list[int] | None] = [[i] for i in range(clear)]
    table = literals + [None, None]
    width = min_code_size + 1
    out: list[int] = []
    prev: list[int] | None = None
    bitpos = 0
    nbits = len(data) * 8
    while True:
        if bitpos + width > nbits:
            return None  # ran out of bits before EOI
        byte0 = bitpos >> 3
        chunk = int.from_bytes(
            data[byte0 : byte0 + 3], "little"
        )  # width ≤ 12 → spans ≤ 3 bytes
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = literals + [None, None]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= clear:
                return None
            entry = [code]
        elif code < len(table):
            e = table[code]
            if e is None:
                return None
            entry = e
        elif code == len(table):
            entry = prev + [prev[0]]  # KwKwK
        else:
            return None
        if prev is not None:
            table.append(prev + [entry[0]])
            if len(table) == (1 << width) and width < 12:
                width += 1
        out.extend(entry)
        prev = entry


def _gif_frames_raw(
    b: bytes,
) -> "tuple[int, int, list[tuple[int, int, np.ndarray | None, bytes, int]]] | None":
    """STRUCTURAL walk of a GIF's block stream WITHOUT touching the LZW
    bits: → (width, height, frames) where each frame is (fw, fh, palette,
    lzw_bytes, min_code_size).  Extensions (0x21) and image data are
    length-prefixed sub-blocks skipped positionally.  Local color tables
    override the global one per frame; a frame with neither has palette
    None (the walk still counts it, the pixel paths fail closed on it —
    see ``_gif_pixel_frames``).  Separating the (cheap) walk from the
    (expensive) LZW decode is what makes frame SAMPLING sub-linear in
    frame count — a sampler decodes only the frames it keeps.  None on
    structurally corrupt streams (truncated block, unknown introducer,
    no trailer) — the error channel, not an exception."""
    wh = _parse_gif(b)
    if wh is None or len(b) < 13:
        return None
    width, height = wh
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(b):
            return None
        gct = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    frames: list[tuple[int, int, np.ndarray | None, bytes, int]] = []
    while pos < len(b):
        introducer = b[pos]
        if introducer == 0x3B:
            return width, height, frames
        if introducer == 0x21:
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif introducer == 0x2C:
            if pos + 10 > len(b):
                return None
            fw, fh = struct.unpack("<HH", b[pos + 5 : pos + 9])
            lpacked = b[pos + 9]
            pos += 10
            pal = gct
            if lpacked & 0x80:
                n = 2 << (lpacked & 0x07)
                if pos + 3 * n > len(b):
                    return None
                pal = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
                pos += 3 * n
            if pos >= len(b):
                return None
            mcs = b[pos]
            pos += 1
            data = bytearray()
            while pos < len(b) and b[pos] != 0:
                ln = b[pos]
                data += b[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            if pos >= len(b):
                return None
            pos += 1
            frames.append((fw, fh, pal, bytes(data), mcs))
        else:
            return None
    return None  # ran off the end without a trailer


def _gif_pixel_frames(
    b: bytes,
) -> "tuple[int, int, list[tuple[int, int, np.ndarray, bytes, int]]] | None":
    """``_gif_frames_raw`` for the pixel paths: a frame without a color
    table has no colors, so the whole payload fails closed (None) — even
    when a sampler would not decode that frame."""
    walked = _gif_frames_raw(b)
    if walked is None or any(frame[2] is None for frame in walked[2]):
        return None
    return walked


def _gif_frame_indices(
    frame: "tuple[int, int, np.ndarray, bytes, int]",
) -> "np.ndarray | None":
    """LZW-decode one walked frame → (fh, fw) int index array, validated
    against the frame dims and the active palette size; None on a
    malformed stream."""
    fw, fh, pal, data, mcs = frame
    idx = _gif_lzw_decode(data, mcs)
    if idx is None or len(idx) != fw * fh:
        return None
    a = np.asarray(idx, dtype=np.int64)
    if a.size and int(a.max()) >= pal.shape[0]:
        return None
    return a.reshape(fh, fw)


def _decode_gif_pixels(
    b: bytes,
) -> tuple[int, int, int, int, int, int] | None:
    """REAL pixel decode for palette GIFs: walk the block stream, LZW-
    decompress every frame's raster, map indices through the active color
    table → (width, height, n_px_total, sum_r, sum_g, sum_b) summed over
    ALL frames.  Interlace only permutes row order, which channel sums
    don't see.  None on corrupt streams / frame size mismatch — the error
    channel, not an exception."""
    walked = _gif_pixel_frames(b)
    if walked is None:
        return None
    width, height, frames = walked
    sums = np.zeros(3, dtype=np.int64)
    n_px = 0
    for frame in frames:
        a = _gif_frame_indices(frame)
        if a is None:
            return None
        pal = frame[2]
        sums += pal[a.ravel()].astype(np.int64).sum(axis=0)
        n_px += a.size
    return width, height, n_px, int(sums[0]), int(sums[1]), int(sums[2])


def image_channel_stats(
    media: DataFrame, payload_col: str = "payload", strict: bool = False
) -> DataFrame:
    """(media_ref, payload) → REAL per-channel pixel sums for PNG, BMP
    and GIF payloads: (width, height, n_px, sum_r, sum_g, sum_b, ok) —
    integer sums, so an independent engine can verify them EXACTLY (the
    driver oracle recomputes them from the corpus' deterministic color
    rule without inflating anything).  PNG inflates the IDAT; BMP reads
    the uncompressed raster straight off the pixel-array offset; GIF
    runs a real LZW decompression over every frame and maps indices
    through the color table (n_px summed across frames).  Other
    extensions → ok=false rows (error channel; a stray .jpg must not kill
    the job) unless ``strict=True``, which raises the declared codec
    stub.  Corrupt/unsupported payloads → ok=false row."""
    return _map_payloads(
        media,
        payload_col,
        PIXELS_SCHEMA,
        {
            "png": _decoder(_png_raster, _channel_sums),
            "bmp": _decoder(_bmp_raster, _channel_sums),
            "gif": _decoder(_decode_gif_pixels, lambda sums: [(*sums, True)]),
        },
        lambda ref: (None, None, None, None, None, None, False),
        strict,
    )


def audio_sample_stats(
    media: DataFrame, payload_col: str = "payload", strict: bool = False
) -> DataFrame:
    """(media_ref, payload) → REAL PCM sample statistics for WAV payloads:
    (n_samples, sum_amp, sample_rate, ok) — 16-bit LE samples read off the
    data chunk with numpy, summed exactly.  A wrong offset, stride, or
    endianness gives a wrong integer sum, so the oracle cross-check
    verifies the byte-level parse, not just the header.  Non-wav
    extensions → ok=false rows unless ``strict=True`` (declared codec
    stub)."""

    def stats(pcm: "tuple[int, np.ndarray]") -> list[tuple]:
        rate, s = pcm
        return [(len(s), int(s.sum()), rate, True)]

    return _map_payloads(
        media,
        payload_col,
        SAMPLES_SCHEMA,
        {"wav": _decoder(_wav_pcm16, stats)},
        lambda ref: (None, None, None, False),
        strict,
    )


def _gif_first_frame(b: bytes) -> "np.ndarray | None":
    """A gif's FIRST frame, full-canvas only, as an (h, w, 3) uint8
    raster; None on any corruption or a partial first frame."""
    walked = _gif_pixel_frames(b)
    if walked is None or not walked[2]:
        return None
    width, height, frames = walked
    fw, fh, pal = frames[0][0], frames[0][1], frames[0][2]
    if (fw, fh) != (width, height):
        return None  # partial first frame: outside the subset
    a = _gif_frame_indices(frames[0])
    if a is None:
        return None
    return pal[a]


# the full rasters the resize and perceptual-hash stages read
_RASTERS = {"png": _png_raster, "bmp": _bmp_raster, "gif": _gif_first_frame}


def _thumbnail(px: "np.ndarray", th: int, tw: int) -> "np.ndarray":
    """Nearest-neighbor resample of an (h, w, 3) raster to a (th, tw, 3)
    int64 thumbnail: pixel (ty, tx) = source pixel ((ty·h) div th,
    (tx·w) div tw) — downsample or upsample alike."""
    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(th, dtype=np.int64) * h) // th
    xs = (np.arange(tw, dtype=np.int64) * w) // tw
    return px[np.ix_(ys, xs)].astype(np.int64)


def thumbnail_row_stats(
    media: DataFrame,
    th: int = 8,
    tw: int = 8,
    payload_col: str = "payload",
    strict: bool = False,
) -> DataFrame:
    """REAL image RESIZE over the decoded rasters — the thumbnail stage
    of a multimodal training-data pipeline, as an Arrow-batched
    mapInPandas pass (one partition-local decode per payload; scales as
    a narrow map, no shuffle).

    Nearest-neighbor downsample (or upsample) of every PNG / BMP /
    GIF-frame-0 raster to ``th × tw``: thumbnail pixel (ty, tx) = source
    pixel ((ty·h) div th, (tx·w) div tw).  Output is one row per
    THUMBNAIL ROW: (media_ref, ty, sum_r, sum_g, sum_b, ok) — exact
    integer channel sums across the row, so an independent engine can
    recompute every value from the corpus color rule + header dims and a
    wrong row mapping, column mapping, BMP orientation flip, or palette
    lookup fails the hash.  Corrupt / unsupported payloads → a single
    ok=false row with NULL ty and sums unless ``strict=True`` (declared
    codec stub for formats needing external libraries); the query layer
    coalesces those NULLs to -1."""

    def rows(px: np.ndarray) -> list[tuple]:
        rs = _thumbnail(px, th, tw).sum(axis=1)  # (th, 3) row channel sums
        return [
            (ty, int(rs[ty, 0]), int(rs[ty, 1]), int(rs[ty, 2]), True)
            for ty in range(th)
        ]

    return _map_payloads(
        media,
        payload_col,
        THUMB_SCHEMA,
        {ext: _decoder(raster, rows) for ext, raster in _RASTERS.items()},
        lambda ref: (None, None, None, None, False),
        strict,
    )


AHASH_SCHEMA = (
    "media_ref string, b0 int, b1 int, b2 int, b3 int, ok boolean"
)


def image_ahash(
    media: DataFrame,
    payload_col: str = "payload",
    strict: bool = False,
) -> DataFrame:
    """Perceptual AVERAGE HASH (aHash) of every decodable image — the
    classic image near-dup fingerprint (8×8 NN thumbnail → integer ITU-R
    BT.601 luma → mean threshold → 64 bits), computed over the REAL
    decoded rasters as a narrow Arrow mapInPandas pass.

    Exact integer pipeline, so an independent engine can recompute every
    bit closed-form: luma(ty, tx) = (299·r + 587·g + 114·b) div 1000 of
    the NN-sampled pixel; bit = 1 iff 64·luma > Σ luma (strict, so an
    all-equal raster hashes to 0).  The 64 bits are emitted as FOUR
    16-bit band integers b0..b3 (b_i covers thumb rows 2i and 2i+1,
    MSB-first in row-major order) — the band decomposition is exactly
    what a banded LSH self-join needs downstream, and 16-bit values stay
    positive in every SQL engine so XOR/bit_count arithmetic is portable.
    Corrupt / unsupported payloads → (ok=false, -1 bands) sentinels
    unless ``strict=True``."""
    weights = np.array([299, 587, 114], dtype=np.int64)
    shifts = 15 - (np.arange(64) % 16)

    def bands(px: np.ndarray) -> list[tuple]:
        luma = (_thumbnail(px, 8, 8) @ weights) // 1000  # (8, 8)
        bits = (64 * luma > luma.sum()).astype(np.int64).ravel()
        vals = bits << shifts
        b0, b1, b2, b3 = (int(vals[16 * i : 16 * (i + 1)].sum()) for i in range(4))
        return [(b0, b1, b2, b3, True)]

    return _map_payloads(
        media,
        payload_col,
        AHASH_SCHEMA,
        {ext: _decoder(raster, bands) for ext, raster in _RASTERS.items()},
        lambda ref: (-1, -1, -1, -1, False),
        strict,
    )


def audio_frame_features(
    media: DataFrame,
    frame: int = 256,
    payload_col: str = "payload",
    strict: bool = False,
) -> DataFrame:
    """REAL audio FEATURE EXTRACTION over the decoded PCM — the framing
    stage a speech pipeline runs before any model: split each WAV's
    16-bit samples into consecutive ``frame``-sample windows (last one
    ragged) and emit the classic integer frame features

        (media_ref, frame_idx, n, sum_amp, sum_abs, n_zc, ok)

    where ``sum_abs`` is the L1 energy and ``n_zc`` counts strict sign
    flips between CONSECUTIVE samples WITHIN the frame (pairs straddling
    a frame boundary belong to neither frame — the split a wrong
    boundary shifts, which the oracle hash then catches).  All values are
    exact integers recomputable from the corpus sample rule.  Corrupt /
    non-wav payloads → a single ok=false row with NULL frame_idx and
    features unless ``strict=True``; the query layer coalesces those
    NULLs to -1."""

    def frames(pcm: "tuple[int, np.ndarray]") -> list[tuple]:
        s = pcm[1]
        out = []
        for f in range(0, (len(s) + frame - 1) // frame):
            seg = s[f * frame : (f + 1) * frame]
            zc = int(np.count_nonzero(seg[:-1] * seg[1:] < 0))
            out.append(
                (f, len(seg), int(seg.sum()), int(np.abs(seg).sum()), zc, True)
            )
        return out

    return _map_payloads(
        media,
        payload_col,
        AUDIO_FRAMES_SCHEMA,
        {"wav": _decoder(_wav_pcm16, frames)},
        lambda ref: (None, None, None, None, None, False),
        strict,
    )


def gif_frame_samples(
    media: DataFrame,
    stride: int = 3,
    payload_col: str = "payload",
    strict: bool = False,
) -> DataFrame:
    """REAL video-style FRAME SAMPLING: keep every ``stride``-th frame of
    each animated GIF and emit exact per-SAMPLED-frame channel sums
    (media_ref, f, n_px, sum_r, sum_g, sum_b, ok).

    The structural block walk (:func:`_gif_frames_raw`) is separated from
    the LZW decode, so skipped frames are never decompressed — the cost
    is O(kept frames), the property that makes frame sampling worth
    running at catalog scale (a real video pipeline samples exactly this
    way: demux all, decode few).  Any sampled frame failing to decode
    fails the whole payload closed (single ok=false row), matching the
    all-frames decoder's contract; non-gif extensions → ok=false row
    unless ``strict=True``."""

    def sample(walked: tuple) -> list[tuple] | None:
        _, _, frames = walked
        out = []
        for f in range(0, len(frames), stride):
            a = _gif_frame_indices(frames[f])
            if a is None:
                return None
            pal = frames[f][2]
            ssum = pal[a.ravel()].astype(np.int64).sum(axis=0)
            out.append(
                (f, a.size, int(ssum[0]), int(ssum[1]), int(ssum[2]), True)
            )
        return out

    return _map_payloads(
        media,
        payload_col,
        GIF_SAMPLE_SCHEMA,
        {"gif": _decoder(_gif_pixel_frames, sample)},
        lambda ref: (None, None, None, None, None, False),
        strict,
    )


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Deterministic fake feature extractor — the Arrow batch shape of a
    real embedding model stage.  A NULL ref gets NULL features."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                None if ref is None else (np.frombuffer(
                    (hashlib.md5(ref.encode()).digest() * (dim // 16 + 1))[:dim],
                    dtype=np.uint8,
                ).astype(np.float32) / 255.0).tolist()
                for ref in pdf["media_ref"]
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media_ref": pdf["media_ref"],
                 "features": feats}
            )

    return media.select("doc_id", "media_ref").mapInPandas(run, FEATURES_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video refs (deterministic offsets from the
    fake duration); other and NULL refs give no row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, ref in zip(pdf["doc_id"], pdf["media_ref"]):
                if _media_type(ref) != "video":
                    continue
                _, _, dur = _fake_decode(ref)
                rows.append((doc_id, ref, list(range(0, dur, every_ms))))
            yield pd.DataFrame(rows, columns=["doc_id", "media_ref", "frame_ms"])

    return media.select("doc_id", "media_ref").mapInPandas(run, FRAMES_SCHEMA)


def modality_stats(documents: DataFrame) -> DataFrame:
    """Per-document modality profile straight off the interleaved span
    array — one narrow JVM projection, no explode and no Python:

    (doc_id, n_spans, n_media, n_image, n_audio, n_video, text_bytes,
     media_frac)

    ``n_image``/``n_audio``/``n_video`` classify ``media_ref`` by extension
    (the same table as ``_media_type``); ``text_bytes`` sums the text
    payload of every span; ``media_frac`` = media spans / all spans
    (rounded to 4 — exact in any engine).  The curation signal for a
    text+media corpus: filter docs that are all boilerplate media, or route
    media-heavy docs to the decode pipeline."""
    from pyspark.sql import functions as F

    media = "filter(spans, s -> s.media_ref IS NOT NULL)"

    def n_type(media_type: str) -> str:
        conds = " OR ".join(
            f"endswith(lower(s.media_ref), '.{e}')"
            for e, t in _MEDIA_TYPES.items()
            if t == media_type
        )
        return f"size(filter(spans, s -> s.media_ref IS NOT NULL AND ({conds})))"

    return documents.select(
        "doc_id",
        F.expr("size(spans)").cast("long").alias("n_spans"),
        F.expr(f"size({media})").cast("long").alias("n_media"),
        F.expr(n_type("image")).cast("long").alias("n_image"),
        F.expr(n_type("audio")).cast("long").alias("n_audio"),
        F.expr(n_type("video")).cast("long").alias("n_video"),
        F.expr(
            "aggregate(spans, 0L, (acc, s) -> acc + octet_length(coalesce(s.text, '')))"
        ).alias("text_bytes"),
        F.expr(
            # guard: ANSI division by zero on a spanless doc
            f"CASE WHEN size(spans) = 0 THEN 0.0 "
            f"ELSE round(size({media}) / size(spans), 4) END"
        ).alias("media_frac"),
    )
