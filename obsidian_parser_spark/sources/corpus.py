"""Deterministic interleaved-span vault corpus (the engine's primary input).

Schema = BASELINE.json ``input_hint``:

    documents(doc_id: string,
              spans: array<struct<kind: string, text: string,
                                  media_ref: string, offset: int>>)

* ``kind`` ∈ {frontmatter, text, wikilink, embed, mdlink, media};
* at most one frontmatter span, at offset 0, raw YAML without fences;
* concatenating non-frontmatter ``text`` in offset order reconstructs the
  note content (media spans carry ``text=''`` + an opaque ``media_ref``).

The generated shape mirrors the reference Criterion bench corpus
(/root/reference/benches/benchmarks.rs:15-70: N files × `links_per_file`
blocks × filler lines of "TEST DATA", uniform link targets), extended
deterministically with the features the engine must exercise: nested dirs +
full-path links, duplicate short names, frontmatter tags/aliases (canonical
flow style so a DuckDB oracle can re-parse them with regex), inline tags,
embeds with media refs, markdown links, dangling targets, alias-only
targets, hub-skewed (Zipf-ish) backlink targets, exact-duplicate contents,
and (v6) markdown structure: ATX headings, GFM task checkboxes,
Dataview-style ``key:: value`` inline fields (link values as their own
wikilink spans — [[..]] never hides inside a text span, the corpus
contract that keeps span-kind oracles and content-scan engines in
agreement), plus typo-shaped dangles one edit from a real stem.

Everything is seeded numpy — same (sf, seed) ⇒ byte-identical parquet.
No external data.
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DEFAULT_SEED = 42
DEFAULT_BASE = os.path.join(os.path.dirname(__file__), "..", "..", "data", "vault")

SPAN_TYPE = pa.list_(
    pa.struct(
        [
            pa.field("kind", pa.string()),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32()),
        ]
    )
)
DOCUMENTS_SCHEMA = pa.schema(
    [pa.field("doc_id", pa.string()), pa.field("spans", SPAN_TYPE)]
)


def num_files_for_sf(sf_name: str) -> int:
    """sf0.001 → 1000 notes (the reference bench's corpus size), linear in sf."""
    m = re.fullmatch(r"sf([0-9.]+)", sf_name)
    if not m:
        raise ValueError(f"bad sf name: {sf_name}")
    return max(10, int(round(float(m.group(1)) * 1_000_000)))


def vault_corpus_dir(sf_name: str, base: str | None = None) -> str:
    return os.path.abspath(os.path.join(base or DEFAULT_BASE, sf_name))


def documents_parquet_path(sf_name: str, base: str | None = None) -> str:
    return os.path.join(vault_corpus_dir(sf_name, base), "documents.parquet")


def ensure_vault_corpus(
    sf_name: str,
    base: str | None = None,
    seed: int = DEFAULT_SEED,
    links_per_file: int = 10,
) -> str:
    """Generate the corpus for ``sf_name`` if absent; return the parquet path.

    A marker file records the generation parameters; a parameter change
    forces regeneration (idempotent otherwise).
    """
    out_dir = vault_corpus_dir(sf_name, base)
    pq_path = documents_parquet_path(sf_name, base)
    marker = os.path.join(out_dir, "_GENERATED.json")
    params = {
        "version": 7,
        "seed": seed,
        "num_files": num_files_for_sf(sf_name),
        "links_per_file": links_per_file,
    }
    if os.path.exists(marker) and os.path.exists(pq_path):
        with open(marker) as f:
            if json.load(f) == params:
                return pq_path
    os.makedirs(out_dir, exist_ok=True)
    generate_vault_corpus(
        pq_path, params["num_files"], links_per_file=links_per_file, seed=seed
    )
    with open(marker, "w") as f:
        json.dump(params, f)
    return pq_path


# --------------------------------------------------------------------------
# media payloads (real PNG/WAV headers, dependency-free)
# --------------------------------------------------------------------------

MEDIA_SCHEMA = pa.schema(
    [pa.field("media_ref", pa.string()), pa.field("payload", pa.binary())]
)


def media_parquet_path(sf_name: str, base: str | None = None) -> str:
    return os.path.join(vault_corpus_dir(sf_name, base), "media.parquet")


def png_bytes(
    width: int,
    height: int,
    c_top: tuple[int, int, int] | None = None,
    c_bottom: tuple[int, int, int] | None = None,
) -> bytes:
    """A REAL PNG: signature + IHDR (8-bit RGB, zlib CRC32) [+ IDAT + IEND].

    With ``c_top``/``c_bottom`` the image carries actual PIXELS: a
    two-tone RGB raster (top ``height//2`` rows = c_top, rest = c_bottom),
    filter type 0 per scanline, one zlib-compressed IDAT — decodable by
    any PNG reader, and by ``multimodal.image_channel_stats``' stdlib
    decoder.  Without colors only the header surface exists (enough for
    ``decode_media``)."""
    import struct
    import zlib

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    chunks = [(b"IHDR", ihdr)]
    if c_top is not None and c_bottom is not None:
        top_rows = height // 2
        raster = b"".join(
            b"\x00" + bytes(c_top if r < top_rows else c_bottom) * width
            for r in range(height)
        )
        chunks.append((b"IDAT", zlib.compress(raster)))
    chunks.append((b"IEND", b""))
    out = b"\x89PNG\r\n\x1a\n"
    for tag, data in chunks:
        out += struct.pack(">I", len(data)) + tag + data
        out += struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    return out


def wav_bytes(
    sample_rate: int,
    n_frames: int,
    channels: int = 1,
    bits: int = 16,
    sample_value: int | None = None,
    samples: list[int] | None = None,
) -> bytes:
    """A REAL WAV: canonical 44-byte RIFF/fmt/data header (PCM).  With
    ``sample_value`` the data chunk carries actual 16-bit LE PCM samples
    (constant amplitude) — parseable by any WAV reader and by
    ``multimodal.audio_sample_stats``; ``samples`` instead writes an
    explicit varying waveform (n_frames must equal len(samples) for
    mono).  Without either the body is omitted (the header carries
    everything ``decode_media`` derives)."""
    import struct

    block = channels * bits // 8
    byte_rate = sample_rate * block
    data_size = n_frames * block
    out = (
        b"RIFF"
        + struct.pack("<I", 36 + data_size)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, channels, sample_rate, byte_rate, block, bits)
        + b"data"
        + struct.pack("<I", data_size)
    )
    if samples is not None:
        out += struct.pack(f"<{len(samples)}h", *samples)
    elif sample_value is not None:
        out += struct.pack("<h", sample_value) * (n_frames * channels)
    return out


def bmp_bytes(
    width: int,
    height: int,
    c_top: tuple[int, int, int],
    c_bottom: tuple[int, int, int],
) -> bytes:
    """A REAL BMP: 14-byte file header + 40-byte BITMAPINFOHEADER + an
    UNCOMPRESSED 24-bit BGR raster (rows bottom-up, each padded to a
    4-byte boundary) — the two-tone color rule mirrors ``png_bytes`` (top
    ``height//2`` rows = c_top, rest = c_bottom) so exact channel sums
    are a pure function of (ref number, header dims).  Decodable by any
    BMP reader and by ``multimodal._bmp_raster`` with zero
    decompression."""
    import struct

    row = (3 * width + 3) & ~3
    pad = row - 3 * width
    top_rows = height // 2
    # bottom-up storage: image row y is written at position height-1-y
    body = b"".join(
        bytes(reversed(c_top if y < top_rows else c_bottom)) * width
        + b"\x00" * pad
        for y in reversed(range(height))
    )
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, row * height,
        2835, 2835, 0, 0,
    )
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(body), 0, 0, 54)
    return hdr + info + body


def gif_palette(g: int) -> list[tuple[int, int, int]]:
    """The 4-entry global color table for gif ref number ``g`` — a pure
    function of g, so channel sums are verifiable without touching the
    LZW bytes."""
    return [
        ((g * 37 + j * 59) % 256, (g * 11 + j * 83) % 256,
         (g * 53 + j * 29) % 256)
        for j in range(4)
    ]


def _gif_lzw_encode(indices: list[int], min_code_size: int = 2) -> bytes:
    """A valid (deliberately compression-free) GIF-LZW stream for 2-bit
    pixel indices: a CLEAR code before every pair of literal codes keeps
    the decoder's table at ≤ 8 entries so the code width never leaves
    ``min_code_size + 1`` bits — tiny and trivially correct, and any
    conforming decoder (including a real one) reads it back exactly.
    LSB-first bit packing per the GIF spec."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    bits = 0
    nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal bits, nbits
        bits |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bits & 0xFF)
            bits >>= 8
            nbits -= 8

    for i, idx in enumerate(indices):
        if i % 2 == 0:
            emit(clear)
        emit(idx)
    emit(eoi)
    if nbits:
        out.append(bits & 0xFF)
    return bytes(out)


def gif_bytes(
    width: int, height: int, n_frames: int = 1, g: int = 0
) -> bytes:
    """A REAL GIF89a: signature + logical screen descriptor (width/height
    little-endian uint16) + the 4-entry ``gif_palette(g)`` global color
    table + ``n_frames`` full-frame image descriptors each carrying a
    GENUINE LZW-coded raster (pixel index = (x + y + f) % 4, a pure
    function of position and frame) in length-prefixed sub-blocks +
    trailer — decodable by any GIF reader and by
    ``multimodal._decode_gif_pixels``' real LZW decoder, with channel
    sums verifiable closed-form from (g, dims, frame count) alone."""
    import struct

    out = b"GIF89a" + struct.pack("<HH", width, height)
    out += bytes([0x81, 0, 0])  # GCT flag + size bits=1 (4 entries), bg, aspect
    for rgb in gif_palette(g):
        out += bytes(rgb)
    for f in range(n_frames):
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        out += bytes([2])  # LZW minimum code size
        idx = [(x + y + f) % 4 for y in range(height) for x in range(width)]
        data = _gif_lzw_encode(idx)
        for pos in range(0, len(data), 255):
            chunk = data[pos : pos + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"  # sub-block terminator
    return out + b"\x3b"


def ensure_media_corpus(sf_name: str, base: str | None = None) -> str:
    """Deterministic media-payload table beside the vault corpus:
    ``media(media_ref, payload)`` with real PNG headers (even i), real WAV
    headers (odd i) and deliberately corrupt payloads (every 13th) so the
    decode error channel has positives, plus appended real multi-frame
    GIFs (dims/frame-count pure functions of the ref number, every 7th
    corrupt) and real uncompressed two-tone BMPs (every 9th corrupt) —
    the third and fourth natively-decodable formats.  Size scales with
    sf."""
    out_dir = vault_corpus_dir(sf_name, base)
    path = media_parquet_path(sf_name, base)
    marker = os.path.join(out_dir, "_MEDIA_GENERATED.json")
    n_media = max(60, num_files_for_sf(sf_name) // 20)
    params = {"version": 7, "n_media": n_media}
    if os.path.exists(marker) and os.path.exists(path):
        with open(marker) as f:
            if json.load(f) == params:
                return path
    os.makedirs(out_dir, exist_ok=True)
    refs: list[str] = []
    payloads: list[bytes] = []
    for i in range(n_media):
        if i % 13 == 5:
            # corrupt: PNG extension, bad signature/IHDR → ok=false row
            refs.append(f"bad_{i}.png")
            payloads.append(b"\x89PNGBROKEN" + bytes([i % 256]) * 8)
        elif i % 2 == 0:
            # odd-numbered refs: overlap the vault documents' embed refs
            # (corpus embeds reference img_{t}.png for odd t), so joining
            # decoded metadata back onto spans is non-trivially exercised.
            # Colors/dims are pure functions of the REF NUMBER j so an SQL
            # oracle can recompute exact channel sums without inflating.
            j = i + 1
            refs.append(f"img_{j}.png")
            payloads.append(
                png_bytes(
                    4 + (j * 37) % 60,
                    4 + (j * 53) % 60,
                    c_top=(j % 256, (j * 7) % 256, (j * 13) % 256),
                    c_bottom=((j * 3) % 256, (j * 5) % 256, (j * 11) % 256),
                )
            )
        else:
            # constant-amplitude PCM, value a pure function of the ref
            # number — the SQL oracle recomputes the exact sample sum
            refs.append(f"aud_{i}.wav")
            payloads.append(
                wav_bytes(
                    8000 + (i % 8) * 1000,
                    n_frames=50 * ((i % 100) + 1),
                    sample_value=(i * 37) % 65536 - 32768,
                )
            )
    # appended GIF rows (refs disjoint from the png/wav families, so the
    # png/wav-filtered oracles are byte-stable vs corpus version 3)
    for g in range(max(20, n_media // 3)):
        if g % 7 == 3:
            refs.append(f"bad_anim_{g}.gif")
            payloads.append(b"GIFXXa" + bytes([g % 256]) * 8)
        else:
            refs.append(f"anim_{g}.gif")
            payloads.append(
                gif_bytes(
                    2 + (g * 31) % 100, 2 + (g * 17) % 100,
                    n_frames=1 + g % 9, g=g,
                )
            )
    # appended BMP rows (version 5; refs disjoint from png/wav/gif so the
    # earlier families' oracles stay byte-stable): uncompressed two-tone
    # rasters whose dims/colors are pure functions of the ref number m,
    # every 9th corrupt
    for m2 in range(max(16, n_media // 4)):
        if m2 % 9 == 4:
            refs.append(f"bad_flat_{m2}.bmp")
            payloads.append(b"BMBROKEN" + bytes([m2 % 256]) * 8)
        else:
            refs.append(f"flat_{m2}.bmp")
            payloads.append(
                bmp_bytes(
                    2 + (m2 * 29) % 90,
                    2 + (m2 * 23) % 90,
                    c_top=(m2 % 256, (m2 * 19) % 256, (m2 * 31) % 256),
                    c_bottom=((m2 * 7) % 256, (m2 * 3) % 256, (m2 * 41) % 256),
                )
            )
    # appended VARYING-PCM WAV rows (version 7; refs disjoint from every
    # earlier family so their oracles stay byte-stable): sample k of tone
    # t is ((t*37 + k*13) % 200) - 100 — a pure function of (t, k), so an
    # SQL oracle can recompute exact frame-level sums / |amplitude| /
    # zero-crossing counts via generate_series without reading a byte of
    # PCM.  Constant-amplitude aud_*.wav rows can't exercise
    # zero-crossings (always 0) — these can.  Every 11th corrupt (RIFF
    # prefix but truncated, so header validation must fail it).
    for t in range(max(12, n_media // 5)):
        if t % 11 == 7:
            refs.append(f"bad_tone_{t}.wav")
            payloads.append(b"RIFF" + bytes([t % 256]) * 12)
        else:
            n_fr = 400 + (t % 7) * 100
            refs.append(f"tone_{t}.wav")
            payloads.append(
                wav_bytes(
                    16000,
                    n_frames=n_fr,
                    samples=[((t * 37 + k * 13) % 200) - 100
                             for k in range(n_fr)],
                )
            )
    pq.write_table(
        pa.Table.from_pydict(
            {"media_ref": refs, "payload": payloads}, schema=MEDIA_SCHEMA
        ),
        path,
        compression="zstd",
    )
    with open(marker, "w") as f:
        json.dump(params, f)
    return path


# --------------------------------------------------------------------------
# generation
# --------------------------------------------------------------------------


def _doc_id(i: int) -> str:
    return f"dir_{i % 7}/note_{i}" if i % 5 == 0 else f"note_{i}"


def generate_vault_corpus(
    out_path: str,
    num_files: int,
    links_per_file: int = 10,
    seed: int = DEFAULT_SEED,
    filler_lines: tuple[int, int] = (30, 60),
    row_group_docs: int = 8192,
) -> None:
    rng = np.random.default_rng(seed)
    n, k = num_files, links_per_file

    # all randomness drawn up-front, vectorized
    uniform_targets = rng.integers(0, n, size=(n, k))
    hub_mask = rng.random(size=(n, k)) < 0.20  # 20% of links hit 5 hub notes
    hub_targets = rng.integers(0, min(5, n), size=(n, k))
    targets = np.where(hub_mask, hub_targets, uniform_targets)
    fills = rng.integers(filler_lines[0], filler_lines[1] + 1, size=(n, k))
    deco = rng.integers(0, 10, size=(n, k))  # wikilink suffix decoration style
    n_tags = rng.integers(0, 4, size=n)

    writer = pq.ParquetWriter(out_path, DOCUMENTS_SCHEMA, compression="zstd")
    buf_ids: list[str] = []
    buf_spans: list[list[dict]] = []

    def flush() -> None:
        nonlocal buf_ids, buf_spans
        if buf_ids:
            writer.write_table(
                pa.Table.from_pydict(
                    {"doc_id": buf_ids, "spans": buf_spans}, schema=DOCUMENTS_SCHEMA
                )
            )
            buf_ids, buf_spans = [], []

    def emit(doc_id: str, spans: list[dict]) -> None:
        buf_ids.append(doc_id)
        buf_spans.append(spans)
        if len(buf_ids) >= row_group_docs:
            flush()

    dup_content_docs: list[tuple[str, list[dict]]] = []

    for i in range(n):
        spans: list[dict] = []
        off = 0

        def add(kind: str, text: str, media_ref: str | None = None) -> None:
            nonlocal off
            spans.append(
                {"kind": kind, "text": text, "media_ref": media_ref, "offset": off}
            )
            off += 1

        # frontmatter (canonical flow style; every doc except i%13==0)
        if i % 13 != 0:
            tags = [f"tag_{(i + t) % 20}" for t in range(int(n_tags[i]))]
            if i % 31 == 0:
                tags.append("todo")
            aliases = [f"alias_{i}"] if i % 11 == 0 else []
            fm = (
                f"id: {i}\n"
                f"tags: [{', '.join(tags)}]\n"
                f"aliases: [{', '.join(aliases)}]"
            )
            add("frontmatter", fm, None)

        # Dataview-style inline fields (v6): plain value + a LINK value —
        # the link is its own wikilink span (the corpus contract: [[..]]
        # never hides inside a text span, so span-kind oracles and the
        # engine's content scan agree)
        if i % 6 == 2:
            add("text", f"status:: {('active', 'draft', 'archived')[i % 3]}\n")
            add("text", "owner:: ")
            add("wikilink", f"[[note_{(i + 2) % n}]]")
            add("text", "\n")

        # markdown heading outline (v6): a top-level title heading here,
        # a section heading mid-document (inside the block loop below)
        if i % 5 == 1:
            add("text", f"# intro {i % 7}\n")

        for j in range(k):
            if j == k // 2 and i % 5 == 1:
                add("text", f"## sec {i % 11}\n")
                # (v7) heading named in the SAME format the d==3 anchored
                # wikilinks use — so [[note_t#section m]] anchors VALIDATE
                # against note_t's real outline iff t % 5 == 1 and
                # m == t % 3: deterministic true AND false positives for
                # broken-anchor detection
                add("text", f"### section {i % 3}\n")
            filler = "TEST DATA\n" * int(fills[i, j])
            if j == 0 and i % 7 == 0:
                filler += f"#inline_{i % 20} "
            if int(deco[i, j]) == 1:
                # plain-text mention of a note that is (usually) NOT linked
                # from this doc — positives for unlinked-mention detection;
                # occasional collisions with a linked target exercise the
                # detector's anti-join against the resolved edge list
                add("text", filler + f"as discussed in note_{(int(targets[i, j]) + 3) % n} earlier\n")
            else:
                add("text", filler)

            t = int(targets[i, j])
            d = int(deco[i, j])
            if d == 7:  # embed: note transclusion (resolves) or media (dangles)
                if t % 2 == 0:
                    add("embed", f"![[note_{t}]]")
                else:
                    add("embed", f"![[img_{t}.png]]", f"img_{t}.png")
            elif d == 8:  # markdown link (plain or full-path .md)
                if t % 5 == 0:
                    add("mdlink", f"[see](dir_{t % 7}/note_{t}.md)")
                else:
                    add("mdlink", f"[see](note_{t})")
            elif d == 9 and t % 29 == 0:  # dangling target (silently dropped)
                add("wikilink", f"[[missing_{t}]]")
            elif d == 6 and t % 11 == 0:  # resolvable only via frontmatter alias
                add("wikilink", f"[[alias_{t}]]")
            elif d == 5 and t % 5 == 0:  # explicit full-path link
                add("wikilink", f"[[dir_{t % 7}/note_{t}|full]]")
            elif d == 4:
                add("wikilink", f"[[note_{t}|shown text]]")
            elif d == 3:
                add("wikilink", f"[[note_{t}#section {t % 3}]]")
            elif d == 2:
                add("wikilink", f"[[note_{t}^blk{t % 7}]]")
            else:
                add("wikilink", f"[[note_{t}]]")
            add("text", "\n")

        # task list items (v6): checked + unchecked GFM checkboxes
        if i % 9 == 4:
            add("text", f"- [ ] follow up {i % 13}\n- [x] drafted {i % 17}\n")

        # typo-shaped dangling link (v6): one edit away from a real stem —
        # the guaranteed positive for fuzzy link suggestion
        if i % 23 == 3:
            add("wikilink", f"[[note_{(i * 7) % n}x]]")
            add("text", "\n")

        if i % 17 == 0:  # opaque media span: empty text, ref only
            add("media", "", f"vid_{i}.mp4")

        emit(_doc_id(i), spans)

        # duplicate-stem + duplicate-content companions
        if i % 97 == 0:
            dup_content_docs.append((f"dup/note_{i}", [dict(s) for s in spans]))

    for doc_id, spans in dup_content_docs:
        emit(doc_id, spans)

    # isolated notes: no outgoing links, stems never targeted ⇒ guaranteed
    # orphans (degree 0) so the orphan-detection query has positives
    for i in range(0, n, 199):
        emit(
            f"isolated/iso_{i}",
            [
                {"kind": "frontmatter", "text": f"id: iso{i}\ntags: [tag_iso]\naliases: []",
                 "media_ref": None, "offset": 0},
                {"kind": "text", "text": f"isolated note {i}\n", "media_ref": None,
                 "offset": 1},
            ],
        )
    flush()
    writer.close()


# --------------------------------------------------------------------------
# fixtures: raw note text -> span rows (for golden/parity tests)
# --------------------------------------------------------------------------

_SEG_RE = re.compile(
    r"(?s)(!?\[\[.*?\]\])"  # wikilink / embed (non-overlapping segmentation)
    r"|(\[[^\]\[]*\]\([^()\s]+\))"  # markdown link
)


def spans_from_raw(doc_id: str, raw_text: str) -> dict:
    """Build a span row from raw note text (frontmatter fences included).

    Used for test fixtures only — segmentation uses non-overlapping matches,
    so pathological overlap cases stay in the pure-text parity tests.
    """
    from ..functions.textops import split_frontmatter

    props, content, err = split_frontmatter(raw_text)
    spans: list[dict] = []
    off = 0
    if props is not None:
        spans.append(
            {"kind": "frontmatter", "text": props, "media_ref": None, "offset": off}
        )
        off += 1
    pos = 0
    for m in _SEG_RE.finditer(content):
        if m.start() > pos:
            spans.append(
                {
                    "kind": "text",
                    "text": content[pos : m.start()],
                    "media_ref": None,
                    "offset": off,
                }
            )
            off += 1
        token = m.group(0)
        kind = (
            "embed"
            if token.startswith("!")
            else ("mdlink" if m.group(2) else "wikilink")
        )
        spans.append({"kind": kind, "text": token, "media_ref": None, "offset": off})
        off += 1
        pos = m.end()
    if pos < len(content) or not spans:
        spans.append(
            {"kind": "text", "text": content[pos:], "media_ref": None, "offset": off}
        )
    return {"doc_id": doc_id, "spans": spans}


def micro_vault_rows() -> list[dict]:
    """The reference's canonical 3-note fixture (src/vault/vault_test.rs:13-36)
    as span rows.  Golden: 3 nodes, 3 edges (vault_petgraph/mod.rs:155-161)."""
    return [
        spans_from_raw(
            "main",
            "---\ntopic: work\ncreated: 15-04-2006\n---\nMain data. Other [[data/main|main]]",
        ),
        spans_from_raw(
            "link", "---\ntopic: kinl\ncreated: 15-04-2006\n---\n[[main]]"
        ),
        spans_from_raw("data/main", "New main. [[link]]"),
    ]


# ---------------------------------------------------------------------------
# Hostile parser-parity corpus (kg_hostile)
# ---------------------------------------------------------------------------

# RAW UNSPLIT documents exercising the reference parser's byte-exact edge
# cases (SURVEY §2.6.1-8, 12; src/note/parser.rs:58-76, note_tags.rs:40-58):
# substring closer, closer inside a YAML value, leading-space
# non-frontmatter, CRLF frontmatter, unclosed/bare '---', second '---' in
# the body, .trim() of both slices, byte-level '##' exclusion,
# Cyrillic/emoji tags, prefix truncation, multiline/empty/overlapping
# wikilinks, '#'->'^'->'|' strip order, embeds-vs-links, frontmatter tags
# prepended, and the typed error channel (NotFoundCloser / YamlError /
# TagsNotAList / AliasesNotAList).  These route through tokenize_raw_text
# — the engine's own frontmatter split — NOT the pre-split span schema, so
# the driver's oracle certifies the split itself, not just downstream.
HOSTILE_CASES: list[tuple[str, str]] = [
    ("h01_substr_closer", "---\nfoo---bar"),
    ("h02_closer_inside_yaml", "---\ntopic: a---b\nrest"),
    ("h03_leading_space", "  ---\ntopic: x\n---\nbody"),
    ("h04_crlf", "---\r\ntags:\r\n- a\r\n---\r\nCRLF body\r\n"),
    ("h05_unclosed", "---\nno closer here"),
    ("h06_dashes_alone", "---"),
    ("h07_body_dashes", "---\nk: v\n---\nTest data\n---\nTwo test data"),
    ("h08_trim", "---\n  k: v  \n---\n\n  body with spaces  \n\n"),
    ("h09_double_hash", "x ##notag y #real"),
    ("h10_cyrillic_tag", "#татар привет"),
    ("h11_emoji_tag", "#d\U0001f62dx after"),
    ("h12_prefix_trunc", "#tag!bang #a-b_c ok"),
    ("h13_hash_only", "# heading not tag #"),
    ("h14_multiline_link", "see [[a\nb]] end"),
    ("h15_empty_link", "[[]] dropped"),
    ("h16_suffix_link", "[[note#sec^blk|alias]]"),
    ("h17_overlap_link", "pre [[a[[b]] tail"),
    ("h18_todo", "---\ntags:\n- todo\n---\nbody"),
    ("h19_fm_tags_prepended", "---\ntags:\n- z\n- y\n---\n#a text"),
    ("h20_tags_not_list", "---\ntags: single\n---\nbody"),
    ("h21_bad_yaml", "---\n{unclosed\n---\nbody"),
    ("h22_embed_vs_link", "![[pic]] and [[pic]]"),
    ("h23_aliases", "---\naliases:\n- A1\n- B2\n---\nx"),
    ("h24_aliases_not_list", "---\naliases: nope\n---\nx"),
]


def hostile_parquet_path(sf_name: str, base: str | None = None) -> str:
    return os.path.join(vault_corpus_dir(sf_name, base), "hostile.parquet")


def ensure_hostile_corpus(sf_name: str, base: str | None = None) -> str:
    """Write the hostile raw-document table (doc_id, raw_text).  The case
    set is FIXED (a parser-parity gate, not a scale gate) — the oracle is
    a literal expected-row table, so any byte-level drift in the split /
    tag / mention rules fails the driver hash."""
    out_dir = vault_corpus_dir(sf_name, base)
    path = hostile_parquet_path(sf_name, base)
    marker = os.path.join(out_dir, "_HOSTILE_GENERATED.json")
    params = {"version": 1, "n": len(HOSTILE_CASES)}
    if os.path.exists(marker) and os.path.exists(path):
        with open(marker) as f:
            if json.load(f) == params:
                return path
    os.makedirs(out_dir, exist_ok=True)
    tbl = pa.table(
        {
            "doc_id": pa.array([c[0] for c in HOSTILE_CASES], pa.string()),
            "raw_text": pa.array([c[1] for c in HOSTILE_CASES], pa.string()),
        }
    )
    pq.write_table(tbl, path)
    with open(marker, "w") as f:
        json.dump(params, f)
    return path
