"""The three multimodal pipeline VERBS over real decoded payloads:
resize (nearest-neighbor thumbnail), audio feature extraction (framed
PCM energy / zero-crossings), and frame sampling (decode only the kept
GIF frames).  Expectations are re-derived INDEPENDENTLY in the test from
the generation rules — never by calling the decoders under test."""

import struct

import numpy as np
import pytest

from obsidian_parser_spark.operators.multimodal import (
    _gif_frame_indices,
    _gif_frames_raw,
    audio_frame_features,
    audio_sample_stats,
    decode_media,
    decode_media_payloads,
    extract_features,
    gif_frame_samples,
    gif_frame_stats,
    image_ahash,
    image_channel_stats,
    sample_frames,
    thumbnail_row_stats,
)
from obsidian_parser_spark.sources.corpus import (
    bmp_bytes,
    gif_bytes,
    gif_palette,
    png_bytes,
    wav_bytes,
)

MEDIA_SCHEMA = "media_ref string, payload binary"


def _media_df(spark, rows):
    return spark.createDataFrame(
        [(r, bytearray(p)) for r, p in rows], MEDIA_SCHEMA
    )


def _rows_by_ref(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.media_ref, []).append(r)
    return out


def test_thumbnail_nn_mapping_all_formats(spark):
    """8×8 NN thumbnail row sums recomputed from the generation rules:
    the two-tone formats pin the Y mapping (+ BMP's bottom-up flip), the
    GIF (x+y)%4 raster pins the X mapping too."""
    ct, cb = (10, 20, 30), (200, 100, 50)
    w, h = 11, 13
    gw, gh, g = 9, 6, 4
    df = _media_df(
        spark,
        [
            ("a.png", png_bytes(w, h, c_top=ct, c_bottom=cb)),
            ("b.bmp", bmp_bytes(w, h, c_top=ct, c_bottom=cb)),
            ("c.gif", gif_bytes(gw, gh, n_frames=3, g=g)),
        ],
    )
    got = _rows_by_ref(thumbnail_row_stats(df, th=8, tw=8))

    for ref in ("a.png", "b.bmp"):
        rows = sorted(got[ref], key=lambda r: r.ty)
        assert [r.ty for r in rows] == list(range(8))
        for r in rows:
            src_y = (r.ty * h) // 8
            c = ct if src_y < h // 2 else cb
            assert (r.sum_r, r.sum_g, r.sum_b) == (8 * c[0], 8 * c[1], 8 * c[2])
            assert r.ok

    pal = gif_palette(g)
    for r in sorted(got["c.gif"], key=lambda r: r.ty):
        sy = (r.ty * gh) // 8
        exp = [0, 0, 0]
        for tx in range(8):
            c = pal[((tx * gw) // 8 + sy) % 4]  # frame 0: index=(x+y)%4
            for ch in range(3):
                exp[ch] += c[ch]
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(exp)


def test_thumbnail_upsample_and_error_channel(spark):
    """Upsampling a 4×4 source repeats rows ((ty*4)//8 hits each source
    row twice); corrupt and unsupported payloads take the error channel;
    strict raises the declared codec stub."""
    df = _media_df(
        spark,
        [
            ("small.png", png_bytes(4, 4, c_top=(1, 2, 3), c_bottom=(7, 8, 9))),
            ("broken.png", b"\x89PNGBROKEN" + b"\x00" * 8),
            ("photo.jpg", b"\xff\xd8\xff\xe0 not decodable here"),
        ],
    )
    got = _rows_by_ref(thumbnail_row_stats(df, th=8, tw=8))

    rows = sorted(got["small.png"], key=lambda r: r.ty)
    # source rows 0,0,1,1,2,2,3,3 → top color for ty<4, bottom for ty≥4
    for r in rows:
        c = (1, 2, 3) if r.ty < 4 else (7, 8, 9)
        assert (r.sum_r, r.sum_g, r.sum_b) == (8 * c[0], 8 * c[1], 8 * c[2])

    for bad in ("broken.png", "photo.jpg"):
        (r,) = got[bad]
        assert not r.ok and r.ty is None

    with pytest.raises(Exception, match="NotImplementedError|codec"):
        thumbnail_row_stats(
            _media_df(spark, [("photo.jpg", b"\xff\xd8")]), strict=True
        ).collect()


def test_audio_frames_ragged_and_boundary_crossing(spark):
    """frame=4 over 10 hand-picked samples: a sign flip INSIDE a frame
    counts, the flip straddling the frame boundary does not, and the
    ragged last frame keeps its true length."""
    s = [5, -3, 2, 4, -6, 1, 1, 1, -9, 9]
    #    f0: 5,-3,2,4   (2 flips: 5/-3, -3/2)
    #    f1: -6,1,1,1   (1 flip: -6/1; the 4/-6 boundary pair is neither's)
    #    f2: -9,9       (ragged, 1 flip)
    df = _media_df(spark, [("t.wav", wav_bytes(8000, n_frames=10, samples=s))])
    rows = sorted(
        audio_frame_features(df, frame=4).collect(), key=lambda r: r.frame_idx
    )
    got = [(r.frame_idx, r.n, r.sum_amp, r.sum_abs, r.n_zc, r.ok) for r in rows]
    assert got == [
        (0, 4, 8, 14, 2, True),
        (1, 4, -3, 9, 1, True),
        (2, 2, 0, 18, 1, True),
    ]


def test_audio_frames_error_channel(spark):
    df = _media_df(
        spark,
        [
            ("bad.wav", b"RIFF" + b"\x00" * 12),
            ("noise.mp3", b"ID3 not decodable"),
        ],
    )
    got = _rows_by_ref(audio_frame_features(df))
    for ref in ("bad.wav", "noise.mp3"):
        (r,) = got[ref]
        assert not r.ok and r.frame_idx is None


def test_gif_frame_sampling_rows_and_skip_decode(spark):
    """stride=3 over 7 frames keeps exactly f=0,3,6 with per-frame sums
    from the (x+y+f)%4 rule; the structural walk exposes all 7 frames
    WITHOUT decoding, so the sampler's decode count is 3, not 7."""
    w, h, g = 6, 5, 2
    payload = gif_bytes(w, h, n_frames=7, g=g)
    rows = sorted(
        gif_frame_samples(
            _media_df(spark, [("a.gif", payload)]), stride=3
        ).collect(),
        key=lambda r: r.f,
    )
    pal = gif_palette(g)
    assert [r.f for r in rows] == [0, 3, 6]
    for r in rows:
        exp = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                c = pal[(x + y + r.f) % 4]
                for ch in range(3):
                    exp[ch] += c[ch]
        assert (r.n_px, r.sum_r, r.sum_g, r.sum_b) == (w * h, *exp)
        assert r.ok

    # walk/decode separation: the walk alone touches no LZW bits, and
    # decoding only the sampled frames is 3 decodes for 7 frames.
    walked = _gif_frames_raw(payload)
    assert walked is not None and len(walked[2]) == 7
    decoded = [
        _gif_frame_indices(walked[2][f]) for f in range(0, 7, 3)
    ]
    assert len(decoded) == 3 and all(a is not None for a in decoded)
    assert decoded[1][0, 0] == 3 % 4  # frame 3, pixel (0,0): (0+0+3)%4


def test_gif_frame_sampling_corrupt_sampled_frame_fails_closed(spark):
    """A structurally-walkable GIF whose THIRD frame carries garbage LZW
    bytes: stride=3 samples it (f=3), the decode fails, and the whole
    payload collapses to the single ok=false sentinel row."""
    w, h = 4, 4
    good = gif_bytes(w, h, n_frames=4, g=1)
    # hand-assemble: header + GCT from the good payload, then 4 frames of
    # which the last is a valid descriptor wrapping undecodable LZW data
    head = good[: 13 + 12]  # screen descriptor + 4-entry GCT
    frame_good = b""
    pos = 13 + 12
    # first frame's descriptor+data, reused for frames 0-2
    import struct

    assert good[pos] == 0x2C
    end = pos + 10 + 1  # descriptor + mcs byte
    while good[end] != 0:
        end += 1 + good[end]
    end += 1
    frame_good = good[pos:end]
    bad_lzw = bytes([2]) + bytes([2, 0xFF, 0xFF]) + b"\x00"
    frame_bad = (
        b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00" + bad_lzw
    )
    payload = head + frame_good * 3 + frame_bad + b"\x3b"
    assert _gif_frames_raw(payload) is not None  # the walk itself is fine

    rows = gif_frame_samples(
        _media_df(spark, [("x.gif", payload)]), stride=3
    ).collect()
    assert len(rows) == 1 and not rows[0].ok and rows[0].f is None


# operator, a natively decoded extension, its exact error-row tail, and
# whether it takes ``strict``
PAYLOAD_OPERATORS = [
    (decode_media_payloads, "png", ("image", None, None, None, False), True),
    (gif_frame_stats, "gif", (None, None, None, False), False),
    (image_channel_stats, "png", (None,) * 6 + (False,), True),
    (audio_sample_stats, "wav", (None, None, None, False), True),
    (thumbnail_row_stats, "png", (None,) * 4 + (False,), True),
    (image_ahash, "png", (-1, -1, -1, -1, False), True),
    (audio_frame_features, "wav", (None,) * 5 + (False,), True),
    (gif_frame_samples, "gif", (None,) * 5 + (False,), True),
]


@pytest.mark.parametrize(
    "op, ext, bad, has_strict",
    PAYLOAD_OPERATORS,
    ids=[row[0].__name__ for row in PAYLOAD_OPERATORS],
)
def test_payload_operator_error_channel_and_strict(spark, op, ext, bad, has_strict):
    """Every payload operator: an unsupported .jpg, a NULL payload of a
    supported extension and a NULL ref each give exactly one error row
    with the operator's own tail; ``strict=True`` raises the codec stub
    for the .jpg but still gives the NULL ref its error row."""
    df = spark.createDataFrame(
        [
            ("photo.jpg", bytearray(b"\xff\xd8\xff\xe0")),
            (f"none.{ext}", None),
            (None, bytearray(png_bytes(2, 2))),
        ],
        MEDIA_SCHEMA,
    )
    # a NULL ref has no extension, so decode_media_payloads types it unknown
    null_bad = ("unknown", *bad[1:]) if op is decode_media_payloads else bad
    got = sorted((tuple(r) for r in op(df).collect()), key=lambda r: r[0] or "")
    assert got == [(None, *null_bad), (f"none.{ext}", *bad), ("photo.jpg", *bad)]
    if has_strict:
        with pytest.raises(Exception, match="codec library"):
            op(df, strict=True).collect()
        null_ref = df.filter("media_ref IS NULL")
        assert [tuple(r) for r in op(null_ref, strict=True).collect()] == [
            (None, *null_bad)
        ]


def test_fake_media_stages_take_null_ref(spark):
    """The payload-less stages on a NULL media_ref: ``decode_media``
    (fake) gives an ok=false row with NULL dimensions, ``sample_frames``
    no row, ``extract_features`` NULL features — never a thrown task."""
    df = spark.createDataFrame(
        [("d1", None), ("d2", "clip.mp4")], "doc_id string, media_ref string"
    )
    dec = {r.doc_id: tuple(r) for r in decode_media(df).collect()}
    assert dec["d1"] == ("d1", None, "unknown", None, None, 0, False)
    assert dec["d2"][2] == "video" and dec["d2"][6]
    assert [r.doc_id for r in sample_frames(df).collect()] == ["d2"]
    feats = {r.doc_id: r.features for r in extract_features(df).collect()}
    assert feats["d1"] is None and len(feats["d2"]) == 16


def _palette_less_gif(w, h):
    """A GIF with no global and no local color table: the corpus GIF's
    first frame (its LZW data intact) behind a header with the GCT flag
    cleared."""
    g = gif_bytes(w, h, n_frames=1)
    frame = g[13 + 12 : -1]  # screen descriptor + 4-entry GCT, then frame
    assert frame[0] == 0x2C and frame[9] == 0  # no local color table
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + frame + b"\x3b"


def test_gif_walk_counts_palette_less_frame_pixels_fail_closed(spark):
    """The one block walker counts a frame without a color table; the
    pixel paths have no colors for it and fail closed."""
    df = _media_df(spark, [("p.gif", _palette_less_gif(4, 3))])
    (r,) = gif_frame_stats(df).collect()
    assert (r.width, r.height, r.n_frames, r.ok) == (4, 3, 1, True)
    (px,) = image_channel_stats(df).collect()
    assert not px.ok and px.n_px is None
    (s,) = gif_frame_samples(df).collect()
    assert not s.ok and s.f is None


def test_gif_frame_stats_header_only_gif_is_error_row(spark):
    """A 10-byte GIF (signature + width + height, nothing else) passes
    the header parse but has no screen-descriptor flags byte: an ok=false
    row, not a task failure."""
    df = _media_df(spark, [("h.gif", b"GIF89a" + struct.pack("<HH", 3, 4))])
    assert [tuple(r) for r in gif_frame_stats(df).collect()] == [
        ("h.gif", None, None, None, False)
    ]
