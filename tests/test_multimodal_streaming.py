from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.functions import multimodal as mm
from hadoop_2_10_0_src_mapreduce_spark.streaming import windows as sw
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, mm.pack_fake_media(1, 640, 480, b"img-payload-1")),
        (2, mm.pack_fake_media(2, 16000, 2000, b"audio-payload")),
        (3, mm.pack_fake_media(3, 4, 16, bytes(range(64)))),  # 4 frames x 16B
    ]
    return spark.createDataFrame(rows, "id long, media binary")


def test_decode_meta(media_df):
    out = {r.id: r for r in mm.decode_meta(media_df).collect()}
    assert out[1].kind == "image" and (out[1].a, out[1].b) == (640, 480)
    assert out[2].kind == "audio" and out[2].a == 16000
    assert out[3].kind == "video" and out[3].payload_len == 64


def test_decode_image_is_gated():
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG....")


def test_extract_features_deterministic(media_df):
    a = {r.id: tuple(r.features) for r in mm.extract_features(media_df).collect()}
    b = {r.id: tuple(r.features) for r in mm.extract_features(media_df).collect()}
    assert a == b
    assert all(len(v) == mm.FEATURE_DIM for v in a.values())
    assert all(0.0 <= x < 1.0 for v in a.values() for x in v)


def test_sample_frames(media_df):
    frames = mm.sample_frames(media_df, every_n=2).collect()
    # only the video row (id=3) emits; 4 frames sampled every 2 → idx 0, 2
    assert [(r.id, r.frame_idx) for r in sorted(frames, key=lambda r: r.frame_idx)] == [
        (3, 0),
        (3, 2),
    ]
    by_idx = {r.frame_idx: bytes(r.frame) for r in frames}
    assert by_idx[0] == bytes(range(16))
    assert by_idx[2] == bytes(range(32, 48))


def test_resize_images_nearest_neighbor(spark):
    """4×2 raster → 2×2: NN picks source (x'·4//2, y'·2//2) = columns
    0,2 of row 0 and row 1 — hand-computed expected bytes. Non-image
    blobs must pass through byte-identical."""
    raster = bytes([10, 11, 12, 13, 20, 21, 22, 23])  # w=4, h=2
    audio = mm.pack_fake_media(2, 8000, 100, b"aud")
    df = spark.createDataFrame(
        [(1, mm.pack_fake_media(1, 4, 2, raster)), (2, audio)],
        "id long, media binary",
    )
    out = {r.id: bytes(r.media) for r in mm.resize_images(df, 2, 2).collect()}
    kind, w, h, payload = mm._parse(out[1])
    assert (kind, w, h) == (1, 2, 2)
    assert payload == bytes([10, 12, 20, 22])
    assert out[2] == audio  # untouched passthrough
    sums = {r.id: (r.a, r.b, r.byte_sum) for r in mm.payload_byte_sums(df).collect()}
    assert sums[1] == (4, 2, sum(raster))
    assert sums[2] == (8000, 100, sum(b"aud"))

    # ADVICE r9: a corrupt FAKE image (payload length != w*h) must
    # raise the codec-boundary ValueError, NOT fall through to
    # decode_image (where an installed pillow would raise its own
    # UnidentifiedImageError on the FAKE bytes)
    bad = spark.createDataFrame(
        [(9, mm.pack_fake_media(1, 4, 2, b"short"))],
        "id long, media binary",
    )
    with pytest.raises(Exception, match="FAKE image payload length"):
        mm.resize_images(bad, 2, 2).collect()


def _tiny_bmp() -> tuple[bytes, "object"]:
    """Hand-built 3×2 uncompressed 24-bit BMP (bottom-up rows, 4-byte
    row padding: w·3 = 9 → stride 12) plus its expected RGB array."""
    import struct

    import numpy as np

    rgb = np.array(
        [[[255, 0, 0], [0, 255, 0], [0, 0, 255]],
         [[10, 20, 30], [40, 50, 60], [70, 80, 90]]],
        dtype=np.uint8,
    )  # shape (2, 3, 3), row 0 on TOP
    stride = 12
    body = b""
    for y in (1, 0):  # bottom-up storage
        row = b"".join(bytes(px[::-1]) for px in rgb[y])  # RGB -> BGR
        body += row + b"\x00" * (stride - len(row))
    off = 14 + 40
    header = (
        b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 24, 0, len(body),
                      2835, 2835, 0, 0)
    )
    return header + body, rgb


def test_ppm_bmp_pure_numpy_codecs_roundtrip():
    """The r8 codec-boundary shrink: binary PPM/PGM and uncompressed
    24-bit BMP decode on-box with pure numpy — byte-exact round trips
    on generated fixtures, comment/whitespace headers handled, and
    the NotImplementedError boundary preserved for what genuinely
    needs a codec lib."""
    import numpy as np

    rgb = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3)
    blob = mm.encode_ppm(rgb)
    assert blob.startswith(b"P6")
    assert np.array_equal(mm.decode_ppm(blob), rgb)
    assert np.array_equal(mm.decode_image(blob), rgb)
    # header with comments + multi-whitespace (the netpbm spec's edge)
    hairy = b"P6 # c\n# full line comment\n 4\t3 #x\n255\n" + rgb.tobytes()
    assert np.array_equal(mm.decode_ppm(hairy), rgb)
    gray = np.arange(15, dtype=np.uint8).reshape(3, 5)
    assert np.array_equal(mm.decode_ppm(mm.encode_ppm(gray)), gray)
    with pytest.raises(NotImplementedError, match="16-bit"):
        mm.decode_ppm(b"P6\n1 1\n65535\n\x00\x00\x00\x00\x00\x00")
    # ADVICE r9: a magic with NO delimiter after it must refuse —
    # b'P6123 45 255' previously parsed width=123 silently
    with pytest.raises(ValueError, match="no delimiter after magic"):
        mm.decode_ppm(b"P6123 45 255\n" + bytes(123 * 45 * 3))

    bmp, expect = _tiny_bmp()
    assert np.array_equal(mm.decode_bmp(bmp), expect)
    assert np.array_equal(mm.decode_image(bmp), expect)
    with pytest.raises(NotImplementedError, match="24-bit"):
        # 8-bit paletted header
        mm.decode_bmp(bmp[:28] + b"\x08\x00" + bmp[30:])
    # baseline JPEG decodes on-box since r9; a truncated/garbage JPEG
    # header is malformed input (ValueError), not a codec gap
    with pytest.raises(ValueError):
        mm.decode_image(b"\xff\xd8\xff\xe0jpeg...")
    with pytest.raises(NotImplementedError):  # video still gated
        mm.decode_image(b"\x00\x00\x00 ftypisom....")


def test_decode_meta_never_fails_a_batch_on_malformed_blobs(spark):
    """Review fix: truncated FAKE headers and unterminated netpbm
    comments must report kind='unknown', not abort the whole Arrow
    batch — one bad row previously failed every row sharing its
    batch."""
    df = spark.createDataFrame(
        [
            (1, b"FAKE\x01"),                 # truncated FAKE header
            (2, b"P6 # comment no newline"),  # unterminated comment
            (3, b"BM" + b"\x00" * 10),        # truncated BMP
            (4, mm.pack_fake_media(1, 2, 2, b"abcd")),  # good row
        ],
        "id long, media binary",
    )
    meta = {r.id: r.kind for r in mm.decode_meta(df).collect()}
    assert meta == {1: "unknown", 2: "unknown", 3: "unknown", 4: "image"}


def test_png_pure_numpy_codec_roundtrip():
    """The r8 PNG codec: stdlib-zlib DEFLATE + numpy unfiltering.
    Byte-exact raster round trips for gray/RGB/RGBA, every scanline
    filter (0–4) decoded correctly from a hand-filtered stream,
    palette lookup, and the NotImplementedError boundary for what the
    pure codec refuses (16-bit, interlaced, tRNS)."""
    import struct
    import zlib

    import numpy as np

    rng = np.random.default_rng(7)
    for shape in [(5, 4), (3, 7, 3), (4, 3, 4)]:
        arr = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(mm.decode_png(mm.encode_png(arr)), arr)
    rgb = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    assert np.array_equal(mm.decode_image(mm.encode_png(rgb)), rgb)

    # all five filters, hand-applied per row against the true recon —
    # decode must invert each (the encoder only ever emits filter 0,
    # so this is the only coverage the slow paths get)
    def filt(recon, y, f, bpp):
        row = recon[y].astype(np.int64)
        prev = recon[y - 1].astype(np.int64) if y else np.zeros_like(row)
        a = np.concatenate([np.zeros(bpp, np.int64), row[:-bpp]])
        c = np.concatenate([np.zeros(bpp, np.int64), prev[:-bpp]])
        if f == 0:
            out = row
        elif f == 1:
            out = row - a
        elif f == 2:
            out = row - prev
        elif f == 3:
            out = row - (a + prev) // 2
        else:
            p = a + prev - c
            pa, pb, pc = np.abs(p - a), np.abs(p - prev), np.abs(p - c)
            pred = np.where(
                (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, prev, c)
            )
            out = row - pred
        return (out & 0xFF).astype(np.uint8)

    img = rng.integers(0, 256, size=(5, 4, 3), dtype=np.uint8)
    recon = img.reshape(5, 12)
    lines = b"".join(
        bytes([f]) + filt(recon, y, f, 3).tobytes()
        for y, f in enumerate([0, 1, 2, 3, 4])
    )

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(lines))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(mm.decode_png(blob), img)

    # palette: 3 colors, 2x3 indices
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8)
    idx = np.array([[0, 1, 2], [2, 1, 0]], np.uint8)
    pblob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte.tobytes())
        + chunk(b"IDAT", zlib.compress(b"\x00" + idx[0].tobytes()
                                       + b"\x00" + idx[1].tobytes()))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(mm.decode_png(pblob), plte[idx])

    with pytest.raises(NotImplementedError, match="interlaced"):
        mm.decode_png(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 1))
        )
    with pytest.raises(NotImplementedError, match="tRNS"):
        mm.decode_png(
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
            + chunk(b"tRNS", b"\x00")
        )
    with pytest.raises(ValueError, match="not a PNG"):
        mm.decode_png(b"nope")


def test_jpeg_pure_numpy_codec_roundtrip():
    """The r9 baseline-JPEG codec (pure numpy + stdlib): flat blocks
    round-trip EXACTLY (DC-only), smooth content within tight
    tolerance at q95, gray/RGB/4:2:0/odd-size all land the right
    shape, restart-marker streams decode bit-identically to their
    non-restart twins, the stream dispatches through decode_image and
    reports dims through _media_dims, and a baseline stream
    mislabelled SOF2 refuses in the progressive scan validator."""
    import numpy as np

    yy, xx = np.mgrid[0:37, 0:45]
    grad = (yy * 2.5 + xx * 1.5).astype(np.uint8)
    rgb = np.stack([grad, grad[::-1], grad], -1).astype(np.uint8)

    # flat gray: every block is DC-only → quant round-trip is exact
    flat = np.full((16, 16), 128, np.uint8)
    assert np.array_equal(mm.decode_jpeg(mm.encode_jpeg(flat)), flat)

    # smooth gradient, odd dims: q95 keeps the raster within ±2
    out = mm.decode_jpeg(mm.encode_jpeg(grad, quality=95))
    assert out.shape == grad.shape
    assert int(np.abs(out.astype(int) - grad.astype(int)).max()) <= 2

    # RGB 4:4:4 and 4:2:0 (the chroma-upsampling path)
    o444 = mm.decode_jpeg(mm.encode_jpeg(rgb, quality=95))
    assert o444.shape == rgb.shape
    assert int(np.abs(o444.astype(int) - rgb.astype(int)).max()) <= 2
    o420 = mm.decode_jpeg(mm.encode_jpeg(rgb, quality=95, subsample=True))
    assert int(np.abs(o420.astype(int) - rgb.astype(int)).max()) <= 8

    # restart markers: DRI/RSTn streams decode to the IDENTICAL raster
    # (predictor reset + byte realignment replayed exactly)
    for kw in ({}, {"subsample": True}):
        r = mm.decode_jpeg(
            mm.encode_jpeg(rgb, quality=95, restart_interval=3, **kw)
        )
        n = mm.decode_jpeg(mm.encode_jpeg(rgb, quality=95, **kw))
        assert np.array_equal(r, n)

    # dispatch + header-only dims
    blob = mm.encode_jpeg(rgb, quality=90)
    assert mm.decode_image(blob).shape == rgb.shape
    assert mm._media_dims(blob) == ("image", 45, 37, len(blob))

    # noisy content stays a faithful (if lossy) photograph at q90
    rng = np.random.default_rng(0)
    noise = rng.integers(0, 256, (24, 24), np.uint8)
    dec = mm.decode_jpeg(mm.encode_jpeg(noise, quality=90))
    assert float(np.abs(dec.astype(int) - noise.astype(int)).mean()) < 8.0

    # a BASELINE stream mislabelled SOF2 (r11: SOF2 now decodes for
    # real, so the old flip trick instead trips the progressive scan
    # validator — a baseline full-band SOS is illegal under SOF2)
    prog = bytearray(mm.encode_jpeg(grad))
    i = prog.find(b"\xff\xc0")
    prog[i + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scans need"):
        mm.decode_jpeg(bytes(prog))

    # review r9: T.81 B.1.1.2 fill bytes — any number of 0xFF bytes
    # may precede a marker; insert one before DQT and decode must be
    # bit-identical (and _jpeg_dims must still see the SOF)
    plain = mm.encode_jpeg(grad, quality=95)
    j = plain.find(b"\xff\xdb")
    filled = plain[:j] + b"\xff" + plain[j:]
    assert np.array_equal(mm.decode_jpeg(filled), mm.decode_jpeg(plain))
    assert mm._jpeg_dims(filled) == (45, 37)

    # review r9: a non-interleaved (per-component-scan) color stream
    # must refuse loudly, never return a silent luma-only raster —
    # craft it by rewriting the SOS header to claim 1 component
    multi = bytearray(mm.encode_jpeg(rgb, quality=95))
    k = multi.find(b"\xff\xda")
    # SOS payload: len(2) ns(1) [cid tabs]*ns ss se ax — shrink to ns=1
    ns = multi[k + 4]
    assert ns == 3
    new_sos = bytes([0xFF, 0xDA, 0x00, 0x08, 0x01,
                     multi[k + 5], multi[k + 6], 0x00, 0x3F, 0x00])
    multi[k:k + 14] = new_sos
    with pytest.raises(NotImplementedError, match="non-interleaved"):
        mm.decode_jpeg(bytes(multi))

    # review r9: quality contract enforced at the API boundary
    with pytest.raises(ValueError, match="quality"):
        mm.encode_jpeg(grad, quality=0)


def test_jpeg_r10_review_edge_cases():
    """The four r9-review decoder contracts: 4-component SOF refuses
    fallback-visibly (NotImplementedError, so PIL-equipped clusters
    keep decoding CMYK/YCCK streams), fill bytes before an RST marker
    INSIDE the entropy stream decode bit-identically (T.81 B.1.1.2),
    truncated streams always surface as ValueError (never raw
    struct.error/IndexError), and fractional sampling ratios refuse
    instead of np.stack-crashing."""
    import numpy as np

    yy, xx = np.mgrid[0:37, 0:45]
    grad = (yy * 2.5 + xx * 1.5).astype(np.uint8)
    rgb = np.stack([grad, grad[::-1], grad], -1).astype(np.uint8)

    # 4-component SOF (CMYK-shaped): extend the gray stream's SOF0 to
    # claim nf=4 with three extra 1x1 descriptors — must refuse with
    # NotImplementedError at SOF parse, not a bare ValueError later
    four = bytearray(mm.encode_jpeg(grad, quality=95))
    i = four.find(b"\xff\xc0")
    assert four[i + 9] == 1  # nf
    four[i + 2:i + 4] = (int.from_bytes(four[i + 2:i + 4]) + 9).to_bytes(2)
    four[i + 9] = 4
    four[i + 13:i + 13] = bytes([2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0])
    with pytest.raises(NotImplementedError, match="component"):
        mm.decode_jpeg(bytes(four))

    # fill byte before an RST marker inside the scan: T.81 B.1.1.2
    # allows any number of 0xFF fill bytes before ANY marker — the
    # unstuffer must not treat FF-then-FF as a scan terminator
    plain = mm.encode_jpeg(rgb, quality=95, restart_interval=2)
    ref = mm.decode_jpeg(plain)
    sos = plain.find(b"\xff\xda")
    r0 = plain.find(b"\xff\xd0", sos)
    assert r0 > 0
    filled = plain[:r0] + b"\xff" + plain[r0:]
    assert np.array_equal(mm.decode_jpeg(filled), ref)
    # two fill bytes, and a fill before a LATER restart (RST1)
    r1 = plain.find(b"\xff\xd1", sos)
    assert r1 > r0
    filled2 = (plain[:r0] + b"\xff\xff" + plain[r0:r1]
               + b"\xff" + plain[r1:])
    assert np.array_equal(mm.decode_jpeg(filled2), ref)

    # truncation → ValueError on both escape paths: mid-marker-walk
    # (struct.error inside segment-length unpack) and mid-scan (the
    # bit reader running off the kept array)
    blob = mm.encode_jpeg(rgb, quality=95)
    for cut in (3, 5, 20, len(blob) - 10):
        with pytest.raises(ValueError):
            mm.decode_jpeg(blob[:cut])

    # fractional sampling (hmax=3, Cb hs=2 → 3 % 2 != 0): legal SOF0
    # the box upsampler can't express — refuse fallback-visibly
    frac = bytearray(mm.encode_jpeg(rgb, quality=95, subsample=True))
    j = frac.find(b"\xff\xc0")
    assert frac[j + 11] == 0x22 and frac[j + 14] == 0x11
    frac[j + 11] = 0x32  # Y hs=3
    frac[j + 14] = 0x21  # Cb hs=2
    with pytest.raises(NotImplementedError, match="fractional"):
        mm.decode_jpeg(bytes(frac))


def test_resize_handles_png_inputs(spark):
    """PNG blobs ride resize_images next to the other real formats:
    gray/RGB come back as netpbm, RGBA re-encodes as PNG (alpha
    preserved through the NN kernel)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, mm.encode_png(rgb)), (2, mm.encode_png(rgba))],
        "id long, media binary",
    )
    meta = {r.id: r for r in mm.decode_meta(df).collect()}
    assert (meta[1].kind, meta[1].a, meta[1].b) == ("image", 6, 4)
    out = {r.id: bytes(r.media) for r in mm.resize_images(df, 3, 2).collect()}
    ys, xs = (np.arange(2) * 4) // 2, (np.arange(3) * 6) // 3
    assert np.array_equal(mm.decode_ppm(out[1]), rgb[ys][:, xs])
    assert np.array_equal(mm.decode_png(out[2]), rgba[ys][:, xs])


def test_resize_and_meta_handle_real_formats(spark):
    """resize_images and decode_meta accept raw PPM/BMP blobs next to
    FAKE containers: dims come from the real headers, NN resize output
    re-encodes as netpbm with hand-checkable bytes."""
    import numpy as np

    rgb = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    ppm = mm.encode_ppm(rgb)
    bmp, brgb = _tiny_bmp()
    df = spark.createDataFrame(
        [(1, ppm), (2, bmp), (3, mm.pack_fake_media(2, 8000, 9, b"aud"))],
        "id long, media binary",
    )
    meta = {r.id: r for r in mm.decode_meta(df).collect()}
    assert (meta[1].kind, meta[1].a, meta[1].b) == ("image", 4, 2)
    assert (meta[2].kind, meta[2].a, meta[2].b) == ("image", 3, 2)
    assert meta[3].kind == "audio"

    out = {r.id: bytes(r.media) for r in mm.resize_images(df, 2, 2).collect()}
    # NN from (2,4): rows 0,1; cols 0,2
    assert np.array_equal(mm.decode_ppm(out[1]), rgb[[0, 1]][:, [0, 2]])
    # NN from (2,3): cols 0,1
    assert np.array_equal(mm.decode_ppm(out[2]), brgb[[0, 1]][:, [0, 1]])
    assert bytes(out[3]) == mm.pack_fake_media(2, 8000, 9, b"aud")


EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


@pytest.fixture(scope="module")
def stream_source(spark, tmp_path_factory):
    src = str(tmp_path_factory.mktemp("stream_src") / "data")
    from hadoop_2_10_0_src_mapreduce_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type", "value"
    )
    ev.coalesce(2).write.json(src)
    return src, ev


def test_streaming_tumbling_matches_batch(spark, stream_source):
    src, ev = stream_source
    q = sw.stream_events_windowed(spark, src, EVENT_SCHEMA, sink_table="t_counts")
    q.awaitTermination(120)
    streamed = {
        (r.window_start, r.event_type): r.n_events
        for r in spark.sql("SELECT * FROM t_counts").collect()
    }
    batch = {
        (r.window_start, r.event_type): r.n_events
        for r in sw.tumbling_window_counts(
            ev.select(F.col("ts").cast("timestamp_ntz").alias("ts"), "event_type")
        ).collect()
    }
    # streaming ran with TimestampType; normalize keys via isoformat
    streamed_n = {(k[0].isoformat(), k[1]): v for k, v in streamed.items()}
    batch_n = {(k[0].isoformat(), k[1]): v for k, v in batch.items()}
    assert streamed_n == batch_n


def test_streaming_dedup_within_watermark(spark, stream_source, tmp_path_factory):
    src, ev = stream_source
    dup_dir = str(tmp_path_factory.mktemp("dup_src") / "data")
    dup = ev.limit(100)
    dup.unionAll(dup).coalesce(1).write.json(dup_dir)  # every event twice
    q = sw.stream_dedup_within_watermark(spark, dup_dir, EVENT_SCHEMA, sink_table="dedup_out")
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) AS c, count(DISTINCT event_id) AS d FROM dedup_out").collect()[0]
    assert got.c == got.d == 100


def _write_wave(src_dir: str, name: str, rows: list[dict]) -> None:
    import json
    import os

    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(eid: int, uid: int, val: float, minute: int) -> dict:
    return {
        "event_id": eid,
        "ts": f"2024-01-01 00:{minute:02d}:00",
        "user_id": uid,
        "event_type": "a",
        "value": val,
    }


def test_streaming_dedup_state_survives_restart(spark, tmp_path_factory):
    """Replay semantics across TWO availableNow passes on one
    checkpoint: a key committed before the restart must STILL be
    deduplicated after it (state restored from the checkpoint), and
    the second pass must emit only genuinely-new keys."""
    base = tmp_path_factory.mktemp("dedup_replay")
    src, ckpt = str(base / "data"), str(base / "ckpt")

    out1, out2 = str(base / "out1"), str(base / "out2")
    _write_wave(src, "wave1.json",
                [_ev(i, 1, float(i), i) for i in (1, 2, 3)] + [_ev(3, 1, 3.0, 4)])
    q = sw.stream_dedup_within_watermark(
        spark, src, EVENT_SCHEMA, checkpoint_dir=ckpt, out_dir=out1
    )
    q.awaitTermination(120)
    r1 = {r.event_id for r in spark.read.parquet(out1).collect()}
    assert r1 == {1, 2, 3}  # in-wave dup of 3 dropped

    # wave 2 replays key 3 (seen BEFORE the restart) and adds 6, 7
    _write_wave(src, "wave2.json",
                [_ev(3, 1, 3.0, 10), _ev(6, 2, 6.0, 11), _ev(7, 2, 7.0, 12)])
    q2 = sw.stream_dedup_within_watermark(
        spark, src, EVENT_SCHEMA, checkpoint_dir=ckpt, out_dir=out2
    )
    q2.awaitTermination(120)
    r2 = {r.event_id for r in spark.read.parquet(out2).collect()}
    assert r2 == {6, 7}  # 3's replay dropped by RESTORED state


def test_streaming_stateful_totals_accumulate_across_restart(spark, tmp_path_factory):
    """applyInPandasWithState replay: per-user running totals must
    resume from checkpointed state, so the last emission per user
    across both passes equals the batch aggregate over ALL waves."""
    base = tmp_path_factory.mktemp("totals_replay")
    src, ckpt = str(base / "data"), str(base / "ckpt")

    out1, out2 = str(base / "out1"), str(base / "out2")
    _write_wave(src, "wave1.json",
                [_ev(1, 1, 1.0, 1), _ev(2, 1, 2.0, 2), _ev(3, 2, 5.0, 3)])
    q = sw.stream_running_user_totals(
        spark, src, EVENT_SCHEMA, checkpoint_dir=ckpt, out_dir=out1
    )
    q.awaitTermination(120)

    def last_emissions(out_dir):
        best = {}
        for r in spark.read.parquet(out_dir).collect():
            # running counts are monotone → max n_events is the last
            if r.user_id not in best or r.n_events > best[r.user_id][0]:
                best[r.user_id] = (r.n_events, r.sum_value)
        return best

    run1 = last_emissions(out1)
    assert run1 == {1: (2, 3.0), 2: (1, 5.0)}

    _write_wave(src, "wave2.json", [_ev(4, 1, 4.0, 10), _ev(5, 3, 7.0, 11)])
    q2 = sw.stream_running_user_totals(
        spark, src, EVENT_SCHEMA, checkpoint_dir=ckpt, out_dir=out2
    )
    q2.awaitTermination(120)
    run2 = last_emissions(out2)
    # user 1 resumed at (2, 3.0) and accumulated wave 2 on top;
    # user 2 untouched in wave 2 → no emission; user 3 is new
    assert run2 == {1: (3, 7.0), 3: (1, 7.0)}
    combined = {**run1, **run2}  # last emission per user across passes
    assert combined == {1: (3, 7.0), 2: (1, 5.0), 3: (1, 7.0)}


def test_streaming_foreachbatch_partitioned_sink(spark, stream_source, tmp_path_factory):
    """foreachBatch → write_partitioned: the streamed parquet must hold
    every event exactly once, under content-derived partition dirs —
    MultipleOutputs semantics from a stream."""
    import os

    src, ev = stream_source
    out = str(tmp_path_factory.mktemp("fb_sink") / "parts")
    q = sw.stream_partitioned_sink(spark, src, EVENT_SCHEMA, out)
    q.awaitTermination(120)
    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    types = {r.event_type for r in ev.select("event_type").distinct().collect()}
    assert dirs == {f"event_type={t}" for t in types}
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    assert back.select("event_id").distinct().count() == ev.count()


def test_streaming_stateful_running_totals(spark, stream_source):
    """applyInPandasWithState running totals: the last emission per user
    must equal the batch groupBy aggregate over the whole source."""
    src, ev = stream_source
    q = sw.stream_running_user_totals(spark, src, EVENT_SCHEMA, sink_table="u_totals")
    q.awaitTermination(120)
    # update mode emits one row per touched user per micro-batch;
    # running counts are monotone, so max(n_events) is the final state
    final = {
        r.user_id: (r.n_events, round(r.sum_value, 6))
        for r in spark.sql(
            """SELECT user_id, n_events, sum_value FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                              ORDER BY n_events DESC) AS rn
                 FROM u_totals
               ) WHERE rn = 1"""
        ).collect()
    }
    batch = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert final == batch


def test_streaming_incremental_corpus_dedup_across_restart(spark, tmp_path_factory):
    """The continuous-ingestion pipeline: novel documents flow to the
    corpus, duplicate text is dropped IN batch, ACROSS batches, and
    ACROSS restarts — because the dedup state is the persistent
    fingerprint index table, not the state store."""
    import json

    base = tmp_path_factory.mktemp("corpus_dedup")
    src = base / "docs"
    src.mkdir()
    idx, out, ckpt = (str(base / d) for d in ("index", "corpus", "ckpt"))
    schema = "doc_id long, text string"

    def write_wave(name, docs):
        (src / name).write_text(
            "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
        )

    # wave 1: 3 writes "same  TEXT" — an in-batch dup of 1 modulo
    # normalization; min id (1) is the keeper
    write_wave("wave1.json", [(1, "same text"), (2, "other"), (3, "same  TEXT")])
    q = sw.stream_incremental_corpus_dedup(
        spark, str(src), schema, idx, out, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    got1 = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got1 == {1, 2}

    # wave 2 after restart: 4 duplicates wave-1 text (cross-restart),
    # 5 is novel
    write_wave("wave2.json", [(4, "SAME text"), (5, "brand new")])
    q2 = sw.stream_incremental_corpus_dedup(
        spark, str(src), schema, idx, out, checkpoint_dir=ckpt
    )
    q2.awaitTermination(120)
    corpus = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(corpus) == {1, 2, 5}
    # the index holds exactly the corpus's distinct fingerprints
    n_fp = spark.read.parquet(idx).distinct().count()
    assert n_fp == 3


def test_streaming_dedup_reliable_pin_dir(spark, tmp_path_factory):
    """r10: ``pin_dir`` swaps the per-batch novel-set localCheckpoint
    for the reliable parquet pin. Results must be identical to the
    default mode, and every pin file must be deleted once the batch's
    appends land (the pin is spent; only empty batch dirs may
    remain)."""
    import json
    import pathlib

    base = tmp_path_factory.mktemp("pin_dedup")
    src = base / "docs"
    src.mkdir()
    idx, out, ckpt, pins = (
        str(base / d) for d in ("index", "corpus", "ckpt", "pins")
    )
    (src / "w1.json").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t})
            for i, t in [(1, "alpha"), (2, "alpha"), (3, "beta")]
        )
    )
    q = sw.stream_incremental_corpus_dedup(
        spark, str(src), "doc_id long, text string", idx, out,
        checkpoint_dir=ckpt, pin_dir=pins,
    )
    q.awaitTermination(120)
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 3}
    # r11: no leftover files AND no empty per-batch dirs — a long-
    # running stream must not grow one 'batch-N' directory per
    # micro-batch (listing/inode cost; the r10 ADVICE)
    leftover = list(pathlib.Path(pins).rglob("*"))
    assert leftover == [], leftover


def test_stream_stream_join_matches_batch(spark, stream_source, tmp_path_factory):
    """Time-bounded stream-stream inner join equals the batch join with
    the same predicate; the interval bound is what lets Spark expire
    join state."""
    src, ev = stream_source
    right_dir = str(tmp_path_factory.mktemp("ss_right") / "data")
    # right stream: same users, shifted +30min, distinct event ids
    right = ev.select(
        (F.col("event_id") + 1_000_000).alias("event_id"),
        (F.col("ts") + F.expr("interval 30 minutes")).alias("ts"),
        "user_id",
        "event_type",
        (F.col("value") * 2).alias("value"),
    )
    right.coalesce(2).write.json(right_dir)

    q = sw.stream_stream_join(
        spark, src, right_dir, EVENT_SCHEMA,
        sink_table="ss_join", max_gap="1 hour",
    )
    q.awaitTermination(120)
    streamed = {
        (r.user_id, r.l_ts.isoformat(), r.r_ts.isoformat(), r.l_value, r.r_value)
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }
    # batch reference reads the SAME json dirs the stream consumed
    # (the json roundtrip truncates timestamps to milliseconds, so the
    # parquet-sourced frames would differ in keys, not in semantics)
    lb = spark.read.schema(EVENT_SCHEMA).json(src)
    rb = spark.read.schema(EVENT_SCHEMA).json(right_dir)
    l = lb.select("user_id", F.col("ts").alias("l_ts"), F.col("value").alias("l_value"))
    r = rb.select(
        F.col("user_id").alias("_rk"), F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    batch = {
        (row.user_id, row.l_ts.isoformat(), row.r_ts.isoformat(),
         row.l_value, row.r_value)
        for row in l.join(
            r,
            F.expr("user_id = _rk AND r_ts >= l_ts AND "
                   "r_ts <= l_ts + interval 1 hour"),
        ).drop("_rk").collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_stream_dedup_survives_index_compaction(spark, tmp_path_factory):
    """The prescribed maintenance is safe OFF the ingest path:
    compacting the fingerprint index between availableNow passes
    (small appended files → few sorted files) changes nothing about
    dedup semantics — duplicates of pre-compaction waves still drop,
    novel docs still land — because the dedup state is the table's
    CONTENT, not its file layout."""
    import json

    from hadoop_2_10_0_src_mapreduce_spark.sources.writers import compact_table

    base = tmp_path_factory.mktemp("corpus_dedup_compact")
    src = base / "docs"
    src.mkdir()
    idx, out, ckpt = (str(base / d) for d in ("index", "corpus", "ckpt"))
    schema = "doc_id long, text string"

    (src / "w1.json").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": f"document number {i}"})
            for i in range(6)
        )
    )
    q = sw.stream_incremental_corpus_dedup(
        spark, str(src), schema, idx, out, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)

    compact_table(spark, idx, target_file_bytes=64 * 1024 * 1024)

    # wave 2: 3 dups of wave 1 (one case-normalized), 2 novel
    (src / "w2.json").write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": t})
            for i, t in [
                (10, "document number 0"),
                (11, "DOCUMENT  number 1"),
                (12, "document number 2"),
                (13, "fresh content thirteen"),
                (14, "fresh content fourteen"),
            ]
        )
    )
    q2 = sw.stream_incremental_corpus_dedup(
        spark, str(src), schema, idx, out, checkpoint_dir=ckpt
    )
    q2.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == set(range(6)) | {13, 14}
    assert spark.read.parquet(idx).distinct().count() == 8


def test_stream_sessionize_stateful_validates_key_type_up_front(spark):
    """The output schema's key column derives from the INPUT schema
    (string ids previously crashed inside the stateful processor at
    runtime: the out schema hardcoded `long` and _row coerced int);
    unsupported key types and missing key columns fail fast with a
    clear ValueError on every host — BEFORE the protobuf environment
    gate, so this is assertable even where TWS cannot run."""
    with pytest.raises(ValueError, match="unsupported"):
        sw.stream_sessionize_stateful(
            spark, "/nonexistent", "user_id double, ts_ms long", "/tmp/x"
        )
    with pytest.raises(ValueError, match="not in schema"):
        sw.stream_sessionize_stateful(
            spark, "/nonexistent", "uid long, ts_ms long", "/tmp/x"
        )
    # a string key passes validation: on protobuf-less hosts the next
    # failure is the documented environment gate, not a runtime crash
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            sw.stream_sessionize_stateful(
                spark, "/nonexistent", "user_id string, ts_ms long", "/tmp/x"
            )


def test_stream_sessionize_stateful_timers_and_gap_closure(
    spark, tmp_path_factory
):
    """transformWithStateInPandas sessionizer: sessions close BOTH by
    an in-batch gap (same user's new events arrive past the gap) and
    by an event-time TIMER (a quiet user's session closes when OTHER
    users' events advance the watermark past last+gap) — across an
    availableNow restart. Open sessions are never emitted.

    On hosts without google.protobuf (this container) the operator
    must fail FAST with the documented ImportError instead of
    crashing the streaming runtime mid-query; the full semantics run
    wherever protobuf exists."""
    import json

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="protobuf"):
            sw.stream_sessionize_stateful(
                spark, "/nonexistent", "user_id long, ts_ms long", "/tmp/x"
            )
        pytest.skip("google.protobuf unavailable: TWS driver worker cannot run")

    base = tmp_path_factory.mktemp("tws_sessions")
    src = base / "events"
    src.mkdir()
    out, ckpt = str(base / "sessions"), str(base / "ckpt")
    schema = "user_id long, ts_ms long"
    t0 = 1_700_000_000_000  # fixed epoch anchor
    m = 60_000

    def write(name, rows):
        (src / name).write_text(
            "\n".join(json.dumps({"user_id": u, "ts_ms": t}) for u, t in rows)
        )

    # wave 1: user 1 two events 2min apart; user 2 one event
    write("w1.json", [(1, t0), (1, t0 + 2 * m), (2, t0 + 1 * m)])
    q = sw.stream_sessionize_stateful(
        spark, str(src), schema, out,
        gap_minutes=10, watermark="1 minute", checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    import pathlib

    got1 = (
        {tuple(r) for r in spark.read.parquet(out).collect()}
        if any(pathlib.Path(out).rglob("*.parquet"))
        else set()
    )
    assert got1 == set()  # nothing closed: watermark hasn't passed any expiry

    # wave 2 after restart: user 1 returns PAST the gap (in-batch
    # closure of session 1, new session opens); user 3's far-future
    # event advances the watermark past user 2's timer (timer closure)
    write("w2.json", [(1, t0 + 30 * m), (3, t0 + 40 * m)])
    q2 = sw.stream_sessionize_stateful(
        spark, str(src), schema, out,
        gap_minutes=10, watermark="1 minute", checkpoint_dir=ckpt,
    )
    q2.awaitTermination(120)
    got2 = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert (1, t0, t0 + 2 * m, 2) in got2, got2        # gap closure
    assert (2, t0 + 1 * m, t0 + 1 * m, 1) in got2, got2  # timer closure
    # user 1's second session and user 3's session are still open
    assert all(u not in (3,) and s <= t0 + 2 * m for u, s, _, _ in got2), got2
    assert len(got2) == 2


def test_windowed_agg_drops_events_beyond_watermark(spark, tmp_path_factory):
    """The watermark's defining semantic, pinned: in append mode a
    tumbling window emits once the watermark passes its end, and an
    event arriving LATER with an event time behind the watermark is
    DROPPED — it neither updates the emitted window nor spawns a
    duplicate window row. (In-watermark late data still folds in; this
    pins the beyond-watermark drop.)"""
    import json

    base = tmp_path_factory.mktemp("late_events")
    src = base / "ev"
    src.mkdir()
    out, ckpt = str(base / "out"), str(base / "ckpt")

    def ev(i, day, hour, typ="A"):
        return json.dumps({
            "event_id": i, "ts": f"2024-03-{day:02d}T{hour:02d}:00:00",
            "user_id": 1, "event_type": typ, "value": 1.0,
        })

    # pass 1: three day-1 events + a day-3 event that advances the
    # watermark (delay 1h) far past day-1's window end
    (src / "w1.json").write_text("\n".join([
        ev(1, 1, 1), ev(2, 1, 5), ev(3, 1, 9), ev(4, 3, 12),
    ]))

    def run():
        s = (
            spark.readStream.schema(EVENT_SCHEMA).json(str(src))
            .withWatermark("ts", "1 hour")
        )
        q = sw._start_sink(
            sw.tumbling_window_counts(s), "append", None, ckpt, out
        )
        q.awaitTermination(120)

    run()
    rows1 = {
        (str(r.window_start)[:10], r.event_type): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert rows1.get(("2024-03-01", "A")) == 3  # day-1 window finalized

    # pass 2: a LATE day-1 event (behind the watermark) + a day-4
    # event advancing the watermark further
    (src / "w2.json").write_text("\n".join([ev(5, 1, 6), ev(6, 4, 12)]))
    run()
    rows2 = [
        (str(r.window_start)[:10], r.event_type, r.n_events)
        for r in spark.read.parquet(out).collect()
    ]
    day1 = [r for r in rows2 if r[0] == "2024-03-01"]
    # exactly one day-1 row, still 3 — the late event was dropped,
    # not re-windowed
    assert day1 == [("2024-03-01", "A", 3)], rows2
    # day-3 finalized in pass 2 (watermark passed its end)
    assert ("2024-03-03", "A", 1) in rows2


@pytest.mark.parametrize("family", ["ivf", "lsh", "ivfpq"])
def test_stream_index_vectors_appends_novel_and_serves(
    spark, tmp_path_factory, family
):
    """Continuous ANN indexing into an offline-built index of any
    family (detected from the directory): novel ids filed under the
    fixed metadata in the stored encoding, already-indexed ids dropped
    (in the offline build, in earlier batches, and across restarts),
    and the planted vector immediately servable; cadence compaction
    folds the append debt."""
    import json
    import math

    from hadoop_2_10_0_src_mapreduce_spark.operators import pq, similarity
    from hadoop_2_10_0_src_mapreduce_spark.operators.index_store import (
        index_codec,
    )

    base = tmp_path_factory.mktemp(f"stream_{family}")
    src = base / "vecs"
    src.mkdir()
    idx, ckpt = str(base / "index"), str(base / "ckpt")

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    offline = emb.where(F.col("vec_id") < 300)
    if family == "ivf":
        similarity.save_ivf_index(offline, idx, n_centroids=8)
    elif family == "lsh":
        similarity.save_lsh_index(offline, idx, n_planes=4, n_tables=4)
    else:
        pq.save_ivfpq_index(offline, idx, n_centroids=8, n_codes=64)
    rows = f"{idx}/{index_codec(idx).rows}"
    dtypes = sorted(spark.read.parquet(rows).dtypes)
    dim = len(emb.take(1)[0].embedding)
    schema = "vec_id long, embedding array<double>"

    def vec(i):
        # directionally distinct per id (constant vectors would all be
        # cosine-parallel and unservable-by-identity): unit vectors at
        # angle i/10 rad, ≥0.1 rad apart for the ids used here
        a = i / 10.0
        return [math.cos(a), math.sin(a)] + [0.0] * (dim - 2)

    def write_wave(name, ids):
        rows = [{"vec_id": i, "embedding": vec(i)} for i in ids]
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def copies():
        # rows per id: one for IVF and IVF-PQ, one per table for LSH
        df = spark.read.parquet(rows)
        assert sorted(df.dtypes) == dtypes  # the stored encoding
        return {
            r.vec_id: r.c
            for r in df.groupBy("vec_id").agg(F.count("*").alias("c")).collect()
        }

    # wave 1: the offline build holds ids < 300, so 300 and 301 are
    # novel and 5 is a dup of the offline build
    write_wave("w1.json", [300, 301, 5])
    q = sw.stream_index_vectors(
        spark, str(src), schema, idx, checkpoint_dir=ckpt, compact_every=1
    )
    q.awaitTermination(120)
    per = copies()
    assert per[300] == per[301] == per[5] == per[0]  # no second copy of 5
    assert len(per) == 302

    # restart with a wave that repeats 300 and adds 302
    write_wave("w2.json", [300, 302])
    q2 = sw.stream_index_vectors(
        spark, str(src), schema, idx, checkpoint_dir=ckpt
    )
    q2.awaitTermination(120)
    per = copies()
    assert len(per) == 303 and per[300] == per[302] == per[0]

    # the streamed vector serves: exact self-match. IVF-PQ serves
    # through the rescored path (raw ADC at 64 non-residual codes puts
    # this planted 2-plane vector in a broad tie group, so the
    # candidate set needs width)
    probe = spark.createDataFrame([(900000, vec(302))], schema)
    if family == "ivf":
        got = similarity.query_ivf_index(probe, idx, k=1, n_probe=8)
    elif family == "lsh":
        got = similarity.query_lsh_index(probe, idx, k=1)
    else:
        truth = offline.select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
        ).unionByName(spark.createDataFrame(
            [(i, vec(i)) for i in (300, 301, 302)], schema
        ))
        got = pq.query_ivfpq_index(
            probe, idx, k=1, n_probe=8, rescore=truth, oversample=64
        )
    got = got.collect()
    assert [r.neighbor_id for r in got] == [302]
    assert got[0].sim > 0.999999


def test_jpeg_progressive_codec_matches_baseline_pixels():
    """r11: progressive (SOF2) decode — spectral selection, successive
    approximation (DC+AC first/refine), EOB runs, ZRL-with-correction-
    bits. The honesty anchor (no image libs exist in this container to
    cross-check against): the SAME image encoded baseline and
    progressive carries the SAME quantized coefficients, so the two
    decodes must be PIXEL-IDENTICAL — codec loss cancels out and any
    divergence is a decode bug. Covered: gray, RGB 4:4:4, 4:2:0 with
    odd dims (non-interleaved chroma block grids), dense noise (deep
    AC bands, ZRL paths), sparse flat content (EOB-heavy), quality
    extremes, dims/dispatch plumbing."""
    import numpy as np

    rng = np.random.default_rng(11)
    yy, xx = np.mgrid[0:45, 0:62]
    img = np.stack(
        [(xx * 255 // 61), (yy * 255 // 44), ((xx + yy) % 256)], axis=-1
    ).astype(np.uint8)
    img[10:25, 10:30] = [200, 30, 90]
    img = np.clip(
        img.astype(int) + rng.integers(-12, 13, img.shape), 0, 255
    ).astype(np.uint8)

    for kw in ({}, {"subsample": True}, {"quality": 50}, {"quality": 97}):
        base = mm.decode_jpeg(mm.encode_jpeg(img, **kw))
        prog_blob = mm.encode_jpeg(img, progressive=True, **kw)
        assert b"\xff\xc2" in prog_blob and b"\xff\xc0" not in prog_blob
        assert prog_blob.count(b"\xff\xda") >= 6  # multi-scan stream
        assert np.array_equal(mm.decode_jpeg(prog_blob), base), kw

    # gray; dense noise (every AC band live); flat (EOB everywhere)
    gray = img[..., 0]
    assert np.array_equal(
        mm.decode_jpeg(mm.encode_jpeg(gray, progressive=True)),
        mm.decode_jpeg(mm.encode_jpeg(gray)),
    )
    noise = rng.integers(0, 256, (40, 40), np.uint8)
    assert np.array_equal(
        mm.decode_jpeg(mm.encode_jpeg(noise, quality=97, progressive=True)),
        mm.decode_jpeg(mm.encode_jpeg(noise, quality=97)),
    )
    flat = np.full((24, 24), 77, np.uint8)
    assert np.array_equal(
        mm.decode_jpeg(mm.encode_jpeg(flat, progressive=True)),
        mm.decode_jpeg(mm.encode_jpeg(flat)),
    )

    # plumbing: decode_image dispatch, header-only dims, meta walk
    blob = mm.encode_jpeg(img, progressive=True)
    assert mm.decode_image(blob).shape == img.shape
    assert mm._jpeg_dims(blob) == (62, 45)
    assert mm._media_dims(blob) == ("image", 62, 45, len(blob))

    # r12 (r11 ADVICE low): the decoder's progressive-restart path —
    # rst_bits repositioning, per-interval predictor/eobrun reset —
    # now has encoder-twin fixtures: DRI under SOF2, RSTm in every
    # scan (MCU units in the interleaved DC scans, block units in the
    # per-component AC scans), pixel-identical with the unrestarted
    # baseline decode at several intervals including ri=1 (a marker
    # between every pair of units — the maximal-reset stress)
    for ri in (1, 3, 5):
        blob = mm.encode_jpeg(img, progressive=True, restart_interval=ri)
        assert b"\xff\xdd" in blob  # DRI
        assert any(bytes([0xFF, 0xD0 + i]) in blob for i in range(8))
        assert np.array_equal(
            mm.decode_jpeg(blob), mm.decode_jpeg(mm.encode_jpeg(img))
        ), ri
    assert np.array_equal(
        mm.decode_jpeg(
            mm.encode_jpeg(img, progressive=True, subsample=True,
                           restart_interval=2)
        ),
        mm.decode_jpeg(mm.encode_jpeg(img, subsample=True)),
    )
    gray2 = img[..., 2]
    assert np.array_equal(
        mm.decode_jpeg(
            mm.encode_jpeg(gray2, progressive=True, restart_interval=4)
        ),
        mm.decode_jpeg(mm.encode_jpeg(gray2)),
    )


def test_jpeg_progressive_randomized_sweep():
    """Bounded randomized sweep of the progressive codec (a 60-case
    ad-hoc sweep passed during development; this keeps 10 varied
    cases in the suite): random dims 8..70, gray/RGB/structured,
    quality 35..97, optional 4:2:0 — every case must decode
    pixel-identical to its baseline twin."""
    import numpy as np

    for trial in range(10):
        rng = np.random.default_rng(100 + trial)
        h = int(rng.integers(8, 70))
        w = int(rng.integers(8, 70))
        if trial % 3 == 0:
            img = rng.integers(0, 256, (h, w), np.uint8)
        elif trial % 3 == 1:
            img = rng.integers(0, 256, (h, w, 3), np.uint8)
        else:
            yy, xx = np.mgrid[0:h, 0:w]
            img = np.stack(
                [(xx * 7) % 256, (yy * 5) % 256, ((xx + yy) * 3) % 256], -1
            ).astype(np.uint8)
        q = int(rng.choice([35, 60, 90, 97]))
        sub = bool(rng.integers(0, 2)) and img.ndim == 3
        kw = dict(quality=q, subsample=sub)
        assert np.array_equal(
            mm.decode_jpeg(mm.encode_jpeg(img, **kw)),
            mm.decode_jpeg(mm.encode_jpeg(img, progressive=True, **kw)),
        ), (trial, h, w, q, sub)


def test_avi_mjpeg_container_roundtrip(spark):
    """r12 (r11 verdict item 4): MJPEG-in-AVI video frames on-box — a
    pure-python RIFF chunk walk feeding the existing JPEG decoder.
    Honesty anchor (same pattern as SOF2): the encoder twin's 00dc
    chunks are byte-identical encode_jpeg output, so container-decode
    → frame-decode must be PIXEL-IDENTICAL with decoding the
    standalone stills; metadata (dims/fps/handler) reads back from
    avih/strh/strf; sample_frames emits the every-Nth JPEG frames
    through the same mapInPandas plumbing as the FAKE containers."""
    import numpy as np

    rng = np.random.default_rng(23)
    frames = [
        np.clip(
            np.add.outer(np.arange(33) * 3, np.arange(46) * 2)[..., None]
            + rng.integers(-20, 21, (33, 46, 3)) + t * 17,
            0, 255,
        ).astype(np.uint8)
        for t in range(5)
    ]
    avi = mm.encode_avi_mjpeg(frames, fps=12, quality=85)
    d = mm.decode_avi_frames(avi)
    assert (d["width"], d["height"], d["handler"]) == (46, 33, "MJPG")
    assert d["fps"] == 12.0 and len(d["frames"]) == 5
    for fr, arr in zip(d["frames"], frames):
        assert fr == mm.encode_jpeg(arr, quality=85)  # byte-identical
        assert np.array_equal(
            mm.decode_image(fr),
            mm.decode_jpeg(mm.encode_jpeg(arr, quality=85)),
        )

    # Spark plumbing: sample_frames explodes the RIFF blob, every 2nd
    # frame, each emitted frame decodable as a standalone still
    df = spark.createDataFrame([(9, bytearray(avi))], "id long, media binary")
    rows = sorted(mm.sample_frames(df, every_n=2).collect(),
                  key=lambda r: r.frame_idx)
    assert [(r.id, r.frame_idx) for r in rows] == [(9, 0), (9, 2), (9, 4)]
    for r in rows:
        assert np.array_equal(
            mm.decode_image(bytes(r.frame)),
            mm.decode_jpeg(mm.encode_jpeg(frames[r.frame_idx], quality=85)),
        )

    # malformed container paths fail loudly, not silently
    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        mm.decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="overruns"):
        mm.decode_avi_frames(avi[:60] + b"\xff" * 8)
    with pytest.raises(ValueError, match="one shape"):
        mm.encode_avi_mjpeg([frames[0], frames[0][:10]])
