"""Unit tests for library capabilities not (fully) covered by the
oracle harness: bitemporal DML round-trips, dynamic-schema
normalization, cardinality guards, multimodal plumbing, streaming
dedup."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from core2_spark import dynamics, multimodal, temporal as bt
from core2_spark.catalog import load_table
from core2_spark.operators.guards import CardinalityError, max_1_row
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(REPO, "_data", "test_tmp")


@pytest.fixture(autouse=True)
def _clean_dir():
    shutil.rmtree(DATA_DIR, ignore_errors=True)
    os.makedirs(DATA_DIR, exist_ok=True)
    yield


def test_bitemporal_put_delete_erase_roundtrip(spark):
    """Append-only DML: put v1, put v2, delete, erase — with as-of
    reads at each basis (core2 §3.3 submit-tx semantics)."""
    path = f"{DATA_DIR}/versions"
    docs_v1 = spark.createDataFrame(
        [(1, "alice", 100.0), (2, "bob", 200.0)], "id long, name string, bal double"
    )
    bt.put(docs_v1, tx_time="2024-01-01").write.mode("append").parquet(path)

    docs_v2 = spark.createDataFrame([(1, "alice", 150.0)], "id long, name string, bal double")
    bt.put(docs_v2, tx_time="2024-02-01").write.mode("append").parquet(path)

    versions = bt.close_system_versions(spark.read.parquet(path), "id")

    jan = bt.scan_as_of(versions, system_time="2024-01-15")
    assert {(r["id"], r["bal"]) for r in jan.collect()} == {(1, 100.0), (2, 200.0)}

    feb = bt.scan_as_of(versions, system_time="2024-02-15")
    assert {(r["id"], r["bal"]) for r in feb.collect()} == {(1, 150.0), (2, 200.0)}

    # delete id=2 at 2024-03-01: an appended tombstone hides it from then on.
    ids = spark.createDataFrame([(2,)], "id long")
    bt.delete_tombstone(ids, "id", "2024-03-01").write.mode("append").parquet(path)
    versions2 = spark.read.option("mergeSchema", "true").parquet(path)
    mar = bt.resolve_as_of(versions2, "2024-03-15", "2024-03-15")
    assert {r["id"] for r in mar.collect()} == {1}
    # history still answers as-of-February correctly (immutability).
    feb2 = bt.resolve_as_of(versions2, "2024-02-15", "2024-02-15")
    assert {r["id"] for r in feb2.collect()} == {1, 2}

    # erase physically removes every version of id=1.
    erased = bt.erase(spark.read.parquet(path), spark.createDataFrame([(1,)], "id long"), "id")
    assert {r["id"] for r in erased.select("id").distinct().collect()} == {2}


def test_dynamics_widening_and_variant(spark):
    a = spark.createDataFrame([(1, 10, "x")], "id long, v int, only_a string")
    b = spark.createDataFrame([(2, 3.5)], "id long, v double")
    c = spark.createDataFrame([(3, "str-leg")], "id long, v string")

    # promotable: int + double widen to double
    widened = dynamics.normalize_frames([a.select("id", "v"), b])
    assert dict(widened.dtypes)["v"] == "double"
    assert {r["v"] for r in widened.collect()} == {10.0, 3.5}

    # conflict: numeric + string → variant struct with per-leg access
    var = dynamics.normalize_frames([a, b, c])
    rows = {r["id"]: r for r in var.collect()}
    assert rows[1]["v"]["v_i64"] == 10 and rows[1]["v"]["v_str"] is None
    assert rows[2]["v"]["v_f64"] == 3.5
    assert rows[3]["v"]["v_str"] == "str-leg"
    # absent column → NULL (core2 absent-field semantics)
    assert rows[2]["only_a"] is None
    legs = var.select(
        "id",
        dynamics.variant_leg("v", "i64").alias("i"),
        dynamics.variant_leg("v", "str").alias("s"),
    ).collect()
    by_id = {r["id"]: (r["i"], r["s"]) for r in legs}
    assert by_id[1] == (10, None) and by_id[3] == (None, "str-leg")


def test_max_1_row_guard(spark):
    one = spark.createDataFrame([(1,)], "x int")
    assert max_1_row(one).count() == 1
    two = spark.createDataFrame([(1,), (2,)], "x int")
    with pytest.raises(CardinalityError):
        max_1_row(two)


def test_multimodal_fake_decode(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"\x00\x20\x40\xff"), "image/png", (2, 2, None)),
         (2, None, "audio/wav", (None, None, 1500))],
        multimodal.MEDIA_SCHEMA,
    )
    feats = multimodal.extract_features(media, fake=True).collect()
    by_id = {r["media_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == 4
    assert abs(sum(by_id[1]["feature"]) - 1.0) < 1e-9
    assert by_id[2]["n_bytes"] == 0

    frames = multimodal.frame_sample_plan(
        spark.createDataFrame([(2, (None, None, 3500))],
                              "media_id long, meta struct<width:int,height:int,duration_ms:long>")
    ).collect()
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000]


def test_multimodal_compressed_codecs_not_implemented(spark):
    """Formats without a pure-Python decoder (non-MJPEG video; MP3
    gained a real STREAM parser in round 8 but garbage bytes must
    still fail loudly, not parse) raise at decode time."""
    media = spark.createDataFrame(
        [(1, bytearray(b"x"), "video/mp4", (None, None, 1000))],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception):
        multimodal.extract_features(media, fake=False).collect()
    garbage_mp3 = spark.createDataFrame(
        [(1, bytearray(b"not an mp3 stream"), "audio/mpeg",
          (None, None, 1000))],
        multimodal.MEDIA_SCHEMA,
    )
    with pytest.raises(Exception):
        multimodal.extract_features(garbage_mp3, fake=False).collect()


def test_mp3_stream_roundtrip():
    """MPEG-1 Layer III stream layer: generated silent streams parse
    back to their exact structure — CBR without padding (48 kHz), CBR
    with alternating padding (44.1 kHz), VBR with a Xing tag — and
    corrupt/truncated streams fail loudly at the right byte."""
    fns = multimodal._codec_fns()
    make, parse = fns["make_mp3"], fns["parse_mp3"]

    # 48 kHz: 144000*128/48000 = 384 exactly, no padding ever
    sr, ch, nf, br, dur, vbr = parse(make(5, 48000, 128, seed=1))
    assert (sr, ch, nf, br, vbr) == (48000, 1, 5, 128.0, False)
    assert abs(dur - 5 * 1152 / 48000) < 1e-9

    # 44.1 kHz: non-integral byte rate, padding alternates per frame
    payload = make(6, 44100, 128, seed=2)
    sr, ch, nf, br, dur, vbr = parse(payload)
    assert (sr, ch, nf, br, vbr) == (44100, 1, 6, 128.0, False)

    # VBR + Xing: frame 0 is the tag frame, 7 audio frames follow
    payload = make(8, 44100, 128, seed=3, vbr=True, xing=True)
    sr, ch, nf, br, dur, vbr = parse(payload)
    assert (sr, ch, nf) == (44100, 1, 7)
    assert vbr is True
    assert abs(dur - 7 * 1152 / 44100) < 1e-9

    # ID3v2 lead-in is skipped (10-byte header, syncsafe size)
    body = make(3, 32000, 64, seed=4)
    id3 = b"ID3\x04\x00\x00\x00\x00\x00\x0a" + b"\x00" * 10
    assert parse(id3 + body)[2] == 3
    # ID3v2.4 footer flag: size EXCLUDES the 10-byte trailing footer
    id3f = (b"ID3\x04\x00\x10\x00\x00\x00\x0a" + b"\x00" * 10
            + b"3DI\x04\x00\x10\x00\x00\x00\x0a")
    assert parse(id3f + body)[2] == 3

    # stream features ride the 8-wide contract
    feat = fns["features"](make(5, 48000, 128, seed=1), multimodal.MIME_MP3)
    assert len(feat) == 8
    assert feat[1] == 48000.0 and feat[3] == 128.0 and feat[7] == 1152.0

    # a lying Xing tag (claims 2 audio frames, stream walks 3) is a
    # corrupt stream, not a silently-wrong duration
    lying = make(3, 48000, 128, seed=1, xing=True) + make(
        1, 48000, 128, seed=1
    )
    with pytest.raises(ValueError, match="Xing tag claims"):
        parse(lying)

    # truncation mid-frame and sync loss both raise with a position
    with pytest.raises(ValueError, match="truncated"):
        parse(make(4, 48000, 128, seed=1)[:-10])
    clean = bytearray(make(3, 48000, 128, seed=1))
    clean[384] = 0x00  # clobber the second frame's sync byte
    with pytest.raises(ValueError, match="sync at byte 384"):
        parse(bytes(clean))


def test_multimodal_codec_roundtrips():
    """Driver-side unit check of the pure-Python codecs: generated
    PPM/BMP bytes decode to identical pixels; WAV decodes to the sine
    it encodes; resize halves dimensions."""
    fns = multimodal._codec_fns()
    w, h, seed = 20, 14, 7
    pw, ph, ppx = fns["decode_ppm"](fns["make_ppm"](w, h, seed))
    bw, bh, bpx = fns["decode_bmp"](fns["make_bmp"](w, h, seed))
    assert (pw, ph) == (bw, bh) == (w, h)
    assert (ppx == bpx).all()  # same pattern through both encoders

    rate, ch, frames = fns["decode_wav"](fns["make_wav"](1600, 8000, 440, 3))
    assert (rate, ch) == (8000, 1)
    assert len(frames) == 1600
    assert 0.2 < abs(frames).max() <= 0.51  # ~0.5 amplitude sine

    small = fns["resize_nearest"](ppx, 10, 7)
    assert small.shape == (7, 10, 3)

    img_feat = fns["features"](fns["make_ppm"](w, h, seed), multimodal.MIME_PPM)
    assert img_feat[:2] == [float(w), float(h)]
    assert all(0.0 <= v <= 1.0 for v in img_feat[3:])
    wav_feat = fns["features"](
        fns["make_wav"](1600, 8000, 440, 3), multimodal.MIME_WAV
    )
    assert abs(wav_feat[0] - 0.2) < 1e-9  # duration_s
    assert 0.3 < wav_feat[3] < 0.4  # sine RMS ≈ 0.5/√2


def test_multimodal_real_pipeline(spark):
    """generate → decode → features and generate → resize, distributed."""
    ids = spark.range(0, 12).withColumnRenamed("id", "media_id")
    media = multimodal.generate_media(ids)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 12
    for r in feats:
        assert len(r["feature"]) == 8 and r["n_bytes"] > 0

    images = media.filter(media.mime.startswith("image/"))
    resized = multimodal.resize_images(images, 8, 8).collect()
    # ids 0..11 with id % 8 in (0, 1, 2, 3): PPM/BMP/PNG/JPEG
    assert len(resized) == 8
    fns = multimodal._codec_fns()
    for r in resized:
        rw, rh, _ = fns["decode_ppm"](bytes(r["payload"]))
        assert (rw, rh) == (8, 8)


def test_streaming_dedup_within_watermark(spark):
    from core2_spark.streaming.events import dedup_within_watermark, run_stream_to_memory, _event_stream

    stream = _event_stream(spark, "/root/testdata/sf0.001")
    sink = run_stream_to_memory(dedup_within_watermark(stream), mode="append")
    n = spark.table(sink).count()
    assert n == 1000  # event_ids are unique; dedup must not drop or dup


def test_merge_schema_parquet_evolution(spark):
    """Schema evolution on disk (core2 schemaless-at-write): files with
    different column sets union at read; missing columns → NULL; the
    normalization pass widens promotable per-file types."""
    path = f"{DATA_DIR}/evolving"
    spark.createDataFrame([(1, 10)], "id long, v int").write.parquet(f"{path}/b1")
    spark.createDataFrame([(2, 3.5, "x")], "id long, v double, extra string").write.parquet(
        f"{path}/b2"
    )
    frames = [spark.read.parquet(f"{path}/b1"), spark.read.parquet(f"{path}/b2")]
    out = dynamics.normalize_frames(frames)
    rows = {r["id"]: (r["v"], r["extra"]) for r in out.collect()}
    assert rows[1] == (10.0, None)
    assert rows[2] == (3.5, "x")
    assert dict(out.dtypes)["v"] == "double"


def test_entry_is_deterministic(spark):
    """Repeatable queries (reference README.adoc:13 determinism): the
    flagship query returns identical rows across runs in one session."""
    import __spark_entry__ as entrymod

    a = [tuple(r) for r in entrymod.entry(spark).collect()]
    b = [tuple(r) for r in entrymod.entry(spark).collect()]
    assert a == b and len(a) > 0


def test_png_codec_roundtrip_and_filters():
    """Round-5 PNG codec: encode→decode round-trips pixels exactly;
    the decoder reconstructs all five PNG filter types, greyscale and
    RGBA color types (stdlib zlib only, public PNG spec)."""
    import struct
    import zlib

    import numpy as np

    fns = multimodal._codec_fns()
    w, h, seed = 21, 13, 5
    _, _, src = fns["decode_ppm"](fns["make_ppm"](w, h, seed))
    pw, ph, px = fns["decode_png"](fns["encode_png"](src))
    assert (pw, ph) == (w, h)
    assert (px == src).all()  # lossless round-trip
    # PNG of the same pattern yields identical features to the PPM
    assert fns["features"](
        fns["make_png"](w, h, seed), multimodal.MIME_PNG
    ) == fns["features"](fns["make_ppm"](w, h, seed), multimodal.MIME_PPM)

    def build_png(pixels, color_type, filters):
        """Hand-encode with CHOSEN per-row filter types (the forward
        filter transform, per the spec) to exercise the decoder."""
        hh, ww, ch = pixels.shape
        flat = pixels.reshape(hh, ww * ch).astype(np.int32)
        bpp = ch
        raw = bytearray()
        for y in range(hh):
            ft = filters[y % len(filters)]
            cur = flat[y]
            prior = flat[y - 1] if y > 0 else np.zeros(ww * ch, np.int32)
            raw.append(ft)
            for x in range(ww * ch):
                a = cur[x - bpp] if x >= bpp else 0
                b = prior[x]
                c = prior[x - bpp] if x >= bpp else 0
                if ft == 0:
                    v = cur[x]
                elif ft == 1:
                    v = cur[x] - a
                elif ft == 2:
                    v = cur[x] - b
                elif ft == 3:
                    v = cur[x] - ((a + b) >> 1)
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = cur[x] - pred
                raw.append(v & 0xFF)

        def chunk(ctype, body):
            crc = zlib.crc32(ctype + body) & 0xFFFFFFFF
            return struct.pack(">I", len(body)) + ctype + body + struct.pack(">I", crc)

        ihdr = struct.pack(">IIBBBBB", ww, hh, 8, color_type, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(9, 11, 3), dtype=np.uint8)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        dw, dh, out = fns["decode_png"](build_png(rgb, 2, filters))
        assert (dw, dh) == (11, 9)
        assert (out == rgb).all(), f"filter set {filters} misdecoded"

    grey = rng.integers(0, 256, size=(6, 8, 1), dtype=np.uint8)
    _, _, gout = fns["decode_png"](build_png(grey, 0, [4]))
    assert (gout == np.repeat(grey, 3, axis=2)).all()

    rgba = rng.integers(0, 256, size=(5, 7, 4), dtype=np.uint8)
    _, _, aout = fns["decode_png"](build_png(rgba, 6, [1, 2]))
    assert (aout == rgba[:, :, :3]).all()  # alpha dropped

    # unsupported shapes fail loudly, not wrongly
    with pytest.raises(Exception):
        fns["decode_png"](b"x" * 16)


def test_jpeg_codec_roundtrip():
    """Round 6: baseline-sequential JFIF, pure Python.  A flat image
    is DC-only and round-trips EXACTLY; the gradient fixture round-
    trips within quantization tolerance; quality scales size; odd
    (non-multiple-of-8) dimensions crop correctly; greyscale decodes;
    features route through the real decoder."""
    import numpy as np

    fns = multimodal._codec_fns()
    flat = np.full((16, 16, 3), 128, np.uint8)
    w, h, px = fns["decode_jpeg"](fns["encode_jpeg"](flat, 90))
    assert (w, h) == (16, 16) and int(np.abs(px.astype(int) - 128).max()) == 0

    src = fns["decode_ppm"](fns["make_ppm"](24, 17, 7))[2]
    hi = fns["encode_jpeg"](src, 90)
    lo = fns["encode_jpeg"](src, 30)
    assert len(lo) < len(hi) < src.nbytes  # really compressed
    dw, dh, out = fns["decode_jpeg"](hi)
    assert (dw, dh) == (24, 17)
    err = np.abs(out.astype(int) - src.astype(int))
    assert float(err.mean()) < 2.0 and int(err.max()) <= 12

    odd = fns["decode_ppm"](fns["make_ppm"](13, 9, 3))[2]
    ow, oh, opx = fns["decode_jpeg"](fns["encode_jpeg"](odd, 85))
    assert (ow, oh) == (13, 9) and opx.shape == (9, 13, 3)

    feat = fns["features"](fns["make_jpeg"](20, 12, 5), multimodal.MIME_JPEG)
    assert feat[:2] == [20.0, 12.0] and len(feat) == 8

    with pytest.raises(ValueError, match="SOI"):
        fns["decode_jpeg"](b"nope")


def test_jpeg_grayscale_and_subsampled_decode():
    """The decoder handles component layouts our encoder doesn't emit:
    a hand-built single-component (greyscale) scan and a 4:2:0 layout
    synthesized by patching the encoder's sampling factors is beyond a
    unit fixture — instead decode a greyscale stream built from the
    encoder's luma channel only."""
    import struct as _struct

    import numpy as np

    fns = multimodal._codec_fns()
    src = fns["decode_ppm"](fns["make_ppm"](16, 16, 1))[2]
    full = fns["encode_jpeg"](src, 90)
    # build a greyscale JPEG by re-using the encoder on a grey image:
    # all three channels equal → Cb/Cr ≈ 128 → chroma blocks near-zero
    grey3 = np.repeat(
        (0.299 * src[:, :, 0] + 0.587 * src[:, :, 1] + 0.114 * src[:, :, 2])
        .astype(np.uint8)[:, :, None],
        3,
        axis=2,
    )
    w, h, out = fns["decode_jpeg"](fns["encode_jpeg"](grey3, 90))
    assert (w, h) == (16, 16)
    spread = np.abs(out.astype(int) - out[:, :, :1].astype(int)).max()
    assert spread <= 2  # channels stay (nearly) equal through the trip
    assert isinstance(full, bytes) and full[:2] == b"\xff\xd8"


def test_avi_mjpeg_codec_and_frame_extraction(spark):
    """Round 6: MJPEG-AVI is a real decodable container — driver-side
    round trip (frame count, fps, per-frame pixels within JPEG
    tolerance) and the distributed extract_frames path (real decode,
    scalar output columns, deterministic md5s)."""
    import numpy as np

    fns = multimodal._codec_fns()
    avi = fns["make_avi"](20, 14, 5, 10.0, 3)
    w, h, fps, frames = fns["decode_avi"](avi)
    assert (w, h, fps, len(frames)) == (20, 14, 10.0, 5)
    for f_idx, frame in enumerate(frames):
        src = fns["decode_ppm"](fns["make_ppm"](20, 14, 3 + 7 * f_idx))[2]
        err = np.abs(frame.astype(int) - src.astype(int))
        assert float(err.mean()) < 2.5, f_idx

    feat = fns["features"](avi, multimodal.MIME_AVI)
    assert feat[:4] == [20.0, 14.0, 0.5, 5.0] and feat[7] == 10.0
    assert feat[6] > 0  # drifting pattern → nonzero motion

    # distributed: one row per frame, exact determinism across runs
    ids = spark.range(0, 24).withColumnRenamed("id", "media_id")
    videos = multimodal.generate_media(ids).filter(
        F.col("mime") == multimodal.MIME_AVI
    )
    got1 = sorted(
        tuple(r) for r in multimodal.extract_frames(videos).collect()
    )
    got2 = sorted(
        tuple(r) for r in multimodal.extract_frames(videos).collect()
    )
    assert got1 == got2 and len(got1) > 0
    n_videos = videos.count()
    assert n_videos == 3  # ids 5, 12, 19
    # every-other-frame sampling returns fewer rows than full
    sampled = multimodal.extract_frames(videos, every_ms=200).count()
    assert 0 < sampled < len(got1)

    with pytest.raises(ValueError, match="RIFF"):
        fns["decode_avi"](b"nope")


def test_flac_codec_lossless_roundtrip():
    """Round 6: FLAC is a REAL lossless compressed audio codec — a
    noisy 16-bit signal encodes smaller than raw PCM and decodes
    bit-exact (mono, stereo, and multi-block streams); the seeded
    fixture matches make_wav's signal family through the shared
    audio_features contract."""
    import numpy as np

    fns = multimodal._codec_fns()
    rng = np.random.default_rng(7)
    sig = (np.sin(np.arange(1600) / 13.0) * 0.4
           + rng.normal(0, 0.01, 1600)).clip(-1, 1)
    flac = fns["encode_flac"](8000, sig)
    rate, ch, frames = fns["decode_flac"](flac)
    src = np.clip(np.round(sig * 32768.0), -32768, 32767) / 32768.0
    assert (rate, ch) == (8000, 1)
    assert np.allclose(frames[:, 0], src, atol=1e-12)  # bit-exact
    assert len(flac) < 1600 * 2  # really compressed vs raw PCM

    stereo = np.stack([sig, np.roll(sig, 5)], axis=1)
    r2, c2, f2 = fns["decode_flac"](fns["encode_flac"](8000, stereo))
    src2 = np.clip(np.round(stereo * 32768.0), -32768, 32767) / 32768.0
    assert (r2, c2) == (8000, 2) and np.allclose(f2, src2, atol=1e-12)

    big = np.sin(np.arange(10000) / 29.0) * 0.3  # spans 3 blocks
    rb, cb, fb = fns["decode_flac"](fns["encode_flac"](16000, big))
    srcb = np.clip(np.round(big * 32768.0), -32768, 32767) / 32768.0
    assert len(fb) == 10000 and np.allclose(fb[:, 0], srcb, atol=1e-12)

    # the features route: FLAC and WAV of the same signal agree
    wav_feat = fns["features"](
        fns["make_wav"](1600, 8000, 440, 3), multimodal.MIME_WAV
    )
    flac_feat = fns["features"](
        fns["make_flac"](1600, 8000, 440, 3), multimodal.MIME_FLAC
    )
    assert all(abs(a - b) < 1e-4 for a, b in zip(wav_feat, flac_feat))

    with pytest.raises(ValueError, match="FLAC"):
        fns["decode_flac"](b"nope")


def test_flac_reserved_codes_raise_valueerror():
    """Round 7 (ADVICE): malformed FLAC payloads follow the ValueError
    contract everywhere — reserved sample-size code 3 and reserved
    channel assignments must not escape as bare KeyError."""
    import numpy as np

    fns = multimodal._codec_fns()
    sig = np.sin(np.arange(800) / 11.0) * 0.3
    flac = bytearray(fns["encode_flac"](8000, sig))

    # walk the metadata blocks to the first frame header
    assert flac[:4] == b"fLaC"
    i = 4
    while True:
        last = flac[i] & 0x80
        length = int.from_bytes(flac[i + 1:i + 4], "big")
        i += 4 + length
        if last:
            break
    assert flac[i] == 0xFF  # frame sync

    # byte 3 of the frame header: ch_code<<4 | ss_code<<1 | reserved
    patched = bytearray(flac)
    patched[i + 3] = (patched[i + 3] & 0xF0) | (3 << 1)  # ss_code=3
    with pytest.raises(ValueError, match="sample size"):
        fns["decode_flac"](bytes(patched))

    patched = bytearray(flac)
    patched[i + 3] = (11 << 4) | (patched[i + 3] & 0x0F)  # ch_code=11
    with pytest.raises(ValueError, match="channel"):
        fns["decode_flac"](bytes(patched))


def test_datalog_pull_empty_rels_and_errors(spark):
    """An entity with no related rows pulls an EMPTY array (not NULL);
    pull cannot mix with aggregates in one :find."""
    import pytest as _pytest

    from core2_spark.datalog import q_with_resolver

    c = spark.createDataFrame([(1, "a"), (2, "b")], "ck long, nm string")
    o = spark.createDataFrame([(10, 1, 5.0)], "ok long, fk long, amt double")
    res = q_with_resolver(
        lambda t: {"cust": c, "ords": o}[t],
        {
            "find": [
                "?e",
                ("pull", "?e", {
                    "from": "cust", "id": "ck", "attrs": ["nm"],
                    "rels": [{"table": "ords", "fk": "fk",
                              "attrs": ["ok", "amt"], "order": "ok",
                              "as": "ords"}],
                    "as": "doc",
                }),
            ],
            "where": [("cust", {"ck": "?e"})],
        },
    ).orderBy("e").collect()
    assert res[0]["doc"]["nm"] == "a"
    assert [(x["ok"], x["amt"]) for x in res[0]["doc"]["ords"]] == [(10, 5.0)]
    assert res[1]["doc"]["ords"] == []  # empty array, not NULL
    with _pytest.raises(ValueError, match="cannot mix"):
        q_with_resolver(
            lambda t: {"cust": c}[t],
            {
                "find": [("count", "?e", "n"),
                         ("pull", "?e", {"from": "cust", "id": "ck"})],
                "where": [("cust", {"ck": "?e"})],
            },
        )


def test_datalog_mutual_rules_even_odd(spark):
    """Mutually recursive rules evaluate as a joint SCC fixpoint:
    odd/even path lengths over a chain, where `even` has no base body
    and derives entirely from `odd` (and definition ORDER of the two
    rules does not matter)."""
    from core2_spark.datalog import q_with_resolver

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src int, dst int"
    )
    resolver = lambda t: {"edge": edges}[t]  # noqa: E731
    rules = [
        # even listed FIRST and referencing odd before its definition:
        # the SCC pass is order-independent
        ("even", ["?x", "?y"],
         [("odd", "?x", "?z"), ("edge", {"src": "?z", "dst": "?y"})]),
        ("odd", ["?x", "?y"], [("edge", {"src": "?x", "dst": "?y"})]),
        ("odd", ["?x", "?y"],
         [("even", "?x", "?z"), ("edge", {"src": "?z", "dst": "?y"})]),
    ]
    odd = q_with_resolver(
        resolver,
        {"find": ["?y"],
         "where": [("odd", "?x", "?y"), ("=", "?x", 0)], "rules": rules},
    )
    even = q_with_resolver(
        resolver,
        {"find": ["?y"],
         "where": [("even", "?x", "?y"), ("=", "?x", 0)], "rules": rules},
    )
    assert sorted(r["y"] for r in odd.collect()) == [1, 3, 5]
    assert sorted(r["y"] for r in even.collect()) == [2, 4]


def test_datalog_mutual_rules_null_carried_column_converges(spark):
    """SCC fixpoint dedup must be NULL-safe (same contract as the
    single-rule fixpoint, operators/recursion.py): a derived row
    carrying a NULL column (here a tag joined through from the base
    relation) must match its twin in the accumulator, or it is
    re-derived as "new" every round and the 2-cycle graph below
    falsely fails with 'did not converge in 200 rounds'."""
    from core2_spark.datalog import q_with_resolver

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src int, dst int")
    start = spark.createDataFrame(
        [(1, None), (2, "t")], "node int, tag string"
    )
    resolver = lambda t: {"edge": edges, "start": start}[t]  # noqa: E731
    rules = [
        ("a", ["?y", "?t"], [("start", {"node": "?y", "tag": "?t"})]),
        ("a", ["?y", "?t"],
         [("b", "?x", "?t"), ("edge", {"src": "?x", "dst": "?y"})]),
        ("b", ["?y", "?t"],
         [("a", "?x", "?t"), ("edge", {"src": "?x", "dst": "?y"})]),
    ]
    got_a = q_with_resolver(
        resolver, {"find": ["?n", "?t"], "where": [("a", "?n", "?t")],
                   "rules": rules}
    )
    got_b = q_with_resolver(
        resolver, {"find": ["?n", "?t"], "where": [("b", "?n", "?t")],
                   "rules": rules}
    )
    # each tag (incl. NULL) hops around the 1<->2 cycle exactly once:
    # a holds the starts, b the odd-distance hops
    assert {(r["n"], r["t"]) for r in got_a.collect()} == {(1, None), (2, "t")}
    assert {(r["n"], r["t"]) for r in got_b.collect()} == {(2, None), (1, "t")}


def test_datalog_mutual_rules_need_a_base_somewhere(spark):
    from core2_spark.datalog import q_with_resolver

    edges = spark.createDataFrame([(0, 1)], "src int, dst int")
    resolver = lambda t: {"edge": edges}[t]  # noqa: E731
    with pytest.raises(ValueError, match="no\\s+non-recursive body"):
        q_with_resolver(
            resolver,
            {
                "find": ["?x"],
                "where": [("a", "?x", "?y")],
                "rules": [
                    ("a", ["?x", "?y"],
                     [("b", "?x", "?z"), ("edge", {"src": "?z", "dst": "?y"})]),
                    ("b", ["?x", "?y"],
                     [("a", "?x", "?z"), ("edge", {"src": "?z", "dst": "?y"})]),
                ],
            },
        )


def test_datalog_forward_reference_across_sccs(spark):
    """A rule may reference another rule defined LATER in the list
    when they are not mutually recursive — SCC topological order
    replaces the old definition-order restriction."""
    from core2_spark.datalog import q_with_resolver

    edges = spark.createDataFrame(
        [(0, 1), (1, 2)], "src int, dst int"
    )
    resolver = lambda t: {"edge": edges}[t]  # noqa: E731
    got = q_with_resolver(
        resolver,
        {
            "find": ["?y"],
            "where": [("two_hop", "?x", "?y"), ("=", "?x", 0)],
            "rules": [
                ("two_hop", ["?x", "?y"],
                 [("hop", "?x", "?m"), ("hop", "?m", "?y")]),
                ("hop", ["?x", "?y"], [("edge", {"src": "?x", "dst": "?y"})]),
            ],
        },
    )
    assert [r["y"] for r in got.collect()] == [2]


def test_datalog_negation_over_rules_stratified(spark):
    """not-exists over an already-evaluated rule relation (stratified
    negation): nodes NOT reachable from 0; both the dict-binding and
    positional spellings."""
    from core2_spark.datalog import q_with_resolver

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (7, 8)], "src int, dst int"
    )
    nodes = spark.createDataFrame([(i,) for i in (0, 1, 2, 7, 8)], "n int")
    resolver = lambda t: {"edge": edges, "node": nodes}[t]  # noqa: E731
    rules = [
        ("reach", ["?y"], [("edge", {"src": "?s", "dst": "?y"}), ("=", "?s", 0)]),
        ("reach", ["?y"],
         [("reach", "?m"), ("edge", {"src": "?m", "dst": "?y"})]),
    ]
    for neg in (
        ("not-exists", ("reach", {"y": "?n"})),  # dict bindings
        ("not-exists", ("reach", "?n")),  # positional invocation
    ):
        got = q_with_resolver(
            resolver,
            {"find": ["?n"], "where": [("node", {"n": "?n"}), neg],
             "rules": rules},
        )
        assert sorted(r["n"] for r in got.collect()) == [0, 7, 8]


def test_datalog_negation_inside_own_component_rejected(spark):
    """Negating a rule inside its own recursive component is not
    stratified and must fail loudly, never fixpoint-loop silently."""
    from core2_spark.datalog import q_with_resolver

    edges = spark.createDataFrame([(0, 1)], "src int, dst int")
    resolver = lambda t: {"edge": edges}[t]  # noqa: E731
    with pytest.raises(ValueError, match="not stratified"):
        q_with_resolver(
            resolver,
            {
                "find": ["?y"],
                "where": [("weird", "?y")],
                "rules": [
                    ("weird", ["?y"], [("edge", {"src": "?x", "dst": "?y"})]),
                    ("weird", ["?y"],
                     [("edge", {"src": "?y", "dst": "?z"}),
                      ("not-exists", ("weird", "?y"))]),
                ],
            },
        )


def test_datalog_negation_forces_evaluation_order(spark):
    """A rule that negates another rule depends on it: the negated
    rule must be fully evaluated first even when defined LATER."""
    from core2_spark.datalog import q_with_resolver

    edges = spark.createDataFrame([(0, 1), (7, 8)], "src int, dst int")
    nodes = spark.createDataFrame([(i,) for i in (0, 1, 7, 8)], "n int")
    resolver = lambda t: {"edge": edges, "node": nodes}[t]  # noqa: E731
    got = q_with_resolver(
        resolver,
        {
            "find": ["?n"],
            "where": [("orphan", "?n")],
            "rules": [
                ("orphan", ["?n"],
                 [("node", {"n": "?n"}),
                  ("not-exists", ("target", "?n"))]),
                ("target", ["?y"], [("edge", {"dst": "?y"})]),
            ],
        },
    )
    assert sorted(r["n"] for r in got.collect()) == [0, 7]


def test_datalog_order_limit_offset(spark):
    """core2 :order-by/:limit/:offset result modifiers; an unordered
    :limit is rejected (non-deterministic across partitions)."""
    from core2_spark.datalog import q_with_resolver

    t = spark.createDataFrame(
        [(i, i % 3) for i in range(10)], "k int, g int"
    )
    resolver = lambda name: {"t": t}[name]  # noqa: E731
    base = {
        "find": ["?k"],
        "where": [("t", {"k": "?k"})],
        "order-by": [("?k", "desc")],
    }
    got = q_with_resolver(resolver, {**base, "limit": 3})
    assert [r["k"] for r in got.collect()] == [9, 8, 7]
    got = q_with_resolver(resolver, {**base, "limit": 3, "offset": 2})
    assert [r["k"] for r in got.collect()] == [7, 6, 5]
    # aggregate alias ordering
    got = q_with_resolver(
        resolver,
        {
            "find": ["?g", ("count", "?k", "n")],
            "where": [("t", {"k": "?k", "g": "?g"})],
            "order-by": [("n", "desc"), "?g"],
            "limit": 1,
        },
    )
    assert [(r["g"], r["n"]) for r in got.collect()] == [(0, 4)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-deterministic"):
        q_with_resolver(
            resolver,
            {"find": ["?k"], "where": [("t", {"k": "?k"})], "limit": 3},
        )


def test_datalog_ordered_limit_is_top_k_plan(spark):
    """:order-by + :limit must fuse to TakeOrderedAndProject — never a
    global sort followed by a limit."""
    from core2_spark.datalog import q_with_resolver

    t = spark.createDataFrame([(i,) for i in range(100)], "k int")
    got = q_with_resolver(
        lambda name: {"t": t}[name],
        {
            "find": ["?k"],
            "where": [("t", {"k": "?k"})],
            "order-by": [("?k", "desc")],
            "limit": 5,
        },
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_datalog_pull_wildcard_attrs(spark):
    """Datomic's [*] wildcard: `attrs: "*"` pulls every non-id column
    of the entity (and every non-fk column of a rel)."""
    from core2_spark.datalog import q_with_resolver

    people = spark.createDataFrame(
        [(1, "ada", 30), (2, "bob", 40)], "pid int, name string, age int"
    )
    pets = spark.createDataFrame(
        [(1, "rex", "dog"), (1, "tom", "cat")],
        "owner int, pname string, kind string",
    )
    resolver = lambda t: {"people": people, "pets": pets}[t]  # noqa: E731
    got = q_with_resolver(
        resolver,
        {
            "find": [
                "?p",
                ("pull", "?p", {
                    "from": "people", "id": "pid", "attrs": "*",
                    "rels": [{"table": "pets", "fk": "owner",
                              "attrs": "*", "order": "pname",
                              "as": "pets"}],
                    "as": "doc",
                }),
            ],
            "where": [("people", {"pid": "?p"})],
        },
    )
    rows = {r["p"]: r["doc"] for r in got.collect()}
    assert rows[1]["name"] == "ada" and rows[1]["age"] == 30
    assert [e["pname"] for e in rows[1]["pets"]] == ["rex", "tom"]
    assert rows[2]["pets"] == []


@pytest.mark.slow
def test_datalog_mutual_semi_naive_deep_chain(spark):
    """A 24-hop chain drives the joint semi-naive fixpoint through
    many rounds: exact odd/even reachability sets from node 0."""
    from core2_spark.datalog import q_with_resolver

    n = 24
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src int, dst int"
    )
    resolver = lambda t: {"edge": edges}[t]  # noqa: E731
    rules = [
        ("odd", ["?x", "?y"], [("edge", {"src": "?x", "dst": "?y"})]),
        ("odd", ["?x", "?y"],
         [("even", "?x", "?z"), ("edge", {"src": "?z", "dst": "?y"})]),
        ("even", ["?x", "?y"],
         [("odd", "?x", "?z"), ("edge", {"src": "?z", "dst": "?y"})]),
    ]
    odd = q_with_resolver(
        resolver,
        {"find": ["?y"], "where": [("odd", "?x", "?y"), ("=", "?x", 0)],
         "rules": rules},
    )
    assert sorted(r["y"] for r in odd.collect()) == list(range(1, n + 1, 2))


def test_schema_cache_reuses_schema_not_relation(spark):
    """load_table memoizes the inferred SCHEMA per (app, dir, table)
    so footer inference runs once per table, while every build still
    gets its OWN relation object.  Both halves are regression guards:
    the first r11 form cached the DataFrame itself, and sharing one
    LogicalRelation across the bench's 10 concurrent query threads
    serialized them on JVM-side instance locks (headline wall
    2.3 s -> 4.2 s with no sequential regression)."""
    from core2_spark.catalog import _SCHEMA_CACHE

    a = load_table(spark, SF_DIR, "orders")
    b = load_table(spark, SF_DIR, "orders")
    assert a is not b  # fresh relation per build — no shared plan locks
    assert a.schema == b.schema
    assert any(
        k[2] == "orders" and k[1].endswith("sf0.001") for k in _SCHEMA_CACHE
    )
    # events memoizes the RAW read schema and re-normalizes ts on hit
    e1 = load_table(spark, SF_DIR, "events")
    e2 = load_table(spark, SF_DIR, "events")
    assert e1 is not e2
    assert dict(e1.dtypes)["ts"] == "timestamp"
    assert e1.schema == e2.schema
    # cached-schema relation still computes (sanity action)
    assert b.count() > 0 and e2.count() > 0
