"""Multimodal plumbing: binary columns + Arrow/mapInPandas stages."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

# The source repository's checkout: its media/ PNGs and JPEGs are
# real-world decoder fixtures, absent where only the package is checked out.
REFERENCE_DIR = "/root/reference"


def _needs_reference(sub: str):
    path = os.path.join(REFERENCE_DIR, sub)
    return pytest.mark.skipif(
        not os.path.isdir(path), reason=f"reference media {path} not present"
    )


@pytest.fixture(scope="module")
def media(spark):
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import attach_fake_media
    from enterprise_iot_bigdata_pipeline_spark.plans.tables import t

    return attach_fake_media(t(spark, SF_SMOKE, "documents"))


def test_metadata_without_payload_scan(media):
    meta = media.select("doc_id", "meta.media_type", "meta.n_bytes")
    rows = meta.collect()
    assert len(rows) > 0
    assert {r["media_type"] for r in rows} <= {"image/png", "audio/wav", "video/mp4"}
    # payload column must not appear in the projected schema
    assert "content" not in meta.columns


def test_extract_features_deterministic(spark, media):
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import extract_features

    f1 = extract_features(media).orderBy("doc_id").limit(5).collect()
    f2 = extract_features(media).orderBy("doc_id").limit(5).collect()
    assert f1 == f2
    r = f1[0]
    assert r["n_bytes"] > 0 and 0 <= r["mean_byte"] <= 255 and r["byte_entropy"] >= 0


def test_sample_frames_fanout(media):
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import sample_frames

    frames = sample_frames(media, frame_size=64, stride=4)
    row = frames.filter(F.length("frame") == 64).first()
    assert row is not None
    # fan-out: more frame rows than input docs for long docs
    doc = frames.groupBy("doc_id").count().orderBy(F.desc("count")).first()
    assert doc["count"] >= 1


def test_decode_image_gated():
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import decode_image

    try:
        import PIL  # noqa: F401

        has_pil = True
    except ImportError:
        has_pil = False
    if not has_pil:
        with pytest.raises(NotImplementedError):
            decode_image(b"\x89PNG fake")
    # uncompressed netpbm decodes natively regardless of codec availability
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import encode_ppm

    img = decode_image(encode_ppm(2, 3, bytes(range(18))))
    assert (img["width"], img["height"], img["n_channels"]) == (2, 3, 3)


def test_ppm_roundtrip_and_tolerant_header():
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        encode_ppm,
        parse_ppm,
    )

    pixels = bytes((7 * i + 3) % 256 for i in range(3 * 5 * 4))
    img = parse_ppm(encode_ppm(5, 4, pixels))
    assert (img["width"], img["height"], img["maxval"]) == (5, 4, 255)
    assert img["pixels"] == pixels
    # spec-tolerant header: comments and arbitrary whitespace between tokens
    commented = b"P6\n# made by hand\n  5\t4 # dims\n255\n" + pixels
    img2 = parse_ppm(commented)
    assert (img2["width"], img2["height"]) == (5, 4) and img2["pixels"] == pixels
    with pytest.raises(ValueError):
        parse_ppm(b"P6\n2 2\n255\n\x00\x01")  # truncated samples


def test_wav_roundtrip():
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        encode_wav,
        parse_wav,
    )

    samples = np.array([0, 1000, -1000, 32767, -32768, 42], dtype=np.int16)
    wav = parse_wav(encode_wav(16_000, samples))
    assert wav["sample_rate"] == 16_000
    assert wav["n_channels"] == 1 and wav["bits"] == 16
    assert np.array_equal(wav["samples"], samples)
    with pytest.raises(ValueError):
        parse_wav(b"RIFFxxxxWAVE")  # no fmt/data chunks


def test_decode_real_files_end_to_end(spark, tmp_path):
    """REAL bytes on disk → binaryFile source → magic-dispatch decode: the
    decoded geometry must match what was encoded, and decode_enrich must
    fill the null width/height that extension-only metadata leaves."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        decode_enrich,
        decode_media,
        encode_ppm,
        encode_wav,
        read_media_dir,
    )

    pixels = bytes((i * 11) % 256 for i in range(3 * 9 * 6))
    samples = np.arange(-500, 500, dtype=np.int16)
    (tmp_path / "21.ppm").write_bytes(encode_ppm(9, 6, pixels))
    (tmp_path / "34.wav").write_bytes(encode_wav(22_050, samples))

    media = read_media_dir(spark, str(tmp_path), glob="*.{ppm,wav}")
    decoded = {r["doc_id"]: r for r in decode_media(media).collect()}
    assert decoded[21]["media_type"] == "image/ppm"
    assert (decoded[21]["width"], decoded[21]["height"]) == (9, 6)
    assert decoded[21]["n_units"] == len(pixels)
    assert decoded[21]["checksum"] == sum(pixels)
    assert decoded[34]["media_type"] == "audio/wav"
    assert decoded[34]["sample_rate"] == 22_050
    assert decoded[34]["n_units"] == len(samples)
    assert decoded[34]["checksum"] == int(samples.sum())

    enriched = {r["doc_id"]: r for r in decode_enrich(media).collect()}
    assert enriched[21]["meta"]["width"] == 9 and enriched[21]["meta"]["height"] == 6
    assert enriched[34]["meta"]["media_type"] == "audio/wav"


def test_attach_real_media_decode_roundtrip(spark):
    """Synthetic real-media path: encoded payloads are valid files whose
    decoded geometry matches the deterministic spec."""
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        attach_real_media,
        decode_media,
    )
    from enterprise_iot_bigdata_pipeline_spark.plans.tables import t

    docs = t(spark, SF_SMOKE, "documents").limit(40)
    out = decode_media(attach_real_media(docs)).collect()
    assert len(out) == 40
    for r in out:
        if r["media_type"] in ("image/ppm", "image/png", "image/bmp", "image/gif"):
            assert 1 <= r["width"] <= 16 and 1 <= r["height"] <= 8
            assert r["n_units"] == 3 * r["width"] * r["height"]
        else:
            assert r["media_type"] == "audio/wav"
            assert 8000 <= r["sample_rate"] <= 15000
            assert 64 <= r["n_units"] < 320


def test_read_media_dir_binary_file_source(spark, tmp_path):
    """Real media ingestion through Spark's binaryFile source: one row per
    file, typed metadata from the extension, payload bytes intact and
    usable by the same feature stage as synthetic media."""
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        extract_features,
        read_media_dir,
    )

    (tmp_path / "7.png").write_bytes(b"\x89PNG fake payload")
    (tmp_path / "12.wav").write_bytes(b"RIFF fake audio bytes")
    (tmp_path / "clip.mp4").write_bytes(b"\x00\x00movie")
    (tmp_path / "notes.txt").write_bytes(b"not media")

    media = read_media_dir(spark, str(tmp_path), glob="*.{png,wav,mp4}")
    rows = {r["doc_id"]: r for r in media.collect()}
    assert len(rows) == 3  # txt filtered by glob
    assert rows[7]["meta"]["media_type"] == "image/png"
    assert rows[12]["meta"]["media_type"] == "audio/wav"
    assert rows[7]["meta"]["n_bytes"] == 17
    assert bytes(rows[12]["content"]) == b"RIFF fake audio bytes"
    # non-numeric stem gets a stable hash id
    clip = [r for r in rows.values() if r["source_file"].endswith("clip.mp4")]
    assert len(clip) == 1 and clip[0]["doc_id"] not in (7, 12)

    # the real-file frame feeds the same Arrow feature stage
    feats = {r["doc_id"]: r for r in extract_features(media).collect()}
    assert feats[7]["n_bytes"] == 17
    assert feats[12]["max_byte"] == max(b"RIFF fake audio bytes")


def test_read_media_dir_raises_on_numeric_stem_collision(spark, tmp_path):
    """doc_id stability is a join-key contract: colliding numeric stems
    must raise (the old silent whole-load fallback to path-hash ids
    renamed every previously numeric-stem id on incremental loads), and
    id_from_name=False is the documented escape hatch."""
    import pytest

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import read_media_dir

    (tmp_path / "1.ppm").write_bytes(b"P6 fake")
    (tmp_path / "1.wav").write_bytes(b"RIFF fake")

    with pytest.raises(ValueError, match="collide"):
        read_media_dir(spark, str(tmp_path))

    out = read_media_dir(spark, str(tmp_path), id_from_name=False)
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == 2 and len(set(ids)) == 2  # stable path-hash ids


def test_png_codec_roundtrip_all_filters():
    """encode_png cycles all five scanline filter types, so a round-trip
    proves each unfilter path (None/Sub/Up/Average/Paeth) byte-exactly,
    for gray, RGB, and RGBA."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        encode_png,
        parse_png,
    )

    for nc in (1, 3, 4):
        w, h = 17, 11  # ≥5 rows → every filter type appears
        px = ((np.arange(w * h * nc) * 31 + 7) % 256).astype(np.uint8).tobytes()
        out = parse_png(encode_png(w, h, px, nc))
        assert (out["width"], out["height"], out["n_channels"]) == (w, h, nc)
        assert out["pixels"] == px


def test_png_adam7_interlaced_roundtrip():
    """Adam7 decode: each of the seven passes unfilters as its own
    mini-image and scatters onto the §8.2 grid — the round-trip must be
    byte-exact, including dims where some passes are empty (w or h < 5)
    and single-pixel images (only pass 1 non-empty)."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        encode_png,
        parse_png,
    )

    rng = np.random.default_rng(11)
    for (w, h, nc) in [(1, 1, 1), (7, 5, 3), (103, 77, 3), (33, 2, 1), (2, 33, 4), (16, 16, 3)]:
        px = rng.integers(0, 256, (h, w, nc), dtype=np.uint8).tobytes()
        out = parse_png(encode_png(w, h, px, nc, interlace=True))
        assert (out["width"], out["height"], out["n_channels"]) == (w, h, nc)
        assert out["pixels"] == px
        # interlaced and plain files decode identically
        assert out["pixels"] == parse_png(encode_png(w, h, px, nc))["pixels"]


@_needs_reference("media")
def test_reference_pngs_decode_via_read_media_dir(spark):
    """The reference repo's own media/*.png are real-world fixtures: the
    binaryFile ingest + pure-Python PNG decode (stdlib zlib inflate +
    unfilter — PIL never imported) must fill REAL dimensions for them."""
    import sys

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        decode_enrich,
        read_media_dir,
    )

    media = read_media_dir(spark, f"{REFERENCE_DIR}/media", glob="*.png")
    enriched = decode_enrich(media)
    rows = {
        r["source_file"].rsplit("/", 1)[-1]: r["meta"] for r in enriched.collect()
    }
    assert rows["banner.png"]["width"] == 2643
    assert rows["banner.png"]["height"] == 882
    assert rows["detailed-architecture.png"]["width"] == 3494
    assert rows["detailed-architecture.png"]["height"] == 1069
    assert all(m["media_type"] == "image/png" for m in rows.values())
    assert "PIL" not in sys.modules


def test_decode_media_dispatches_png(spark):
    """attach_real_media's h%4==0 branch emits real PNGs; decode_media
    recovers the same ramp geometry/checksum as the PPM branch formulas."""
    from pyspark.sql import functions as F

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        attach_real_media,
        decode_media,
    )

    docs = spark.createDataFrame(
        [(i, f"doc number {i} text") for i in range(40)], "doc_id long, text string"
    )
    decoded = decode_media(attach_real_media(docs))
    rows = decoded.collect()
    kinds = {r["media_type"] for r in rows}
    assert kinds == {"image/png", "image/ppm", "image/bmp", "image/gif", "audio/wav"}
    import hashlib

    for r in rows:
        h = int(hashlib.md5(f"doc number {r['doc_id']} text".encode()).hexdigest()[:8], 16)
        if h % 2 == 0:
            want = {0: "image/png", 2: "image/ppm", 4: "image/bmp", 6: "image/gif"}
            assert r["media_type"] == want[h % 8]
            w, ht = h % 16 + 1, h % 8 + 1
            assert (r["width"], r["height"]) == (w, ht)
            assert r["n_units"] == 3 * w * ht
            if h % 8 == 6:  # identity-gray GIF: each index byte tripled
                assert r["checksum"] == 3 * sum((h + i) % 256 for i in range(w * ht))
            else:
                assert r["checksum"] == sum((h + i) % 256 for i in range(3 * w * ht))


def test_jpeg_roundtrip_444_and_420():
    """Baseline JPEG encode→decode round-trip: 4:4:4 stays near-lossless
    at q=90 (PSNR > 40 dB); 4:2:0 exercises sampling-factor/upsample/
    MCU-padding paths on non-multiple-of-16 dims (PSNR > 28 dB)."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    h, w = 77, 103  # not multiples of 8 or 16
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            xx * 255 // (w - 1),
            yy * 255 // (h - 1),
            ((xx // 8 + yy // 8) % 2) * 200 + 20,
        ],
        axis=-1,
    ).astype(np.uint8)

    def psnr(dec):
        mse = ((dec.astype(np.float64) - img.astype(np.float64)) ** 2).mean()
        return 10 * np.log10(255**2 / mse)

    d444 = parse_jpeg(encode_jpeg(w, h, img.tobytes(), 3, quality=90))
    assert (d444["width"], d444["height"], d444["n_channels"]) == (w, h, 3)
    assert psnr(np.frombuffer(d444["pixels"], np.uint8).reshape(h, w, 3)) > 40

    d420 = parse_jpeg(encode_jpeg(w, h, img.tobytes(), 3, quality=85, subsample=True))
    assert (d420["width"], d420["height"], d420["n_channels"]) == (w, h, 3)
    assert psnr(np.frombuffer(d420["pixels"], np.uint8).reshape(h, w, 3)) > 28


def test_jpeg_gray_and_restart_markers():
    """1-component decode path, and DRI/RSTn handling: restart markers
    re-segment the bitstream but must not change a single pixel."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    h, w = 41, 57
    g = ((np.arange(h * w) * 13 + 5) % 256).astype(np.uint8)
    dg = parse_jpeg(encode_jpeg(w, h, g.tobytes(), 1, quality=90))
    assert (dg["width"], dg["height"], dg["n_channels"]) == (w, h, 1)
    mse = ((np.frombuffer(dg["pixels"], np.uint8).astype(np.float64) - g) ** 2).mean()
    assert 10 * np.log10(255**2 / max(mse, 1e-9)) > 35

    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([xx % 256, yy % 256, (xx + yy) % 256], axis=-1).astype(np.uint8)
    plain = parse_jpeg(encode_jpeg(w, h, img.tobytes(), 3, quality=85, subsample=True))
    rst = parse_jpeg(
        encode_jpeg(w, h, img.tobytes(), 3, quality=85, subsample=True, restart_interval=3)
    )
    assert plain["pixels"] == rst["pixels"]


def test_jpeg_progressive_roundtrip_matches_baseline():
    """Progressive (SOF2) decode: the default scan script refines every
    coefficient down to Al=0, so the decoded progressive image must be
    BIT-IDENTICAL to the baseline decode of the same quantized
    coefficients — across 4:4:4, 4:2:0 (interleaved-DC MCU order over
    subsampled grids) and grayscale, on non-multiple-of-16 dims. This
    exercises DC first/refinement, AC band first scans, EOB runs, and
    the AC correction-bit refinement path."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
        parse_jpeg,
    )

    h, w = 77, 103
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [xx * 255 // (w - 1), yy * 255 // (h - 1), ((xx // 8 + yy // 8) % 2) * 200 + 20],
        axis=-1,
    ).astype(np.uint8)
    for q, sub in [(90, False), (85, True), (30, True)]:
        seq = parse_jpeg(encode_jpeg(w, h, img.tobytes(), 3, quality=q, subsample=sub))
        prog = parse_jpeg(
            encode_jpeg_progressive(w, h, img.tobytes(), 3, quality=q, subsample=sub)
        )
        assert (prog["width"], prog["height"], prog["n_channels"]) == (w, h, 3)
        assert prog["pixels"] == seq["pixels"], f"q={q} sub={sub}"
    g = ((np.arange(41 * 57) * 13 + 5) % 256).astype(np.uint8)
    seq = parse_jpeg(encode_jpeg(57, 41, g.tobytes(), 1, quality=90))
    prog = parse_jpeg(encode_jpeg_progressive(57, 41, g.tobytes(), 1, quality=90))
    assert prog["pixels"] == seq["pixels"]


def test_jpeg_sequential_non_interleaved_multi_scan():
    """T.81 also allows SEQUENTIAL files with one scan per component
    (ns=1 each, walking the component's own block grid instead of the
    MCU-padded one) — decode must be bit-identical to the interleaved
    layout, including under 4:2:0 where the grids genuinely differ."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    rng = np.random.default_rng(5)
    for (w, h, nc, sub) in [(70, 50, 3, False), (37, 29, 3, True), (41, 57, 1, False)]:
        img = rng.integers(0, 256, (h, w, nc), dtype=np.uint8)
        a = parse_jpeg(encode_jpeg(w, h, img.tobytes(), nc, quality=85, subsample=sub))
        b = parse_jpeg(
            encode_jpeg(w, h, img.tobytes(), nc, quality=85, subsample=sub, non_interleaved=True)
        )
        assert a["pixels"] == b["pixels"], (w, h, nc, sub)


def test_jpeg_progressive_spectral_only_and_decode_media(spark):
    """(a) A spectral-selection-only script (Al=0, no successive
    approximation) is a different legal progressive layout — also
    bit-identical to baseline. (b) decode_media no longer nulls
    progressive payloads: a progressive JPEG row comes back with real
    dimensions."""
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.jpeg import (
        encode_jpeg,
        encode_jpeg_progressive,
        parse_jpeg,
    )
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import decode_media

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (50, 70, 3), dtype=np.uint8)
    scans = [(None, 0, 0, 0, 0), (0, 1, 63, 0, 0), (1, 1, 63, 0, 0), (2, 1, 63, 0, 0)]
    seq = parse_jpeg(encode_jpeg(70, 50, img.tobytes(), 3, quality=80))
    prog_bytes = encode_jpeg_progressive(
        70, 50, img.tobytes(), 3, quality=80, scans=scans
    )
    assert parse_jpeg(prog_bytes)["pixels"] == seq["pixels"]

    df = spark.createDataFrame([(1, bytearray(prog_bytes))], "doc_id long, content binary")
    row = decode_media(df).collect()[0]
    assert row["media_type"] == "image/jpeg"
    assert (row["width"], row["height"]) == (70, 50)


@_needs_reference("v1-basic-etl/media")
def test_reference_jpegs_decode_via_read_media_dir(spark):
    """The reference repo's v1-basic-etl/media/*.jpeg (baseline SOF0,
    4:2:0) are real-world fixtures: binaryFile ingest + the pure-numpy
    baseline decoder must fill REAL dimensions — PIL never imported."""
    import sys

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        decode_enrich,
        read_media_dir,
    )

    media = read_media_dir(
        spark, f"{REFERENCE_DIR}/v1-basic-etl/media", glob="*.jpeg", id_from_name=False
    )
    enriched = decode_enrich(media)
    rows = {
        r["source_file"].rsplit("/", 1)[-1]: r["meta"] for r in enriched.collect()
    }
    assert rows["after.jpeg"]["width"] == 1581
    assert rows["after.jpeg"]["height"] == 313
    assert rows["before.jpeg"]["width"] == 1585
    assert rows["before.jpeg"]["height"] == 171
    assert all(m["media_type"] == "image/jpeg" for m in rows.values())
    assert "PIL" not in sys.modules


def test_jpeg_scan_order_fill_bytes_and_named_errors():
    """Spec-conformance hardening: (a) SOS component order may differ
    from SOF order — the MCU interleave must follow the SCAN; (b) fill
    bytes (0xFF runs before a marker) are legal padding; (c) truncated/
    corrupt payloads raise named ValueError, never bare IndexError;
    (d) CMYK rejects at SOF time with NotImplementedError."""
    import struct

    import numpy as np
    import pytest

    from enterprise_iot_bigdata_pipeline_spark.operators.jpeg import (
        encode_jpeg,
        parse_jpeg,
    )

    h, w = 24, 40
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([xx * 5 % 256, yy * 9 % 256, (xx + yy) % 256], axis=-1).astype(np.uint8)

    plain = encode_jpeg(w, h, img.tobytes(), 3, quality=90)
    permuted = encode_jpeg(
        w, h, img.tobytes(), 3, quality=90, scan_component_order=(3, 1, 2)
    )
    assert parse_jpeg(plain)["pixels"] == parse_jpeg(permuted)["pixels"]

    # fill bytes: inject an extra 0xFF before the first DQT marker
    idx = plain.index(b"\xff\xdb")
    filled = plain[:idx] + b"\xff" + plain[idx:]
    assert parse_jpeg(filled)["pixels"] == parse_jpeg(plain)["pixels"]

    with pytest.raises(ValueError, match="truncated"):
        parse_jpeg(b"\xff\xd8\xff")
    with pytest.raises(ValueError, match="segment length"):
        parse_jpeg(b"\xff\xd8\xff\xdb\xff\xff")
    with pytest.raises(ValueError, match="corrupt JPEG|truncated"):
        parse_jpeg(plain[: len(plain) // 2])  # truncated mid-structure

    cmyk_sof = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 20) + bytes(
        [8, 0, 8, 0, 8, 4] + [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
    )
    with pytest.raises(NotImplementedError, match="component"):
        parse_jpeg(cmyk_sof)


def test_decode_media_null_row_on_undecodable_jpeg(spark):
    """A recognized-but-undecodable JPEG (progressive SOF2) must become a
    null-typed row, not fail the whole mapInPandas batch."""
    import struct

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        decode_media,
    )

    sof2 = b"\xff\xd8" + b"\xff\xc2" + struct.pack(">H", 11) + bytes(
        [8, 0, 8, 0, 8, 1, 1, 0x11, 0]
    )
    media = spark.createDataFrame([(1, bytearray(sof2))], "doc_id long, content binary")
    rows = decode_media(media).collect()
    assert len(rows) == 1
    assert rows[0]["media_type"] is None and rows[0]["width"] is None


def test_resize_images_bilinear_known_values(spark):
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import resize_images

    # 2x2 single-channel gradient; identity resize must be byte-identical
    px = bytes([0, 100, 200, 255])
    df = spark.createDataFrame(
        [(1, 2, 2, 1, bytearray(px)), (2, 0, 0, 1, bytearray(b""))],
        "doc_id bigint, width int, height int, n_channels int, pixels binary",
    )
    same = {r.doc_id: r for r in resize_images(df, 2, 2).collect()}
    assert bytes(same[1].pixels) == px
    assert same[2].pixels is None  # empty payload passes through null

    up = {r.doc_id: r for r in resize_images(df, 4, 4).collect()}
    out = np.frombuffer(bytes(up[1].pixels), dtype=np.uint8).reshape(4, 4)
    # corners keep source corner values under half-pixel-center bilinear
    assert out[0, 0] == 0 and out[0, 3] == 100 and out[3, 0] == 200 and out[3, 3] == 255
    # center interpolates between all four corners
    assert 0 < out[1, 1] < 255 and out.dtype == np.uint8


def test_audio_spectrogram_peak_bin(spark):
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import audio_spectrogram

    sr, n_fft = 8000, 256
    k = 32  # pure tone centered exactly on FFT bin 32 (1 kHz at 8 kHz/256)
    n = 2048
    tone = (0.5 * np.sin(2 * np.pi * (k * sr / n_fft) * np.arange(n) / sr)).tolist()
    short = [0.0] * 16
    df = spark.createDataFrame(
        [(1, sr, tone), (2, sr, short)],
        "doc_id bigint, sample_rate int, samples array<double>",
    )
    out = {r.doc_id: r for r in audio_spectrogram(df, n_fft=n_fft, hop=128).collect()}
    assert out[1].peak_bin == k
    assert out[1].n_bins == n_fft // 2 + 1
    assert out[1].n_frames == 1 + (n - n_fft) // 128
    spec = np.frombuffer(bytes(out[1].spectrogram), dtype=np.float32)
    assert spec.size == out[1].n_frames * out[1].n_bins
    assert out[2].peak_bin is None  # clip shorter than one frame → null summary


def test_resize_null_and_corrupt_rows_pass_through(spark):
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import resize_images

    df = spark.createDataFrame(
        [
            (1, None, None, None, None),  # decode-failure null row
            (2, 4, 4, 3, bytearray(b"\x00" * 40)),  # truncated: 40 != 4*4*3
            (3, 2, 1, 1, bytearray(b"\x10\x20")),  # valid
        ],
        "doc_id bigint, width int, height int, n_channels int, pixels binary",
    )
    out = {r.doc_id: r for r in resize_images(df, 2, 1).collect()}
    assert out[1].pixels is None
    assert out[2].pixels is None
    assert bytes(out[3].pixels) == b"\x10\x20"


def test_resize_identity_property(spark):
    """Identity resize (out dims == in dims) is byte-exact for random
    shapes/channels — guards the half-pixel grid math at the boundaries."""
    import random

    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import resize_images

    rng = random.Random(5)
    rows = []
    shapes = {}
    for doc_id in range(1, 9):
        w, h, nc = rng.randint(1, 9), rng.randint(1, 9), rng.choice([1, 3, 4])
        px = bytes(rng.randrange(256) for _ in range(w * h * nc))
        rows.append((doc_id, w, h, nc, bytearray(px)))
        shapes[doc_id] = (w, h, px)
    df = spark.createDataFrame(
        rows, "doc_id bigint, width int, height int, n_channels int, pixels binary"
    )
    # identity per-row requires matching out dims — group rows by shape
    for doc_id, (w, h, px) in shapes.items():
        out = resize_images(df.filter(f"doc_id = {doc_id}"), w, h).collect()[0]
        assert bytes(out.pixels) == px, (doc_id, w, h)


def test_mp4_container_metadata_roundtrip(spark):
    """MP4/ISO-BMFF container walk: a constructed box tree (ftyp + moov
    with mvhd + video/audio traks) round-trips typed metadata — brand,
    timescale, duration, per-track dims, handler classes; sample decode
    stays a named stub (codec out of scope). decode_media dispatches on
    the ftyp signature and fills the metadata columns."""
    import pytest

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        build_mp4_meta,
        decode_media,
        decode_mp4_samples,
        parse_mp4_meta,
    )

    b = build_mp4_meta(timescale=90000, duration=2700000, video_wh=(1920, 1080), audio=True)
    m = parse_mp4_meta(b)
    assert m["major_brand"] == "isom"
    assert (m["timescale"], m["duration"], m["duration_s"]) == (90000, 2700000, 30.0)
    assert (m["width"], m["height"], m["n_tracks"]) == (1920, 1080, 2)
    assert m["has_video"] and m["has_audio"]

    audio_only = parse_mp4_meta(build_mp4_meta(1000, 5500, audio=True))
    assert audio_only["width"] is None and audio_only["has_audio"]
    assert audio_only["duration_s"] == 5.5

    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4_meta(b"\x00\x00\x00\x08free")
    # metadata-only file (no stbl) → ValueError, not a codec gate
    with pytest.raises(ValueError, match="no video sample table"):
        decode_mp4_samples(b)

    # error CONTRACT: malformed internals must be ValueError, never a
    # struct.error/IndexError/RecursionError that kills a decode batch
    import struct as _st

    def _box(tag, payload):
        return _st.pack(">I", 8 + len(payload)) + tag + payload

    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 4)
    short_v1 = ftyp + _box(b"moov", _box(b"mvhd", b"\x01" + b"\x00" * 15))
    empty_mvhd = ftyp + _box(b"moov", _box(b"mvhd", b""))
    nested = _box(b"mvhd", b"\x00" * 32)
    for _ in range(30):
        nested = _box(b"trak", nested)
    for bad in (short_v1, empty_mvhd, ftyp + _box(b"moov", nested)):
        with pytest.raises(ValueError, match="corrupt MP4"):
            parse_mp4_meta(bad)

    df = spark.createDataFrame(
        [(1, bytearray(b)), (2, bytearray(b"\x00\x00\x00\x0cftypXXXX"))],
        "doc_id long, content binary",
    )
    rows = {r["doc_id"]: r for r in decode_media(df).collect()}
    assert rows[1]["media_type"] == "video/mp4"
    assert (rows[1]["width"], rows[1]["height"]) == (1920, 1080)
    assert (rows[1]["sample_rate"], rows[1]["n_channels"], rows[1]["n_units"]) == (90000, 2, 2700000)
    # corrupt ftyp payload degrades to the null row, never a batch kill
    assert rows[2]["media_type"] is None


def test_bmp_roundtrip_24bit_and_paletted():
    import struct

    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        encode_bmp,
        parse_bmp,
    )

    # 24-bit round trip, width chosen so the row needs padding (3*5=15 → pad 1)
    w, h = 5, 4
    pixels = bytes((7 * i + 3) % 256 for i in range(3 * w * h))
    img = parse_bmp(encode_bmp(w, h, pixels))
    assert (img["width"], img["height"]) == (w, h)
    assert img["pixels"] == pixels

    # 8-bit paletted, bottom-up: identity grayscale palette (BGRX entries)
    idx = bytes((i * 11) % 256 for i in range(w * h))
    pal = b"".join(bytes((v, v, v, 0)) for v in range(256))
    row = (w + 3) // 4 * 4
    data = bytearray()
    for r in range(h - 1, -1, -1):
        data += idx[w * r : w * (r + 1)] + b"\x00" * (row - w)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + 1024 + len(data), 0, 0, 14 + 40 + 1024)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 0, len(data), 0, 0, 256, 0)
    img8 = parse_bmp(hdr + info + pal + bytes(data))
    got = np.frombuffer(img8["pixels"], dtype=np.uint8).reshape(h, w, 3)
    want = np.frombuffer(idx, dtype=np.uint8).reshape(h, w)
    assert (got == want[:, :, None]).all()

    # named gates and structural lies stay contained
    with pytest.raises(NotImplementedError):
        parse_bmp(hdr + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 8, 1, 0, 0, 0, 0, 0))
    with pytest.raises(ValueError):
        parse_bmp((hdr + info + pal + bytes(data))[:-20])


def test_gif_roundtrip_including_lzw_table_reset():
    from enterprise_iot_bigdata_pipeline_spark.operators.gif import (
        _lzw_decode,
        _lzw_encode,
        encode_gif,
        parse_gif,
    )

    # LZW kernel round trip on data large+varied enough to blow past the
    # 4096-slot table (forces the in-stream CLEAR/reset path)
    data = bytes((i * i + 7 * i) % 256 for i in range(40000))
    assert _lzw_decode(_lzw_encode(data, 8), 8) == data

    # full-container round trip with the identity-grayscale palette:
    # decoded RGB must be each index tripled
    w, h = 13, 9
    idx = bytes((5 * i + 1) % 256 for i in range(w * h))
    img = parse_gif(encode_gif(w, h, idx))
    assert (img["width"], img["height"]) == (w, h)
    assert img["pixels"] == b"".join(bytes((v, v, v)) for v in idx)


def test_gif_interlace_extensions_and_corruption():
    import struct

    from enterprise_iot_bigdata_pipeline_spark.operators.gif import (
        _INTERLACE_PASSES,
        _lzw_encode,
        encode_gif,
        parse_gif,
    )

    # hand-build an interlaced frame with a graphic-control extension in
    # front: rows stored in 8/8/4/2 pass order must come back sequential
    w, h = 4, 10
    rows = [bytes((r * 16 + c) for c in range(w)) for r in range(h)]
    stored = b"".join(rows[r] for start, step in _INTERLACE_PASSES
                      for r in range(start, h, step))
    pal = bytes(v for i in range(256) for v in (i, i, i))
    out = bytearray(b"GIF89a") + struct.pack("<HH", w, h) + bytes((0xF7, 0, 0)) + pal
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"          # GCE extension
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x40"  # interlaced
    out.append(8)
    comp = _lzw_encode(stored, 8)
    for i in range(0, len(comp), 255):
        out.append(len(comp[i:i + 255]))
        out += comp[i:i + 255]
    out += b"\x00\x3b"
    img = parse_gif(bytes(out))
    assert img["pixels"] == b"".join(bytes((v, v, v)) for v in b"".join(rows))

    # corruption containment: every crafted lie raises ValueError, never
    # an uncaught struct/index error
    good = encode_gif(3, 3, bytes(range(9)))
    for bad in (
        b"GIF89a" + good[6:20],                      # truncated mid-table
        good[:-2],                                    # missing trailer byte
        good[:13 + 768] + b"\x99" + good[13 + 768 + 1:],  # unknown block tag
                                                      # (descriptor offset —
                                                      # 0x2c also occurs as a
                                                      # palette byte)
        good[:13 + 768] + b"\x3b",                    # trailer before image
    ):
        with pytest.raises(ValueError):
            parse_gif(bad)


def test_decode_media_dispatches_bmp_and_gif(spark):
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.gif import encode_gif
    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        decode_media,
        encode_bmp,
    )

    w, h = 6, 3
    rgb = bytes((11 * i) % 256 for i in range(3 * w * h))
    idx = bytes((3 * i) % 256 for i in range(w * h))
    rows = [
        (1, encode_bmp(w, h, rgb)),
        (2, encode_gif(w, h, idx)),
        (3, b"BM" + b"\x00" * 10),        # corrupt BMP → null row
        (4, b"GIF89a" + b"\x00" * 4),     # corrupt GIF → null row
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r.doc_id: r for r in decode_media(df).collect()}
    assert got[1].media_type == "image/bmp"
    assert (got[1].width, got[1].height) == (w, h)
    assert got[1].checksum == int(np.frombuffer(rgb, np.uint8).sum())
    assert got[2].media_type == "image/gif"
    assert got[2].n_units == 3 * w * h
    assert got[2].checksum == 3 * int(np.frombuffer(idx, np.uint8).sum())
    assert got[3].media_type is None and got[4].media_type is None


def test_gif_lzw_end_code_width_boundary_fuzz():
    """Regression: the encoder must mirror the decoder's append-on-final-
    code before writing END — the decoder's table can hit 2^width − 1 on
    the last data code and bump its read width, and an END written at the
    old width then reads past the stream end (spurious 'truncated' on a
    valid GIF). Fuzz both the raw LZW kernel (min_code_size 2, the
    fastest-growing width schedule) and the full container path."""
    import random

    from enterprise_iot_bigdata_pipeline_spark.operators.gif import (
        _lzw_decode,
        _lzw_encode,
        encode_gif,
        parse_gif,
    )

    rnd = random.Random(11)
    for trial in range(400):
        n = rnd.randrange(200, 340)
        data = bytes(rnd.randrange(4) for _ in range(n))
        assert _lzw_decode(_lzw_encode(data, 2), 2) == data, f"trial {trial}"

    for trial in range(350):
        n = rnd.randrange(200, 300)
        data = bytes(rnd.randrange(256) for _ in range(n))
        img = parse_gif(encode_gif(1, n, data))
        assert img["pixels"] == b"".join(bytes((v, v, v)) for v in data), (
            f"container trial {trial}"
        )


def test_tiff_roundtrip_packbits_and_dispatch(spark):
    import struct

    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        _packbits_decode,
        decode_media,
        encode_tiff,
        parse_tiff,
    )

    # RGB + gray round-trips through the strip reader
    w, h = 7, 5
    rgb = bytes((13 * i + 5) % 256 for i in range(3 * w * h))
    assert parse_tiff(encode_tiff(w, h, rgb))["pixels"] == rgb
    gray = bytes((3 * i) % 256 for i in range(w * h))
    img = parse_tiff(encode_tiff(w, h, gray, gray=True))
    assert img["pixels"] == gray and (img["width"], img["height"]) == (w, h)

    # PackBits kernel: spec example semantics (literal run, repeat run,
    # -128 no-op), plus a crafted truncation
    comp = bytes([2, 0xAA, 0xBB, 0xCC, 0x80, 256 - 3, 0x11, 1, 0xDD, 0xEE])
    assert _packbits_decode(comp, 9) == bytes(
        [0xAA, 0xBB, 0xCC, 0x11, 0x11, 0x11, 0x11, 0xDD, 0xEE]
    )
    with pytest.raises(ValueError):
        _packbits_decode(bytes([5, 0x01]), 6)

    # big-endian (MM) PackBits single-strip gray file, built by hand
    data = bytes([7] * 10 + [1, 2, 3])  # 13 px: repeat run + literal run
    comp2 = bytes([256 - 9, 7, 2, 1, 2, 3])
    ifd = struct.pack(">H", 6)
    ifd += struct.pack(">HHII", 256, 4, 1, 13)
    ifd += struct.pack(">HHII", 257, 4, 1, 1)
    ifd += struct.pack(">HHII", 259, 3, 1, 32773 << 16)  # short in left bytes
    ifd += struct.pack(">HHII", 273, 4, 1, 8 + 2 + 6 * 12 + 4)
    ifd += struct.pack(">HHII", 277, 3, 1, 1 << 16)
    ifd += struct.pack(">HHII", 279, 4, 1, len(comp2))
    ifd += struct.pack(">I", 0)
    mm = b"MM\x00*" + struct.pack(">I", 8) + ifd + comp2
    img2 = parse_tiff(mm)
    assert img2["pixels"] == data and img2["width"] == 13

    # named gates + dispatch containment (compression 7 = JPEG-in-TIFF
    # stays gated; LZW is decoded natively since round 6 session 3)
    jpg_in_tiff = encode_tiff(2, 2, bytes(12)).replace(
        struct.pack("<HHII", 259, 3, 1, 1), struct.pack("<HHII", 259, 3, 1, 7), 1
    )
    with pytest.raises(NotImplementedError):
        parse_tiff(jpg_in_tiff)
    df = spark.createDataFrame(
        [(1, encode_tiff(w, h, rgb)), (2, jpg_in_tiff), (3, b"II*\x00" + b"\x00" * 3)],
        "doc_id long, content binary",
    )
    got = {r.doc_id: r for r in decode_media(df).collect()}
    assert got[1].media_type == "image/tiff"
    assert got[1].checksum == int(np.frombuffer(rgb, np.uint8).sum())
    assert got[2].media_type is None and got[3].media_type is None


def test_tiff_zero_count_tag_contained():
    """A recognized tag declaring count=0 must raise ValueError (the
    decode_media containment contract), never IndexError."""
    import struct

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        encode_tiff,
        parse_tiff,
    )

    good = encode_tiff(2, 2, bytes(12))
    bad = good.replace(
        struct.pack("<HHII", 256, 4, 1, 2), struct.pack("<HHII", 256, 4, 0, 2), 1
    )
    with pytest.raises(ValueError):
        parse_tiff(bad)


def test_tiff_lzw_code_sequence_pin_and_roundtrips():
    """TIFF 6.0 §13 LZW: pin the exact MSB-first bitstream for a tiny
    input derived by hand (codes Clear,7,258,8,EOI at 9 bits), then fuzz
    round-trips sized to cross the 511/1023 early-change boundaries, and
    the horizontal-predictor integration."""
    import random

    from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
        _tiff_apply_predictor,
        _tiff_lzw_decode,
        _tiff_lzw_encode,
        _tiff_undo_predictor,
        encode_tiff,
        parse_tiff,
    )

    # hand-derived: [7,7,7,8] → Clear(256),7,258(=77),8,EOI(257), 9 bits
    codes = [256, 7, 258, 8, 257]
    bits = "".join(format(c, "09b") for c in codes)
    bits += "0" * (-len(bits) % 8)
    expected = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    assert _tiff_lzw_encode(bytes([7, 7, 7, 8])) == expected
    assert _tiff_lzw_decode(expected, 4) == bytes([7, 7, 7, 8])

    rng = random.Random(7)
    for n in (1, 2, 255, 2000, 6000):
        # low-alphabet data builds table entries fast → crosses the
        # 9→10→11 bit early-change boundaries by n=6000
        data = bytes(rng.choice((0, 1, 2, 3)) for _ in range(n))
        assert _tiff_lzw_decode(_tiff_lzw_encode(data), n) == data
        hi = bytes(rng.randrange(256) for _ in range(n))
        assert _tiff_lzw_decode(_tiff_lzw_encode(hi), n) == hi

    # predictor kernel round-trip (w=5, spp=3, 4 rows)
    px = bytes(rng.randrange(256) for _ in range(5 * 3 * 4))
    assert _tiff_undo_predictor(_tiff_apply_predictor(px, 5, 3), 5, 3) == px

    # full-file round-trips: LZW alone and LZW+predictor, gray and RGB
    w, h = 9, 6
    rgb = bytes((17 * i + 3) % 256 for i in range(3 * w * h))
    gray = bytes((5 * i) % 256 for i in range(w * h))
    assert parse_tiff(encode_tiff(w, h, rgb, lzw=True))["pixels"] == rgb
    assert (
        parse_tiff(encode_tiff(w, h, rgb, lzw=True, predictor=True))["pixels"] == rgb
    )
    got = parse_tiff(encode_tiff(w, h, gray, gray=True, lzw=True, predictor=True))
    assert got["pixels"] == gray and (got["width"], got["height"]) == (w, h)
    # smooth gradients are where the predictor pays: deltas compress
    smooth = bytes((i // 3) % 256 for i in range(3 * w * h))
    plain = encode_tiff(w, h, smooth, lzw=True)
    pred = encode_tiff(w, h, smooth, lzw=True, predictor=True)
    assert len(pred) < len(plain)
    assert parse_tiff(pred)["pixels"] == smooth
