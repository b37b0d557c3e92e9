"""Round-9 regressions: ADVICE r8 fixes.

1. fMP4 non-first traf WITHOUT explicit base-data-offset and WITHOUT the
   default-base-is-moof flag: ISO 14496-12 defaults its base to the END
   of the previous traf's data (classic multi-traf video+audio muxes).
   The r8 resolver wrongly defaulted every traf to the moof start.
2. Hybrid layout (populated stbl AND moof fragments): the fragments'
   samples must be appended, not silently dropped.
3. Scan-check error rows must fail the gate, not slide under the cap.
4. with_bucketed_prefix(agg='sum') rejects non-exact value types (double
   sums reassociate and break the single-window oracle equality).
"""

from __future__ import annotations

import struct

import pytest


def _mjpeg_frames(n=3, w=8, h=8):
    import numpy as np

    from enterprise_iot_bigdata_pipeline_spark.operators.jpeg import encode_jpeg

    return [
        encode_jpeg(w, h, bytes((np.arange(w * h * 3) * (i + 1) % 256).astype("uint8")))
        for i in range(n)
    ]


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def _full(tag: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags) + payload)


def _two_traf_moof(frames, decoy: bytes, decoy_trun_flags=0x000201):
    """moof with traf#1 for (non-video) track 2 covering `decoy` bytes and
    traf#2 for video track 1 covering `frames` — traf#2 carries NEITHER an
    explicit base NOR default-base-is-moof, so its spec base is the END of
    traf#1's data."""
    mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", 1))

    # traf#1 (decoy track): first traf, no base/dbim -> base = moof start.
    t1_trun_body = struct.pack(">I", 1)
    if decoy_trun_flags & 0x1:
        t1_trun_body += struct.pack(">i", 0)  # patched below
    if decoy_trun_flags & 0x200:
        t1_trun_body += struct.pack(">I", len(decoy))
    t1 = _box(
        b"traf",
        _full(b"tfhd", 0, 0, struct.pack(">I", 2))
        + _full(b"trun", 0, decoy_trun_flags, t1_trun_body),
    )

    # traf#2 (video track 1): no base, no dbim, NOT first -> base must be
    # the end of traf#1's data (= moof start + data_offset1 + len(decoy)).
    t2_trun_body = (
        struct.pack(">I", len(frames))
        + struct.pack(">i", 0)  # continue exactly at previous traf's end
        + b"".join(struct.pack(">I", len(f)) for f in frames)
    )
    t2 = _box(
        b"traf",
        _full(b"tfhd", 0, 0, struct.pack(">I", 1))
        + _full(b"trun", 0, 0x000201, t2_trun_body),
    )

    moof_size = 8 + len(mfhd) + len(t1) + len(t2)
    moof = bytearray(_box(b"moof", mfhd + t1 + t2))
    if decoy_trun_flags & 0x1:
        # patch traf#1's data_offset to point at mdat payload start
        j = bytes(moof).find(b"trun")
        moof[j + 12 : j + 16] = struct.pack(">i", moof_size + 8)
    mdat = _box(b"mdat", decoy + b"".join(frames))
    return bytes(moof), mdat


class TestFmp4TrafBaseDefaults:
    def _header(self, frames):
        from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
            encode_mp4_mjpeg_fragmented,
        )

        whole = encode_mp4_mjpeg_fragmented(8, 8, frames)
        j = whole.find(b"moof")
        return whole[: j - 4]  # ftyp + moov (with mvex/trex)

    def test_non_first_traf_defaults_to_previous_traf_end(self):
        from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
            parse_mp4_samples,
        )

        frames = _mjpeg_frames(3)
        decoy = b"\xaa" * 13  # track-2 bytes ahead of the video frames
        moof, mdat = _two_traf_moof(frames, decoy)
        got = parse_mp4_samples(self._header(frames) + moof + mdat)
        # r8 behavior (base = moof start for every traf) would slice 13
        # bytes early and return garbage; spec default returns the frames.
        assert got["frames"] == frames
        assert got["layout"] == "fragmented"

    def test_unresolvable_previous_traf_fails_loudly(self):
        from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
            parse_mp4_samples,
        )

        frames = _mjpeg_frames(2)
        # decoy traf's trun has NO data offset (continue-previous) -> its
        # data end is unknowable; the dependent video traf must raise, not
        # silently guess a base.
        moof, mdat = _two_traf_moof(frames, b"\xaa" * 13, decoy_trun_flags=0x000200)
        with pytest.raises(ValueError, match="previous traf"):
            parse_mp4_samples(self._header(frames) + moof + mdat)


class TestHybridStblPlusFragments:
    def test_fragment_frames_appended_after_stbl(self):
        from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
            encode_mp4_mjpeg,
            parse_mp4_samples,
        )

        frames = _mjpeg_frames(5)
        head = encode_mp4_mjpeg(8, 8, frames[:3])  # populated stbl movie
        # one dbim-addressed fragment carrying the remaining two frames
        tail = frames[3:]
        mfhd = _full(b"mfhd", 0, 0, struct.pack(">I", 1))
        trun_body = (
            struct.pack(">I", len(tail))
            + struct.pack(">i", 0)  # patched below
            + b"".join(struct.pack(">I", len(f)) for f in tail)
        )
        traf = _box(
            b"traf",
            _full(b"tfhd", 0, 0x020000, struct.pack(">I", 1))
            + _full(b"trun", 0, 0x000201, trun_body),
        )
        moof = bytearray(_box(b"moof", mfhd + traf))
        j = bytes(moof).find(b"trun")
        moof[j + 12 : j + 16] = struct.pack(">i", len(moof) + 8)
        payload = head + bytes(moof) + _box(b"mdat", b"".join(tail))

        got = parse_mp4_samples(payload)
        assert got["layout"] == "hybrid"
        assert got["frames"] == frames  # stbl 3 + fragment 2, in order

    def test_pure_stbl_layout_unchanged(self):
        from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
            encode_mp4_mjpeg,
            parse_mp4_samples,
        )

        frames = _mjpeg_frames(3)
        got = parse_mp4_samples(encode_mp4_mjpeg(8, 8, frames))
        assert got["layout"] == "stbl"
        assert got["frames"] == frames


class TestScanAuditErrors:
    def test_error_rows_counted_as_failures(self, spark):
        # a query that throws during plan build must fail the scan check,
        # not slide under the cap it was supposed to be gated by
        from tools.gate import run

        def ok_query(spark, sf_dir):
            return spark.read.parquet(f"{sf_dir}/orders.parquet")

        def broken(spark, sf_dir):
            raise RuntimeError("boom")

        report = run(spark, ["scan"], queries={"ok_query": ok_query, "broken": broken})
        assert [name for _, _, name, _ in report.unexempted()] == ["broken"]
        assert "boom" in report.problems()[0]


class TestPrefixExactTypeGuard:
    def test_double_sum_rejected(self, spark):
        from enterprise_iot_bigdata_pipeline_spark.operators.prefix import (
            with_bucketed_prefix,
        )

        df = spark.createDataFrame([(1.0, 2.5)], "v double, c double")
        with pytest.raises(TypeError, match="exact numeric"):
            with_bucketed_prefix(df, "v", "c", agg="sum", out_inclusive="x")

    def test_decimal_and_long_sums_accepted(self, spark):
        from enterprise_iot_bigdata_pipeline_spark.operators.prefix import (
            with_bucketed_prefix,
        )

        df = spark.createDataFrame([(1.0, 2), (2.0, 3)], "v double, c long")
        out = with_bucketed_prefix(df, "v", "c", agg="sum", out_inclusive="x")
        assert {r["x"] for r in out.collect()} == {2, 5}
        ddf = df.selectExpr("v", "cast(c as decimal(20,2)) as c")
        out2 = with_bucketed_prefix(ddf, "v", "c", agg="sum", out_inclusive="x")
        assert out2.count() == 2

    def test_double_max_still_allowed(self, spark):
        from enterprise_iot_bigdata_pipeline_spark.operators.prefix import (
            with_bucketed_prefix,
        )

        df = spark.createDataFrame([(1.0, 2.5), (2.0, 1.5)], "v double, c double")
        out = with_bucketed_prefix(df, "v", "c", agg="max", out_inclusive="x")
        assert {r["x"] for r in out.collect()} == {2.5}


class _BitWriter:
    """MSB-first bit writer with Exp-Golomb, mirror of the parser."""

    def __init__(self):
        self.bits = []

    def u(self, n, v):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def ue(self, v):
        k = v + 1
        n = k.bit_length()
        self.u(n - 1, 0)
        self.u(n, k)

    def bytes(self):
        # rbsp trailing: stop bit + pad zeros
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        return bytes(
            int("".join(map(str, bits[i : i + 8])), 2) for i in range(0, len(bits), 8)
        )


def _make_sps(width_mbs, height_units, frame_mbs_only=1, crops=(0, 0, 0, 0),
              profile=66, level=30):
    w = _BitWriter()
    w.u(8, profile)
    w.u(8, 0)       # constraint flags
    w.u(8, level)
    w.ue(0)         # seq_parameter_set_id
    if profile in (100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135):
        w.ue(1)     # chroma_format_idc 4:2:0
        w.ue(0)     # bit_depth_luma_minus8
        w.ue(0)     # bit_depth_chroma_minus8
        w.u(1, 0)   # qpprime bypass
        w.u(1, 0)   # no scaling matrix
    w.ue(0)         # log2_max_frame_num_minus4
    w.ue(2)         # pic_order_cnt_type = 2 (simplest)
    w.ue(1)         # max_num_ref_frames
    w.u(1, 0)       # gaps allowed
    w.ue(width_mbs - 1)
    w.ue(height_units - 1)
    w.u(1, frame_mbs_only)
    if not frame_mbs_only:
        w.u(1, 0)   # mb_adaptive
    w.u(1, 0)       # direct_8x8_inference
    if any(crops):
        w.u(1, 1)
        for c in crops:
            w.ue(c)
    else:
        w.u(1, 0)
    w.u(1, 0)       # vui absent
    return b"\x67" + w.bytes()  # NAL header: type 7 (SPS)


def _make_avcc(sps, pps=b"\x68\xce\x38\x80"):
    import struct

    return (
        bytes([1, sps[1], sps[2], sps[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps)) + sps
        + bytes([1]) + struct.pack(">H", len(pps)) + pps
    )


class TestH264Config:
    def test_sps_vga_baseline(self):
        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import parse_sps

        info = parse_sps(_make_sps(40, 30))
        assert (info["width"], info["height"]) == (640, 480)
        assert info["profile_idc"] == 66 and info["level_idc"] == 30
        assert info["chroma_format_idc"] == 1

    def test_sps_1080p_cropped_high_profile(self):
        # 1920x1088 macroblock grid, bottom crop 4 units (8 luma px at
        # 4:2:0 progressive) -> the REAL 1080 the container never shows
        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import parse_sps

        info = parse_sps(_make_sps(120, 68, crops=(0, 0, 0, 4), profile=100))
        assert (info["width"], info["height"]) == (1920, 1080)
        assert info["profile_idc"] == 100

    def test_sps_emulation_prevention_stripped(self):
        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import (
            _strip_emulation,
        )

        assert _strip_emulation(b"\x00\x00\x03\x01") == b"\x00\x00\x01"
        assert _strip_emulation(b"\x00\x00\x03\x03") == b"\x00\x00\x03"
        assert _strip_emulation(b"\x01\x02\x03") == b"\x01\x02\x03"

    def test_avcc_roundtrip(self):
        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import parse_avcc

        sps = _make_sps(40, 30)
        cfg = parse_avcc(_make_avcc(sps))
        assert cfg["profile_idc"] == 66 and cfg["nal_length_size"] == 4
        assert cfg["sps"] == [sps] and len(cfg["pps"]) == 1

    def test_sps_headerless_profile135_not_misstripped(self):
        # profile_idc 135 has low 5 bits == 7: a bare `& 0x1F == 7` header
        # test would strip it as a NAL header and garbage the parse. The
        # heuristic only strips well-formed SPS headers (0x67/0x47/0x27).
        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import parse_sps

        body = _make_sps(40, 30, profile=135)[1:]  # drop the real header
        for kwargs in ({}, {"has_nal_header": False}):
            info = parse_sps(body, **kwargs)
            assert info["profile_idc"] == 135
            assert (info["width"], info["height"]) == (640, 480)

    def test_sps_explicit_header_flag_overrides_heuristic(self):
        # a header-less SPS whose profile_idc collides with a header byte
        # (103 == 0x67) parses correctly when the caller says so
        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import parse_sps

        body = _make_sps(40, 30, profile=103)[1:]
        assert body[0] == 0x67
        info = parse_sps(body, has_nal_header=False)
        assert info["profile_idc"] == 103
        assert (info["width"], info["height"]) == (640, 480)

    def test_avcc_reserved_length_size_raises(self):
        # lengthSizeMinusOne == 2 is reserved (ISO 14496-15 §5.3.3.1.2)
        import pytest

        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import parse_avcc

        rec = bytearray(_make_avcc(_make_sps(40, 30)))
        rec[4] = 0xFC | 2
        with pytest.raises(ValueError, match="lengthSizeMinusOne"):
            parse_avcc(bytes(rec))

    def test_avcc_truncated_raises_valueerror(self):
        import pytest

        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import parse_avcc

        sps = _make_sps(40, 30)
        rec = _make_avcc(sps)
        with pytest.raises(ValueError):
            parse_avcc(rec[: len(rec) - 3])
        with pytest.raises(ValueError, match="configurationVersion"):
            parse_avcc(b"\x02" + rec[1:])

    def test_container_walk_finds_avcc(self):
        # splice an avc1 sample entry (with avcC) into the MJPEG encoder's
        # stsd: the walk must find it through moov/trak/mdia/minf/stbl
        import struct

        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import (
            parse_h264_config,
        )
        from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
            encode_mp4_mjpeg,
        )

        def box(tag, payload):
            return struct.pack(">I", 8 + len(payload)) + tag + payload

        sps = _make_sps(80, 45)  # 1280x720
        avcc = box(b"avcC", _make_avcc(sps))
        entry = (
            b"\x00" * 6 + struct.pack(">H", 1)
            + struct.pack(">HH", 0, 0) + b"\x00" * 12
            + struct.pack(">HH", 1280, 720)
            + struct.pack(">II", 0x00480000, 0x00480000)
            + struct.pack(">I", 0) + struct.pack(">H", 1)
            + b"\x04avc1" + b"\x00" * 27
            + struct.pack(">Hh", 24, -1)
        )
        assert len(entry) == 78
        avc1 = box(b"avc1", entry + avcc)

        payload = bytearray(encode_mp4_mjpeg(8, 8, _mjpeg_frames(1)))
        j = bytes(payload).find(b"stsd")
        (old_size,) = struct.unpack(">I", payload[j - 4 : j])
        old_body = bytes(payload[j + 4 : j - 4 + old_size])
        new_stsd = box(b"stsd", old_body[:8] + avc1)  # version/flags + count=1
        # patch every enclosing box size by the delta, then swap the stsd
        delta = len(new_stsd) - old_size
        data = bytes(payload)
        out = data[: j - 4] + new_stsd + data[j - 4 + old_size :]
        fixed = bytearray(out)
        for tag in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
            k = out.find(tag)
            (sz,) = struct.unpack(">I", fixed[k - 4 : k])
            fixed[k - 4 : k] = struct.pack(">I", sz + delta)
        cfg = parse_h264_config(bytes(fixed))
        assert cfg["sps_info"]["width"] == 1280
        assert cfg["sps_info"]["height"] == 720
        assert cfg["nal_length_size"] == 4

    def test_non_avc_mp4_raises_valueerror(self):
        import pytest

        from enterprise_iot_bigdata_pipeline_spark.operators.h264 import (
            parse_h264_config,
        )
        from enterprise_iot_bigdata_pipeline_spark.operators.multimodal import (
            encode_mp4_mjpeg,
        )

        with pytest.raises(ValueError, match="avc1"):
            parse_h264_config(encode_mp4_mjpeg(8, 8, _mjpeg_frames(1)))
