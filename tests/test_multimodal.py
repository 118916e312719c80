"""Multimodal plumbing: schema, batch shape, determinism, stub gating."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from flink_notebooks_spark.operators import multimodal as mm

# frame-index estimation when the container carries only a duration (mvhd
# has no frame count — that would need an stts/stsz walk): assume a nominal
# fps. Sampling INDICES scale linearly with fps, so a wrong nominal changes
# density, never correctness of the plumbing.
NOMINAL_FPS = 30


def frame_sample(df, id_col: str = "doc_id", every: int = 10, fake: bool = True):
    """video payload → one row per sampled frame index (explode-shaped
    mapInPandas). For containers whose header yields a REAL duration (MP4
    ``mvhd`` via sniff_header), ``n_frames = duration × NOMINAL_FPS`` — a
    header-derived count, no codec needed; otherwise the fake derives a
    count from payload length (``fake=False`` raises there, marking where
    ffmpeg/pyav would plug in)."""
    pruned = df.select(id_col, "payload")

    def run(batches):
        for pdf in batches:
            ids, frames = [], []
            for i, p in zip(pdf[id_col], pdf["payload"]):
                p = bytes(p)
                hdr = mm.sniff_header(p) if p else None
                if hdr is not None and hdr.get("duration_s"):
                    n_frames = max(1, int(hdr["duration_s"] * NOMINAL_FPS))
                elif not fake:
                    raise NotImplementedError(
                        "real frame sampling of containers without a parsed "
                        "duration needs ffmpeg/pyav"
                    )
                else:
                    n_frames = max(1, len(p) // 64)
                for k in range(0, n_frames, every):
                    ids.append(i)
                    frames.append(k)
            yield pd.DataFrame({id_col: ids, "frame_idx": frames})

    return pruned.mapInPandas(run, f"{id_col} long, frame_idx int")


def _payload_df(spark):
    return spark.createDataFrame(
        [(1, b"hello world"), (2, b"\x00\x01\x02" * 100), (3, b"")],
        "doc_id long, img binary",
    )


def test_attach_payload_meta(spark):
    df = mm.attach_payload(_payload_df(spark), "img", kind="image")
    row = {r["doc_id"]: r["meta"] for r in df.collect()}
    assert row[1]["kind"] == "image" and row[1]["n_bytes"] == 11
    assert row[3]["n_bytes"] == 0


def test_decode_deterministic_and_matches_hash(spark):
    df = mm.attach_payload(_payload_df(spark), "img")
    out = {r["doc_id"]: r for r in mm.decode(df).collect()}
    h = hashlib.sha256(b"hello world").digest()
    assert out[1]["width"] == 16 + h[0] % 240
    assert out[1]["height"] == 16 + h[1] % 240
    assert out[1]["channels"] == 1 + h[2] % 3
    assert out[1]["mean_intensity"] == pytest.approx(h[3] / 255.0)
    # rerun → identical (stable across partitionings)
    again = {r["doc_id"]: r for r in mm.decode(df.repartition(3)).collect()}
    assert {k: tuple(v) for k, v in out.items()} == {k: tuple(v) for k, v in again.items()}


def test_extract_features_width(spark):
    df = mm.attach_payload(_payload_df(spark), "img")
    rows = mm.extract_features(df).collect()
    assert all(len(r["features"]) == mm.N_FEATURES for r in rows)
    assert all(0.0 <= v <= 1.0 for r in rows for v in r["features"])


def test_frame_sample_counts(spark):
    df = mm.attach_payload(_payload_df(spark), "img")
    rows = frame_sample(df, every=2).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # 300-byte payload → 4 frames → sampled 0,2
    assert sorted(by_id[2]) == [0, 2]
    # empty payload still yields frame 0
    assert by_id[3] == [0]


def test_real_decode_is_marked_not_implemented(spark):
    df = mm.attach_payload(_payload_df(spark), "img")
    with pytest.raises(Exception, match="NotImplementedError|pixel/sample decode"):
        mm.decode(df, fake=False).collect()


# --- real container-header parsing (no codec library needed) ----------------
# Hand-built headers, byte-for-byte per the public specs: PNG (ISO 15948
# §5.2/§11.2.2), JPEG (ITU T.81 B.2.2 SOFn), GIF89a (logical screen
# descriptor), WAV (RIFF fmt chunk).

import struct


def _png(w, h, color_type=6):
    ihdr = struct.pack(">II", w, h) + bytes([8, color_type, 0, 0, 0])
    return b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr + b"\x00" * 4


def _jpeg(w, h, ncomp=3):
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    dht = b"\xff\xc4" + struct.pack(">H", 4) + b"\x00\x00"  # must be skipped
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h, w, ncomp)
    return b"\xff\xd8" + app0 + dht + sof0 + b"\x00" * 3 * ncomp


def _gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"


def _wav(n_ch, rate):
    junk = b"JUNK" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd size → pad byte
    fmt = b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, 16)
    body = b"WAVE" + junk + fmt
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_sniff_header_png_jpeg_gif_wav():
    assert mm.sniff_header(_png(640, 480, color_type=6)) == {
        "fmt": "png", "kind": "image", "width": 640, "height": 480,
        "channels": 4, "sample_rate": None, "duration_s": None,
    }
    assert mm.sniff_header(_png(1, 99999, color_type=0))["channels"] == 1
    assert mm.sniff_header(_jpeg(222, 333)) == {
        "fmt": "jpeg", "kind": "image", "width": 222, "height": 333,
        "channels": 3, "sample_rate": None, "duration_s": None,
    }
    assert mm.sniff_header(_gif(320, 200)) == {
        "fmt": "gif", "kind": "image", "width": 320, "height": 200,
        "channels": 3, "sample_rate": None, "duration_s": None,
    }
    assert mm.sniff_header(_wav(2, 44100)) == {
        "fmt": "wav", "kind": "audio", "width": None, "height": None,
        "channels": 2, "sample_rate": 44100, "duration_s": None,
    }


def test_sniff_header_rejects_unknown_and_corrupt():
    assert mm.sniff_header(b"hello world") is None
    assert mm.sniff_header(b"") is None
    # known magic, truncated body → undecodable, never a crash
    assert mm.sniff_header(_png(640, 480)[:12]) is None
    assert mm.sniff_header(b"\xff\xd8\xff") is None
    assert mm.sniff_header(_wav(2, 44100)[:14]) is None
    # JPEG that desyncs (garbage between segments) → None
    assert mm.sniff_header(b"\xff\xd8\x00\x00\x00") is None


def test_decode_uses_real_headers_through_spark(spark):
    rows = [
        (1, _png(640, 480)),
        (2, _jpeg(222, 333)),
        (3, _gif(320, 200)),
        (4, _wav(2, 44100)),
        (5, b"not a container"),
    ]
    df = mm.attach_payload(
        spark.createDataFrame(rows, "doc_id long, img binary"), "img"
    )
    out = {r["doc_id"]: r for r in mm.decode(df).collect()}
    assert (out[1]["fmt"], out[1]["width"], out[1]["height"]) == ("png", 640, 480)
    assert (out[2]["fmt"], out[2]["width"], out[2]["height"]) == ("jpeg", 222, 333)
    assert (out[3]["fmt"], out[3]["width"], out[3]["height"]) == ("gif", 320, 200)
    assert (out[4]["fmt"], out[4]["channels"], out[4]["sample_rate"]) == ("wav", 2, 44100)
    assert out[5]["fmt"] == "unknown"  # hash-derived fallback

    # fake=False: known containers decode headers for real (pixel stat NULL);
    # the run only raises on unknown magics
    known = df.filter("doc_id < 5")
    real = {r["doc_id"]: r for r in mm.decode(known, fake=False).collect()}
    assert real[1]["width"] == 640 and real[1]["mean_intensity"] is None
    with pytest.raises(Exception, match="NotImplementedError|pixel/sample decode"):
        mm.decode(df, fake=False).collect()


# --- MP4 (ISO-BMFF 14496-12: ftyp + moov/mvhd + trak/tkhd) and MP3 ----------

def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _mvhd(timescale, duration, version=0):
    if version:
        body = bytes([1, 0, 0, 0]) + b"\x00" * 16 + struct.pack(
            ">IQ", timescale, duration
        )
    else:
        body = bytes([0, 0, 0, 0]) + b"\x00" * 8 + struct.pack(
            ">II", timescale, duration
        )
    return _box(b"mvhd", body + b"\x00" * 80)  # rate/volume/matrix padding


def _tkhd(w, h, version=0):
    # version/flags + (v0: 2×u32 times, u32 id, u32 rsvd, u32 duration;
    # v1: 2×u64 times, u32 id, u32 rsvd, u64 duration) + 8 rsvd + layer/
    # group/volume/rsvd (8) + matrix (36) + width/height as 16.16
    lead = 20 if version == 0 else 32
    body = (
        bytes([version, 0, 0, 0]) + b"\x00" * lead + b"\x00" * 8 + b"\x00" * 8
        + b"\x00" * 36 + struct.pack(">II", w << 16, h << 16)
    )
    return _box(b"tkhd", body)


def _mp4(w=1920, h=1080, timescale=600, duration=6000, version=0, audio_first=True):
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    traks = []
    if audio_first:  # an audio trak carries 0x0 — must be skipped
        traks.append(_box(b"trak", _tkhd(0, 0, version)))
    traks.append(_box(b"trak", _tkhd(w, h, version)))
    moov = _box(b"moov", _mvhd(timescale, duration, version) + b"".join(traks))
    return ftyp + moov + _box(b"mdat", b"\x00" * 32)


def _mp3(mono=False, mpeg1=True, id3_size=0):
    # frame header: sync FFE + version/layer bits + rate index 0 + mode
    b1 = 0xE0 | ((3 if mpeg1 else 2) << 3) | (1 << 1)  # Layer III
    b3 = 0xC0 if mono else 0x00
    frame = bytes([0xFF, b1, 0x00, b3]) + b"\x00" * 16
    if id3_size:
        tag = b"ID3\x04\x00\x00" + bytes(
            [(id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
             (id3_size >> 7) & 0x7F, id3_size & 0x7F]
        ) + b"\x00" * id3_size
        return tag + frame
    return frame


def test_sniff_header_mp4_mvhd_tkhd():
    got = mm.sniff_header(_mp4())
    assert got == {
        "fmt": "mp4", "kind": "video", "width": 1920, "height": 1080,
        "channels": None, "sample_rate": None, "duration_s": 10.0,
    }
    # version-1 boxes (64-bit times) read at their shifted offsets
    v1 = mm.sniff_header(_mp4(w=640, h=360, timescale=90000, duration=45000, version=1))
    assert (v1["width"], v1["height"], v1["duration_s"]) == (640, 360, 0.5)
    # audio-only ISO-BMFF (M4A: no visual trak, every tkhd 0×0) → audio
    ftyp = _box(b"ftyp", b"M4A \x00\x00\x02\x00isom")
    moov = _box(b"moov", _mvhd(600, 3000) + _box(b"trak", _tkhd(0, 0)))
    m4a = mm.sniff_header(ftyp + moov)
    assert m4a["kind"] == "audio" and m4a["duration_s"] == 5.0
    assert m4a["width"] is None


def test_sniff_header_mp4_truncation_and_malformed():
    full = _mp4()
    assert mm.sniff_header(full[:16]) is None  # ftyp magic, no moov
    # truncating into moov loses mvhd/tkhd → undecodable, never a crash
    assert mm.sniff_header(full[:40]) is None
    # a box whose declared size is smaller than its header stops the walk:
    # corrupting mvhd's SIZE field (first box inside moov, at offset 32)
    # kills the whole moov parse → None, never a crash or a bogus read
    bad = full[:32] + struct.pack(">I", 3) + full[36:]
    assert mm.sniff_header(bad) is None


def test_sniff_header_mp3_variants():
    assert mm.sniff_header(_mp3()) == {
        "fmt": "mp3", "kind": "audio", "width": None, "height": None,
        "channels": 2, "sample_rate": 44100, "duration_s": None,
    }
    assert mm.sniff_header(_mp3(mono=True))["channels"] == 1
    assert mm.sniff_header(_mp3(mpeg1=False))["sample_rate"] == 22050
    # ID3v2-tagged stream: syncsafe size skip lands on the first frame
    tagged = mm.sniff_header(_mp3(id3_size=200))
    assert tagged is not None and tagged["fmt"] == "mp3"
    # tag promising a frame past EOF → None, not a crash
    assert mm.sniff_header(_mp3(id3_size=200)[:150]) is None
    # reserved version bits (0b01) are not MP3: 0xEA = sync|ver=01|layer=III
    assert mm.sniff_header(bytes([0xFF, 0xEA, 0, 0]) + b"\x00" * 8) is None


def test_frame_sample_derives_count_from_mvhd_duration(spark):
    # 10 s at NOMINAL_FPS=30 → 300 frames → every 60th = indices 0..240
    df = mm.attach_payload(
        spark.createDataFrame([(1, _mp4()), (2, b"\x00" * 300)], "doc_id long, img binary"),
        "img", kind="video",
    )
    rows = frame_sample(df, every=60).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert sorted(by_id[1]) == [0, 60, 120, 180, 240]
    # non-container payloads keep the length-derived fake under fake=True
    assert sorted(by_id[2]) == [0]
    # ...and honestly refuse under fake=False while the MP4 still works
    df_mp4_only = mm.attach_payload(
        spark.createDataFrame([(1, _mp4())], "doc_id long, img binary"), "img", kind="video"
    )
    real = frame_sample(df_mp4_only, every=60, fake=False).collect()
    assert len(real) == 5
    import pytest as _pytest

    with _pytest.raises(Exception, match="NotImplementedError|frame sampling"):
        frame_sample(df, every=60, fake=False).collect()


def _flac(rate=44100, ch=2, bits=16, total=441_000, first_type=0, blk_len=34):
    packed = (rate << 44) | ((ch - 1) << 41) | ((bits - 1) << 36) | total
    return (
        b"fLaC"
        + bytes([0x80 | first_type])
        + blk_len.to_bytes(3, "big")
        + b"\x00" * 10  # block/frame size fields
        + packed.to_bytes(8, "big")
        + b"\x00" * 16  # md5 signature
    )


def _ogg(ident: bytes) -> bytes:
    # one Ogg page: 27-byte header, nseg=1, one segment holding `ident`
    return (
        b"OggS" + b"\x00" + b"\x02" + b"\x00" * 20
        + bytes([1, len(ident)])
        + ident
    )


def test_sniff_header_flac_streaminfo():
    from flink_notebooks_spark.operators.multimodal import sniff_header

    got = sniff_header(_flac())
    assert got == {
        "fmt": "flac", "kind": "audio", "width": None, "height": None,
        "channels": 2, "sample_rate": 44100, "duration_s": 10.0,
    }
    # unknown total samples (0) -> duration None
    assert sniff_header(_flac(total=0))["duration_s"] is None
    # malformed: first block not STREAMINFO / short block / zero rate /
    # truncated magic-only payload
    assert sniff_header(_flac(first_type=4)) is None
    assert sniff_header(_flac(blk_len=20)) is None
    assert sniff_header(_flac(rate=0)) is None
    assert sniff_header(b"fLaC\x80") is None


def test_sniff_header_ogg_vorbis_and_opus():
    from flink_notebooks_spark.operators.multimodal import sniff_header

    vorbis = (
        b"\x01vorbis" + (0).to_bytes(4, "little")
        + bytes([2]) + (44100).to_bytes(4, "little") + b"\x00" * 13
    )
    got = sniff_header(_ogg(vorbis))
    assert (got["fmt"], got["kind"], got["channels"], got["sample_rate"]) == (
        "ogg-vorbis", "audio", 2, 44100,
    )
    opus = (
        b"OpusHead" + bytes([1, 1]) + (312).to_bytes(2, "little")
        + (48000).to_bytes(4, "little") + b"\x00" * 10
    )
    got = sniff_header(_ogg(opus))
    assert (got["fmt"], got["channels"], got["sample_rate"]) == (
        "ogg-opus", 1, 48000,
    )
    # OggS magic with an unreadable codec ident / truncation -> None
    assert sniff_header(_ogg(b"\x03somethingelse" + b"\x00" * 20)) is None
    assert sniff_header(b"OggS\x00\x02") is None
