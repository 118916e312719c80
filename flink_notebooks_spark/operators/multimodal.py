"""Multimodal columns: opaque binary payloads + typed metadata + decode plumbing.

Design (per the 100 TB pipeline contract): image/audio/video payloads ride as
``binary`` columns with a typed metadata struct; decode and feature
extraction run as Arrow-batched ``mapInPandas`` stages so the payload bytes
never leave the executors and each Python batch amortizes serialization.

Decode is two-layered:

* **Container headers are parsed for real** (``sniff_header``) — PNG IHDR,
  JPEG SOFn, GIF logical screen descriptor, the WAV ``fmt `` chunk, the
  ISO-BMFF (MP4) ``mvhd``/``tkhd`` boxes (timescale, duration, track
  dimensions), and the MP3 frame header (version/layer/rate/mode bits, with
  ID3v2 tag skip) are pure-stdlib ``struct`` reads, so width/height/channels/
  sample_rate/duration need no codec library at all. This is the layer a
  100 TB curation pipeline actually filters on (resolution gates,
  aspect-ratio gates, sample-rate gates, duration gates).
* **Pixel/sample decode is STUBBED** — image/audio codec libraries are not
  available in this environment. With ``fake=True`` (default) pixel-level
  stats are deterministic synthetic values derived from the payload hash
  (stable across runs/partitionings, so tests can assert exact values); with
  ``fake=False`` an unknown container raises ``NotImplementedError`` marking
  exactly where PIL/librosa/ffmpeg would plug in, while known containers
  still return their real header fields (pixel stats NULL).

Everything else — schemas, batch iteration, partitioning, column pruning —
is real Spark plumbing.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# metadata struct carried alongside every payload
META_DDL = (
    "kind string, fmt string, width int, height int, "
    "sample_rate int, n_frames int, n_bytes long"
)

N_FEATURES = 8  # fixed feature-vector width emitted by extract_features


# PNG color type → samples per pixel (PNG spec §11.2.2)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# JPEG SOFn markers: C0–CF minus DHT (C4), JPGn (C8), DAC (CC)
_JPEG_SOF = {m for m in range(0xC0, 0xD0)} - {0xC4, 0xC8, 0xCC}
# MPEG audio sample rates by version bits (ISO 11172-3 / 13818-3):
# version field 3=MPEG1, 2=MPEG2, 0=MPEG2.5 (1 is reserved)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000), 0: (11025, 12000, 8000)}


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for ISO-BMFF boxes in
    buf[start:end] (ISO 14496-12 §4.2: u32 size + 4cc, size==1 → u64
    largesize, size==0 → to end). Stops on any malformed size."""
    pos = start
    while pos + 8 <= end:
        size, btype = struct.unpack(">I4s", buf[pos : pos + 8])
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                return
            size = struct.unpack(">Q", buf[pos + 8 : pos + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr:  # malformed — a box can't be smaller than its header
            return
        yield btype, pos + hdr, min(pos + size, end)
        pos += size


def sniff_header(payload: bytes) -> dict | None:
    """Parse REAL container headers with stdlib ``struct`` only — no codec
    library. Returns ``{"fmt", "kind", "width", "height", "channels",
    "sample_rate", "duration_s"}`` (absent fields None) for PNG / JPEG /
    GIF / WAV / MP4 (ISO-BMFF ``mvhd``/``tkhd``) / MP3 / FLAC (STREAMINFO)
    / Ogg (Vorbis + Opus identification headers) payloads, None for
    unknown magics. Malformed payloads with a known magic also return None
    (treated as undecodable, not as a crash — at 100 TB a corrupt file must
    never kill the stage)."""
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
            # 8-byte signature, 4-byte length, 'IHDR', then w/h (u32 BE),
            # bit depth, color type
            w, h = struct.unpack(">II", payload[16:24])
            color_type = payload[25]
            return {
                "fmt": "png", "kind": "image", "width": w, "height": h,
                "channels": _PNG_CHANNELS.get(color_type), "sample_rate": None,
                "duration_s": None,
            }
        if payload[:2] == b"\xff\xd8":  # JPEG SOI; walk segments to SOFn
            pos = 2
            while pos + 4 <= len(payload):
                if payload[pos] != 0xFF:
                    return None  # desynced — not a well-formed stream
                marker = payload[pos + 1]
                if marker == 0xFF:  # fill byte
                    pos += 1
                    continue
                if marker in (0x01, *range(0xD0, 0xD8)):  # standalone markers
                    pos += 2
                    continue
                seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
                if seg_len < 2:  # length includes its own 2 bytes; less is
                    return None  # malformed — don't mis-sync into payload
                if marker in _JPEG_SOF:
                    # SOFn: precision u8, height u16 BE, width u16 BE, ncomp u8
                    h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
                    return {
                        "fmt": "jpeg", "kind": "image", "width": w, "height": h,
                        "channels": payload[pos + 9], "sample_rate": None,
                        "duration_s": None,
                    }
                pos += 2 + seg_len
            return None
        if payload[:6] in (b"GIF87a", b"GIF89a"):
            # logical screen descriptor: w/h u16 LE at offset 6
            w, h = struct.unpack("<HH", payload[6:10])
            return {
                "fmt": "gif", "kind": "image", "width": w, "height": h,
                "channels": 3, "sample_rate": None,  # palette entries are RGB
                "duration_s": None,
            }
        if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
            pos = 12  # walk chunks to 'fmt ' (sizes pad to even)
            while pos + 8 <= len(payload):
                cid, size = payload[pos : pos + 4], struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
                if cid == b"fmt ":
                    if size < 16:  # PCM fmt chunk is ≥16 bytes; a shorter
                        return None  # declared size would read the NEXT
                        # chunk's bytes as channels/rate — malformed → None
                    n_ch, rate = struct.unpack("<HI", payload[pos + 10 : pos + 16])
                    return {
                        "fmt": "wav", "kind": "audio", "width": None, "height": None,
                        "channels": n_ch, "sample_rate": rate,
                        "duration_s": None,
                    }
                pos += 8 + size + (size & 1)
            return None
        if len(payload) >= 12 and payload[4:8] == b"ftyp":
            # ISO-BMFF (MP4/MOV): walk top-level boxes to moov, read mvhd's
            # timescale+duration (version 0: u32 pair after 8 bytes of
            # ctime/mtime; version 1: u32+u64 after u64 pair) and the first
            # visual trak's tkhd width/height (16.16 fixed point at +76 (v0)
            # / +88 (v1) into the box payload) — pure big-endian reads
            width = height = None
            duration = None
            for btype, s, e in _mp4_boxes(payload, 0, len(payload)):
                if btype != b"moov":
                    continue
                for bt2, s2, e2 in _mp4_boxes(payload, s, e):
                    if bt2 == b"mvhd" and duration is None:
                        if payload[s2] == 1:
                            tscale, dur = struct.unpack(
                                ">IQ", payload[s2 + 20 : s2 + 32]
                            )
                        else:
                            tscale, dur = struct.unpack(
                                ">II", payload[s2 + 12 : s2 + 20]
                            )
                        if tscale:
                            duration = dur / tscale
                    elif bt2 == b"trak" and width is None:
                        for bt3, s3, _e3 in _mp4_boxes(payload, s2, e2):
                            if bt3 == b"tkhd":
                                off = s3 + (88 if payload[s3] == 1 else 76)
                                w16, h16 = struct.unpack(
                                    ">II", payload[off : off + 8]
                                )
                                if w16 and h16:  # audio traks carry 0×0
                                    width, height = w16 >> 16, h16 >> 16
            if duration is None and width is None:
                return None  # ftyp magic but no readable moov — malformed
            # no visual trak (every tkhd 0×0) = audio-only ISO-BMFF (M4A):
            # classify by the same signal the 0×0-skip above already reads
            return {
                "fmt": "mp4", "kind": "video" if width is not None else "audio",
                "width": width, "height": height,
                "channels": None, "sample_rate": None, "duration_s": duration,
            }
        if payload[:4] == b"fLaC":
            # FLAC: 4-byte magic, then metadata blocks; the FIRST must be
            # STREAMINFO (type 0, 34 bytes). Its tail packs, big-endian:
            # sample_rate u20 | channels-1 u3 | bits-1 u5 | total_samples u36
            # starting at STREAMINFO offset 10 (after min/max block+frame
            # sizes) = payload offset 8 + 10 = 18.
            if len(payload) < 26 or (payload[4] & 0x7F) != 0:
                return None  # first block is not STREAMINFO — malformed
            blk_len = int.from_bytes(payload[5:8], "big")
            if blk_len < 34:
                return None
            packed = int.from_bytes(payload[18:26], "big")
            rate = packed >> 44
            n_ch = ((packed >> 41) & 0x7) + 1
            total = packed & ((1 << 36) - 1)
            if rate == 0:
                return None  # 0 is invalid for audio streams (spec)
            return {
                "fmt": "flac", "kind": "audio", "width": None, "height": None,
                "channels": n_ch, "sample_rate": rate,
                "duration_s": total / rate if total else None,
            }
        if payload[:4] == b"OggS":
            # Ogg: 27-byte page header + segment table; the first page's
            # payload is the codec identification header. Vorbis: packtype
            # 0x01 + 'vorbis', channels u8 @+11, rate u32 LE @+12. Opus:
            # 'OpusHead', channels u8 @+9, input rate u32 LE @+12 (Opus
            # always decodes at 48 kHz; the header stores the input rate —
            # report the header's value, which is what the container says).
            if len(payload) < 28:
                return None
            nseg = payload[26]
            body = 27 + nseg  # first packet starts after the segment table
            ident = payload[body : body + 30]
            if ident[:7] == b"\x01vorbis":
                n_ch = ident[11]
                rate = struct.unpack("<I", ident[12:16])[0]
                fmt = "ogg-vorbis"
            elif ident[:8] == b"OpusHead":
                n_ch = ident[9]
                rate = struct.unpack("<I", ident[12:16])[0]
                fmt = "ogg-opus"
            else:
                return None  # OggS magic but no readable codec ident
            if rate == 0 or n_ch == 0:
                return None  # both are spec-invalid (Vorbis I / OpusHead)
            return {
                "fmt": fmt, "kind": "audio", "width": None, "height": None,
                "channels": n_ch, "sample_rate": rate,
                "duration_s": None,  # needs the last page's granulepos
            }
        mp3_pos = None
        if payload[:3] == b"ID3" and len(payload) >= 10:
            # ID3v2 tag: syncsafe u28 size at offset 6, frame follows
            sz = payload[6:10]
            if not any(b & 0x80 for b in sz):
                mp3_pos = 10 + (
                    (sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3]
                )
        elif (
            len(payload) >= 4
            and payload[0] == 0xFF
            and payload[1] & 0xE0 == 0xE0
        ):
            mp3_pos = 0
        if mp3_pos is not None:
            if mp3_pos + 4 > len(payload) or payload[mp3_pos] != 0xFF or (
                payload[mp3_pos + 1] & 0xE0
            ) != 0xE0:
                return None  # tag promised a frame that isn't there
            b1, b2, b3 = payload[mp3_pos + 1 : mp3_pos + 4]
            ver = (b1 >> 3) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5, 1 reserved
            layer = (b1 >> 1) & 3  # 1 = Layer III
            sr_idx = (b2 >> 2) & 3
            if ver == 1 or layer != 1 or sr_idx == 3:
                return None  # reserved version / not Layer III / bad rate
            return {
                "fmt": "mp3", "kind": "audio", "width": None, "height": None,
                # mode bits: 3 = single channel (ISO 11172-3 §2.4.1.3)
                "channels": 1 if (b3 >> 6) == 3 else 2,
                "sample_rate": _MP3_RATES[ver][sr_idx],
                "duration_s": None,  # needs the full frame walk / Xing tag
            }
    except (struct.error, IndexError):
        return None
    return None


def _decode_bytes(payload: bytes, fake: bool) -> dict:
    """Header-real, pixel-stubbed decode. Container dimensions come from
    ``sniff_header`` (REAL parse) whenever the payload has a known magic;
    pixel-level stats (mean_intensity) would need PIL/librosa/ffmpeg —
    ``fake=True`` substitutes a deterministic hash-derived value (stable
    across runs/partitionings so tests can assert exact values),
    ``fake=False`` leaves it None. Unknown magics: hash-derived dimensions
    under ``fake=True``, ``NotImplementedError`` under ``fake=False``."""
    hdr = sniff_header(payload)
    h = hashlib.sha256(payload).digest()
    if hdr is not None:
        return {
            "fmt": hdr["fmt"],
            "width": hdr["width"],
            "height": hdr["height"],
            "channels": hdr["channels"],
            "sample_rate": hdr["sample_rate"],
            # pixel decode is the stub: fake stat or honest NULL
            "mean_intensity": float(h[3]) / 255.0 if fake else None,
        }
    if not fake:
        raise NotImplementedError(
            "real pixel/sample decode of unknown containers requires "
            "PIL/librosa/ffmpeg; not available in this environment — "
            "pass fake=True"
        )
    return {
        "fmt": "unknown",
        "width": 16 + h[0] % 240,
        "height": 16 + h[1] % 240,
        "channels": 1 + h[2] % 3,
        "sample_rate": None,
        "mean_intensity": float(h[3]) / 255.0,
    }


def attach_payload(df: DataFrame, binary_col: str, kind: str = "image") -> DataFrame:
    """Wrap a binary column into (payload, meta) — the canonical multimodal
    row shape. Metadata that is derivable JVM-side (sizes) never touches
    Python."""
    return df.withColumn("payload", F.col(binary_col)).withColumn(
        "meta",
        F.expr(
            f"named_struct('kind', '{kind}', 'fmt', 'raw', "
            "'width', CAST(NULL AS INT), 'height', CAST(NULL AS INT), "
            "'sample_rate', CAST(NULL AS INT), 'n_frames', CAST(NULL AS INT), "
            f"'n_bytes', CAST(octet_length(payload) AS LONG))"
        ),
    )


def decode(df: DataFrame, id_col: str = "doc_id", fake: bool = True) -> DataFrame:
    """payload → decoded container fields via Arrow-batched mapInPandas.

    Output: (id, fmt, width, height, channels, sample_rate, mean_intensity).
    fmt/width/height/channels/sample_rate are REAL header parses for known
    containers (png/jpeg/gif/wav — see sniff_header); mean_intensity is the
    stubbed pixel stat. The input is column-pruned to (id, payload) before
    the Python stage so only the bytes actually needed cross the Arrow
    boundary.
    """
    pruned = df.select(id_col, "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_decode_bytes(p, fake) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "fmt": [d["fmt"] for d in decoded],
                    "width": pd.array([d["width"] for d in decoded], dtype="Int32"),
                    "height": pd.array([d["height"] for d in decoded], dtype="Int32"),
                    "channels": pd.array([d["channels"] for d in decoded], dtype="Int32"),
                    "sample_rate": pd.array(
                        [d["sample_rate"] for d in decoded], dtype="Int32"
                    ),
                    "mean_intensity": pd.array(
                        [d["mean_intensity"] for d in decoded], dtype="float64"
                    ),
                }
            )

    return pruned.mapInPandas(
        run,
        f"{id_col} long, fmt string, width int, height int, channels int, "
        "sample_rate int, mean_intensity double",
    )


def extract_features(df: DataFrame, id_col: str = "doc_id", fake: bool = True) -> DataFrame:
    """payload → fixed-width float feature vector (the embedding-extraction
    stage of a multimodal pipeline; deterministic fake = normalized bytes of
    the content hash). Output: (id, features array<double>)."""
    pruned = df.select(id_col, "payload")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                if not fake:
                    raise NotImplementedError("real feature extraction needs a model runtime")
                h = hashlib.sha256(p).digest()
                feats.append([b / 255.0 for b in h[:N_FEATURES]])
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), "features": feats})

    return pruned.mapInPandas(run, f"{id_col} long, features array<double>")
