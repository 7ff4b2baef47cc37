"""Multimodal column plumbing — image/audio/video as opaque ``binary``
payloads with typed metadata, processed by Arrow-batched pandas stages.

The container ships no media codecs (PIL/librosa/ffmpeg), so the *decode*
step is stubbed: ``decode_media`` tries the real libraries and otherwise
falls back to a clearly-marked deterministic fake (byte-level stats).
Everything around the stub — schema, ``mapInPandas`` batch shape,
partitioning, metadata struct — is the real plumbing a media pipeline
needs and is fully tested; swapping the fake for a real decoder changes
one function body.

Scale design: payloads stay opaque bytes end-to-end (no driver collect,
no base64 round-trips); per-batch work is vectorized numpy over Arrow
buffers; feature extraction is a map-only stage — zero shuffles until the
feature aggregation, which shuffles only (id, small-struct) rows, never
payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_TYPES = ("image", "audio", "video")

FRAME_BYTES = 32       # fake "frame" stride for video payloads
FRAME_SAMPLE_EVERY = 4  # keep every 4th frame

DECODED_SCHEMA = (
    "media_id long, media_type string, n_bytes long, "
    "mean_byte double, min_byte long, max_byte long"
)

FRAMES_SCHEMA = "media_id long, frame_idx long, frame_len long, frame_md5 string"

RESIZED_SCHEMA = (
    "media_id long, orig_w long, orig_h long, new_w long, new_h long, "
    "scale_ppm long"
)


def media_table(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from ``documents``: the text
    payload stands in for encoded bytes; metadata is synthesized from
    doc_id.  (media_id, media_type, payload binary, width, height)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(*[F.lit(t) for t in MEDIA_TYPES]),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
        (F.col("doc_id") % 7 * 160 + 320).alias("width"),
        (F.col("doc_id") % 5 * 90 + 180).alias("height"),
    )


def encode_bmp(arr) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array (row 0 = top) as a 24-bpp
    uncompressed Windows BMP — pure struct+numpy, no codec libs.  BMP
    stores rows bottom-up in BGR with each row padded to 4 bytes; the
    decoder must undo all three, which is exactly what the oracle-gated
    round-trip checksum verifies."""
    import struct

    import numpy as np
    h, w = arr.shape[:2]
    row_bytes = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_bytes), dtype=np.uint8)
    rows[:, :w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)   # bottom-up BGR
    data = rows.tobytes()
    offset = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", offset + len(data), 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                       2835, 2835, 0, 0)
    return header + info + data


def decode_bmp(payload: bytes):
    """Decode a 24-bpp uncompressed BMP to an (h, w, 3) uint8 RGB array.
    Strict: raises ValueError on anything that isn't exactly this format
    (so text bytes that happen to start with 'BM' fall through to the
    byte-stats path instead of mis-decoding)."""
    import struct

    import numpy as np
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP")
    offset = struct.unpack_from("<I", payload, 10)[0]
    hsize, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if hsize < 40 or planes != 1 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError("unsupported BMP variant")
    bottom_up, h = h > 0, abs(h)
    row_bytes = (w * 3 + 3) & ~3
    if offset + row_bytes * h > len(payload):
        raise ValueError("truncated BMP")
    rows = np.frombuffer(payload, np.uint8, count=row_bytes * h,
                         offset=offset).reshape(h, row_bytes)
    bgr = rows[:, :w * 3].reshape(h, w, 3)
    if bottom_up:
        bgr = bgr[::-1]
    return bgr[:, :, ::-1].copy()                            # BGR -> RGB


def encode_ppm(arr) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as binary PPM (P6)."""
    h, w = arr.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode("ascii") + arr.tobytes()


def decode_ppm(payload: bytes):
    """Decode a binary PPM (P6, maxval 255, '#' comments allowed) to an
    (h, w, 3) uint8 RGB array; ValueError on anything else."""
    import numpy as np
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos:pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header")
        fields.append(int(payload[start:pos]))
    w, h, maxval = fields
    if maxval != 255 or w <= 0 or h <= 0:
        raise ValueError("unsupported PPM variant")
    if not payload[pos:pos + 1].isspace():
        # the byte after maxval must be the single whitespace the spec
        # requires; rejecting anything else narrows the accidental-match
        # surface when _decode_bytes sniffs arbitrary corpus bytes
        raise ValueError("PPM maxval must be followed by whitespace")
    pos += 1                                   # single whitespace after maxval
    if pos + w * h * 3 != len(payload):
        # EXACT span, not >=: _decode_bytes sniffs arbitrary corpus
        # bytes with this decoder, and a P6 header is pure printable
        # ASCII — requiring the declared raster to end exactly at the
        # payload's last byte makes an accidental text match need a
        # self-consistent length, not just a plausible prefix.  (Our
        # strict encoder always emits exact-length payloads.)
        raise ValueError("PPM raster must span payload exactly")
    return (np.frombuffer(payload, np.uint8, count=w * h * 3, offset=pos)
            .reshape(h, w, 3).copy())


def encode_wav(samples, rate: int = 8000) -> bytes:
    """Encode an int16 numpy array as a mono 16-bit PCM WAV (RIFF) —
    pure struct, no codec libs."""
    import struct
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def decode_wav(payload: bytes):
    """Decode a mono 16-bit PCM WAV to (rate, int16 sample array).
    Strict: ValueError on anything that isn't exactly this format (other
    bytes fall through to the byte-stats path)."""
    import struct

    import numpy as np
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE")
    pos, rate, n_channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8:pos + 8 + size]
        if size > len(payload) - pos - 8:
            # declared size overruns the payload: body is shorter than
            # size, and unpack_from below would raise struct.error —
            # the codec contract is strict ValueError on bad input
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            audio_fmt, n_channels, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body, 0)
            if audio_fmt != 1:
                raise ValueError("not PCM")
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)            # chunks are word-aligned
    if rate is None or data is None or bits != 16 or n_channels != 1:
        raise ValueError("unsupported WAV variant")
    if len(data) % 2:
        raise ValueError("odd PCM byte length")
    return rate, np.frombuffer(data, dtype="<i2")


_DECODERS = (decode_bmp, decode_ppm)


def _decode_bytes(payload: bytes) -> dict:
    """Real decode where the bytes are a format we ship a decoder for
    (24-bpp BMP, P6 PPM — pure numpy, no codec libs); otherwise the
    clearly-marked fallback emits byte-level stats with the same output
    shape.  Formats the container can't decode (JPEG/PNG/audio/video
    would need PIL/soundfile/av) stay on the fallback path."""
    if not payload:
        return {"n_bytes": 0, "mean_byte": None, "min_byte": None,
                "max_byte": None}
    import numpy as np
    for dec in _DECODERS:
        try:
            px = dec(payload)
        except ValueError:
            continue
        flat = px.reshape(-1)
        return {"n_bytes": int(flat.size), "mean_byte": float(flat.mean()),
                "min_byte": int(flat.min()), "max_byte": int(flat.max())}
    # FALLBACK (stub for codec-less formats): byte-level stats
    arr = np.frombuffer(payload, dtype=np.uint8)
    return {"n_bytes": int(arr.size), "mean_byte": float(arr.mean()),
            "min_byte": int(arr.min()), "max_byte": int(arr.max())}


IMG_CHECKSUM_MOD = 1_000_000_007

DECODED_IMAGE_SCHEMA = (
    "media_id long, fmt string, px_w long, px_h long, n_px long, "
    "mean_px double, min_px long, max_px long, checksum long"
)


def synth_pixel_array(media_id: int, w: int, h: int):
    """Deterministic test image: flat pixel i = (media_id*31 + i*7) % 256,
    reshaped row-major to (h, w, 3) RGB.  Closed-form, so the DuckDB
    oracle recomputes every decoded statistic analytically — the
    encode→decode round trip is hash-gated without shipping fixtures."""
    import numpy as np
    n = w * h * 3
    i = np.arange(n, dtype=np.int64)
    return ((media_id * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w, 3)


def image_corpus(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one real encoded image per document row —
    even ids as 24-bpp BMP, odd as P6 PPM, dims varied per id (including
    widths that force BMP row padding).  The synthesis runs inside
    mapInPandas, so payload bytes are born on executors and never shuffle
    (the decode stage that follows is map-only too)."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 5 + 4, mid % 3 + 3
                arr = synth_pixel_array(mid, w, h)
                payloads.append(encode_bmp(arr) if mid % 2 == 0
                                else encode_ppm(arr))
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "payload": payloads})

    return (docs.select(F.col("doc_id").alias("media_id"))
            .mapInPandas(batches, schema="media_id long, payload binary"))


def decode_image_stats(images: DataFrame) -> DataFrame:
    """Decode REAL image bytes (format sniffed from the payload, dims from
    the parsed header — nothing is passed alongside) and emit per-image
    pixel statistics plus an order-sensitive checksum
    (sum((i+1) * pixel_i) mod {IMG_CHECKSUM_MOD} over the row-major RGB
    flattening): a decoder that flipped rows, swapped channels, or kept
    BMP row padding would produce the right mean but the wrong checksum.
    Map-only mapInPandas; payload bytes never shuffle."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            out = {k: [] for k in ("media_id", "fmt", "px_w", "px_h",
                                   "n_px", "mean_px", "min_px", "max_px",
                                   "checksum")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    px, fmt = decode_bmp(payload), "bmp"
                except ValueError:
                    px, fmt = decode_ppm(payload), "ppm"
                flat = px.reshape(-1).astype(np.int64)
                n = flat.size
                csum = int(((np.arange(1, n + 1, dtype=np.int64) * flat).sum())
                           % IMG_CHECKSUM_MOD)
                out["media_id"].append(mid)
                out["fmt"].append(fmt)
                out["px_h"].append(px.shape[0])
                out["px_w"].append(px.shape[1])
                out["n_px"].append(n)
                out["mean_px"].append(float(flat.sum()) / n)
                out["min_px"].append(int(flat.min()))
                out["max_px"].append(int(flat.max()))
                out["checksum"].append(csum)
            yield pd.DataFrame(out)

    return images.mapInPandas(batches, schema=DECODED_IMAGE_SCHEMA)


def encode_y4m(frames) -> bytes:
    """Encode a list of (3, h, w) uint8 planar frames as YUV4MPEG2
    (C444: full-resolution Y, U, V planes — a real video container,
    pure text header + raw planes)."""
    f0 = frames[0]
    _, h, w = f0.shape
    out = [f"YUV4MPEG2 W{w} H{h} F25:1 Ip A0:0 C444\n".encode("ascii")]
    for fr in frames:
        out.append(b"FRAME\n")
        out.append(fr.astype("uint8").tobytes())
    return b"".join(out)


def decode_y4m(payload: bytes):
    """Decode a C444 YUV4MPEG2 stream to (w, h, [(3, h, w) arrays]).
    Strict: ValueError on anything that isn't exactly this format."""
    import numpy as np
    magic = b"YUV4MPEG2 "
    if not payload.startswith(magic):
        raise ValueError("not a YUV4MPEG2 stream")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("unterminated y4m header")
    w = h = None
    c444 = False
    for tok in payload[len(magic):nl].split(b" "):
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
        elif tok.startswith(b"C"):
            c444 = tok == b"C444"
    if not w or not h or w <= 0 or h <= 0 or not c444:
        raise ValueError("unsupported y4m variant (need C444 + dims)")
    frame_bytes = 3 * h * w
    frames = []
    pos = nl + 1
    while pos < len(payload):
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("malformed FRAME marker")
        start = fnl + 1
        if start + frame_bytes > len(payload):
            raise ValueError("truncated y4m frame")
        frames.append(np.frombuffer(payload, np.uint8, count=frame_bytes,
                                    offset=start).reshape(3, h, w).copy())
        pos = start + frame_bytes
    if not frames:
        raise ValueError("y4m stream with no frames")
    return w, h, frames


DECODED_AUDIO_SCHEMA = (
    "media_id long, sample_rate long, n_samples long, mean_amp double, "
    "min_amp long, max_amp long, checksum long"
)


def synth_audio_samples(media_id: int, n: int):
    """Deterministic int16 test signal: sample i =
    ((media_id*37 + i*11) % 65536) - 32768 — closed-form, so the oracle
    recomputes every decoded statistic analytically."""
    import numpy as np
    i = np.arange(n, dtype=np.int64)
    return (((media_id * 37 + i * 11) % 65536) - 32768).astype(np.int16)


def audio_corpus(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one real mono 16-bit PCM WAV per document row,
    length and sample rate varied per id.  Synthesized inside mapInPandas
    so payload bytes are born on executors and never shuffle."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                n = (mid % 4 + 1) * 256
                rate = 8000 + (mid % 3) * 4000
                payloads.append(encode_wav(synth_audio_samples(mid, n), rate))
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "payload": payloads})

    return (docs.select(F.col("doc_id").alias("media_id"))
            .mapInPandas(batches, schema="media_id long, payload binary"))


def decode_audio_stats(audio: DataFrame) -> DataFrame:
    """Decode REAL WAV bytes (rate and samples parsed from the RIFF
    chunks — nothing passed alongside) and emit per-clip amplitude stats
    plus the order-sensitive checksum sum((i+1) * sample_i) (exact
    int64; a decoder that dropped a chunk header byte or mis-read
    endianness fails it).  Map-only mapInPandas; payloads never
    shuffle."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            out = {k: [] for k in ("media_id", "sample_rate", "n_samples",
                                   "mean_amp", "min_amp", "max_amp",
                                   "checksum")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, s = decode_wav(payload)
                s64 = s.astype(np.int64)
                n = s64.size
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["mean_amp"].append(float(s64.sum()) / n)
                out["min_amp"].append(int(s64.min()))
                out["max_amp"].append(int(s64.max()))
                out["checksum"].append(
                    int((np.arange(1, n + 1, dtype=np.int64) * s64).sum()))
            yield pd.DataFrame(out)

    return audio.mapInPandas(batches, schema=DECODED_AUDIO_SCHEMA)


DECODED_VIDEO_SCHEMA = (
    "media_id long, frame_idx long, px_w long, px_h long, n_vals long, "
    "mean_val double, min_val long, max_val long, checksum long"
)


def synth_video_frames(media_id: int, w: int, h: int, n_frames: int):
    """Deterministic planar frames: frame f, flat index i (plane-major)
    = (media_id*13 + f*17 + i*7) % 256 — closed-form per frame so the
    oracle recomputes every decoded per-frame statistic analytically."""
    import numpy as np
    i = np.arange(3 * h * w, dtype=np.int64)
    return [((media_id * 13 + f * 17 + i * 7) % 256)
            .astype(np.uint8).reshape(3, h, w) for f in range(n_frames)]


def video_corpus(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one real YUV4MPEG2 (C444) clip per document
    row, dims and frame count varied per id.  Synthesized inside
    mapInPandas; payload bytes never shuffle."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, nf = mid % 4 + 3, mid % 3 + 3, mid % 3 + 2
                payloads.append(
                    encode_y4m(synth_video_frames(mid, w, h, nf)))
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "payload": payloads})

    return (docs.select(F.col("doc_id").alias("media_id"))
            .mapInPandas(batches, schema="media_id long, payload binary"))


def decode_video_stats(video: DataFrame) -> DataFrame:
    """Decode REAL y4m bytes (dims + frame boundaries parsed from the
    container alone) and emit one row per frame: plane-value stats plus
    the order-sensitive checksum sum((i+1) * v_i) over the planar
    flattening.  A demuxer that misplaced a FRAME boundary or swapped
    planes fails the hash.  Map-only mapInPandas."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            out = {k: [] for k in ("media_id", "frame_idx", "px_w", "px_h",
                                   "n_vals", "mean_val", "min_val",
                                   "max_val", "checksum")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                w, h, frames = decode_y4m(payload)
                for f_idx, fr in enumerate(frames):
                    flat = fr.reshape(-1).astype(np.int64)
                    n = flat.size
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f_idx)
                    out["px_w"].append(w)
                    out["px_h"].append(h)
                    out["n_vals"].append(n)
                    out["mean_val"].append(float(flat.sum()) / n)
                    out["min_val"].append(int(flat.min()))
                    out["max_val"].append(int(flat.max()))
                    out["checksum"].append(
                        int((np.arange(1, n + 1, dtype=np.int64)
                             * flat).sum()))
            yield pd.DataFrame(out)

    return video.mapInPandas(batches, schema=DECODED_VIDEO_SCHEMA)


# ---- video scene-change keyframe selection ----------------------------

# Scene cut iff the frame's abs-diff energy vs its predecessor exceeds
# KF_THRESHOLD * n_pixel_values (i.e. mean per-value abs diff > 30).
# The cut fixture's margins (synth_video_shot_frames) are proven in the
# docstring there: within-shot frames score <= ~13 per value, cut
# frames >= 60 — the rule sits in the dead center of a 4x gap.
KF_THRESHOLD = 30
KF_SHOT_JUMP = 59  # per-shot base jump in the cut-fixture signal

KEYFRAME_SCHEMA = ("media_id long, frame_idx long, n_vals long, "
                   "diff_sum long, is_keyframe boolean")


def synth_video_shot_frames(media_id: int, w: int, h: int,
                            n_frames: int, shot_len: int):
    """Deterministic planar frames with PLANTED scene cuts: value at
    frame f, flat index i = (mid*13 + (f // shot_len)*KF_SHOT_JUMP
    + f + i*7) % 256 with KF_SHOT_JUMP = 59.  Within a shot,
    consecutive frames step +1 (mod 256) at every index: since
    gcd(7, 256) = 1 and a frame holds n = 3*w*h <= 90 < 256 values,
    at most ONE index wraps 255 -> 0, so the within-shot diff energy
    is <= (n - 1) + 255 < 345 — mean per value <= ~13 at the minimum
    n = 27.  Across a cut the base jumps by 59+1 = 60 (mod 256):
    every per-value abs diff is 60 or 196, so the cut frame's mean
    is >= 60.  The
    KF_THRESHOLD = 30 rule therefore separates the two populations
    with a >= 2x margin on BOTH sides — exact integers end to end,
    replayed analytically by the oracle."""
    import numpy as np
    i = np.arange(3 * h * w, dtype=np.int64)
    return [((media_id * 13 + (f // shot_len) * KF_SHOT_JUMP + f + i * 7)
             % 256).astype(np.uint8).reshape(3, h, w)
            for f in range(n_frames)]


def video_cut_corpus(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one real YUV4MPEG2 clip per document from
    the planted-cut signal family — 4-7 frames in shots of 2-4, so
    every clip has 1-3 scene changes.  Bytes are born on executors
    (mapInPandas) and never shuffle — same discipline as
    :func:`video_corpus`."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = mid % 4 + 3, mid % 3 + 3
                nf, sl = mid % 4 + 4, mid % 3 + 2
                payloads.append(encode_y4m(
                    synth_video_shot_frames(mid, w, h, nf, sl)))
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "payload": payloads})

    return (docs.select(F.col("doc_id").alias("media_id"))
            .mapInPandas(batches, schema="media_id long, payload binary"))


def video_keyframes(video: DataFrame) -> DataFrame:
    """Scene-change keyframe selection over REAL y4m bytes — the frame
    sampler a video training pipeline actually wants (uniform stride
    oversamples static shots and misses cuts; see :func:`sample_frames`
    for the stride variant).  Decode the container, compute each
    frame's EXACT int64 abs-diff energy against its predecessor over
    the planar values, and mark a keyframe at frame 0 and wherever
    ``diff_sum > KF_THRESHOLD * n_vals`` — a pixel-domain shot-boundary
    detector (the classic pairwise-difference family; a production
    deployment swaps in histogram or edge-change ratios inside the same
    kernel without touching the plan).

    Map-only mapInPandas: payloads never shuffle; only (frame, energy,
    flag) rows reach downstream aggregation — at 100 TB the exchange
    carries ~40 bytes per frame, not the video.  The detector sees
    BYTES only (no knowledge of the fixture's closed form), so the
    oracle replaying the signal analytically is a true decode gate."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            out = {k: [] for k in ("media_id", "frame_idx", "n_vals",
                                   "diff_sum", "is_keyframe")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _w, _h, frames = decode_y4m(payload)
                prev = None
                for f_idx, fr in enumerate(frames):
                    flat = fr.reshape(-1).astype(np.int64)
                    n = flat.size
                    diff = (0 if prev is None
                            else int(np.abs(flat - prev).sum()))
                    out["media_id"].append(mid)
                    out["frame_idx"].append(f_idx)
                    out["n_vals"].append(n)
                    out["diff_sum"].append(diff)
                    out["is_keyframe"].append(
                        f_idx == 0 or diff > KF_THRESHOLD * n)
                    prev = flat
            yield pd.DataFrame(out)

    return video.mapInPandas(batches, schema=KEYFRAME_SCHEMA)


def decode_media(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract: mapInPandas over the payload
    column.  Map-only — no shuffle; output drops the payload so anything
    downstream shuffles small rows."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = pd.DataFrame([_decode_bytes(p) for p in pdf["payload"]])
            feats.insert(0, "media_id", pdf["media_id"].values)
            feats.insert(1, "media_type", pdf["media_type"].values)
            yield feats

    return media.mapInPandas(batches, schema=DECODED_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video payloads: split bytes into FRAME_BYTES
    chunks, keep every FRAME_SAMPLE_EVERY-th, fingerprint each (md5).
    Pandas stage so a real demuxer drops in; one output row per frame."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in it:
            out = {"media_id": [], "frame_idx": [], "frame_len": [],
                   "frame_md5": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
                for idx in range(0, n_frames, FRAME_SAMPLE_EVERY):
                    frame = payload[idx * FRAME_BYTES:(idx + 1) * FRAME_BYTES]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_len"].append(len(frame))
                    out["frame_md5"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    return (media.filter(F.col("media_type") == "video")
            .mapInPandas(batches, schema=FRAMES_SCHEMA))


def resize_images(media: DataFrame) -> DataFrame:
    """Resize stub for image payloads: computes the real geometry
    (aspect-preserving target dims + scale in parts-per-million); the pixel
    resample is where PIL would run and is faked as metadata-only.  All
    geometry is exact integer arithmetic — float rounding rules (numpy
    half-even vs SQL half-away) never enter."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "orig_w": pdf["width"],
                "orig_h": pdf["height"],
                "new_w": 224,
                "new_h": pdf["height"] * 224 // pdf["width"],
                "scale_ppm": 224 * 1_000_000 // pdf["width"],
            })

    return (media.filter(F.col("media_type") == "image")
            .mapInPandas(batches, schema=RESIZED_SCHEMA))


# ---------------------------------------------------------------------------
# Perceptual hashing (image near-dup dedup).

PHASH_GW = 4   # block grid width  -> 8 bits total
PHASH_GH = 2   # block grid height

PHASH_SCHEMA = "media_id long, px_w long, px_h long, phash long"


def image_phash(images: DataFrame) -> DataFrame:
    """Average-hash (aHash) perceptual fingerprint of REAL image bytes:
    decode (format sniffed), grayscale by integer mean, downsample onto
    a {PHASH_GH}x{PHASH_GW} block grid, one bit per block = "block mean
    above global mean".  -> (media_id, px_w, px_h, phash).

    All arithmetic is EXACT integers — grayscale is (r+g+b)//3 and the
    threshold compares cross-multiplied sums (block_sum * n_total >
    total_sum * n_block), never a float mean — so a DuckDB oracle can
    recompute the hash bit-for-bit from the closed-form pixel pattern.
    aHash is brightness-shift tolerant by construction (a constant
    offset moves block and global means together), which is exactly the
    near-dup class it exists to catch.  Map-only mapInPandas; payloads
    never shuffle — at 100 TB only the 8-byte hashes reach the dedup
    exchange.
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in it:
            out = {k: [] for k in ("media_id", "px_w", "px_h", "phash")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    px = decode_bmp(payload)
                except ValueError:
                    px = decode_ppm(payload)
                h, w = px.shape[:2]
                g = px.astype(np.int64).sum(axis=2) // 3  # (h, w) ints
                tsum, tn = int(g.sum()), h * w
                phash = 0
                for by in range(PHASH_GH):
                    ylo, yhi = by * h // PHASH_GH, (by + 1) * h // PHASH_GH
                    for bx in range(PHASH_GW):
                        xlo = bx * w // PHASH_GW
                        xhi = (bx + 1) * w // PHASH_GW
                        blk = g[ylo:yhi, xlo:xhi]
                        if int(blk.sum()) * tn > tsum * blk.size:
                            phash |= 1 << (by * PHASH_GW + bx)
                out["media_id"].append(mid)
                out["px_w"].append(w)
                out["px_h"].append(h)
                out["phash"].append(phash)
            yield pd.DataFrame(out)

    return images.mapInPandas(batches, schema=PHASH_SCHEMA)


# ---- audio perceptual fingerprint (chromaprint-style) -----------------------

FP_FRAMES = 8       # time frames per clip
FP_BANDS = 4        # energy bands per frame
# fingerprint width: F*(B-1) adjacent-band sign bits + (F-1) frame-
# energy sign bits = 31 bits -> fits BIGINT on both engines
AUDIO_FP_BASES = 50  # distinct base signals in the fp fixture corpus

AUDIO_FP_SCHEMA = "media_id long, n_samples long, afp long"


def synth_audio_fp_samples(media_id: int):
    """Deterministic fp-fixture signal with PLANTED near-dups: clips
    sharing ``media_id % AUDIO_FP_BASES`` are the SAME base waveform at
    an integer amplitude scale 1-3 — the loudness-shifted re-encode an
    audio dedup pass exists to catch.  Base samples live in
    [-8192, 8191] so scale 3 stays inside int16."""
    import numpy as np
    bid = media_id % AUDIO_FP_BASES
    scale = (media_id // AUDIO_FP_BASES) % 3 + 1
    n = (bid % 4 + 1) * 256
    i = np.arange(n, dtype=np.int64)
    # quadratic chirp with a bid-keyed linear term: every base gets a
    # distinct energy envelope (the plain sawtooth collapsed half the
    # corpus onto one all-bits fingerprint), measured 50/50 distinct
    # fingerprints across the bases at this formula
    base = ((i * i * 11 + i * (97 + bid * 13) + bid * 37) % 16384) - 8192
    return (scale * base).astype(np.int16)


def audio_fp_corpus(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one real WAV per document from the planted
    near-dup signal family; bytes are born on executors (mapInPandas)
    and never shuffle — same discipline as :func:`audio_corpus`."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                bid = mid % AUDIO_FP_BASES
                rate = 8000 + (bid % 3) * 4000
                payloads.append(
                    encode_wav(synth_audio_fp_samples(mid), rate))
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "payload": payloads})

    return (docs.select(F.col("doc_id").alias("media_id"))
            .mapInPandas(batches, schema="media_id long, payload binary"))


def audio_fingerprint(audio: DataFrame) -> DataFrame:
    """Chromaprint-style perceptual fingerprint of REAL WAV bytes
    (Ke et al. 2005 / the AcoustID filter family: bits are SIGNS of
    energy differences across adjacent time-frequency cells, which
    survive volume changes and re-encoding).  Decode the RIFF chunks,
    split the clip into {FP_FRAMES} frames x {FP_BANDS} bands, compute
    each cell's EXACT int64 energy (sum of squared samples), then:

    - bit f*(B-1)+b      = E(f,b)  > E(f,b+1)   (adjacent-band signs)
    - bit F*(B-1)+f      = TE(f)   > TE(f+1)    (frame-energy signs)

    Amplitude scaling multiplies every energy by the same factor, so
    all {FP_FRAMES * (FP_BANDS - 1) + FP_FRAMES - 1} comparison bits —
    and therefore the fingerprint — are loudness-invariant by
    construction.  Bands here are time-domain energy cells so a SQL
    oracle replays every bit from the closed-form signal; a production
    deployment swaps the per-clip kernel for FFT chroma bands without
    touching the plan (map-only mapInPandas, payloads never shuffle —
    only the 8-byte fingerprint reaches the dedup exchange)."""
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        nb = FP_FRAMES * FP_BANDS
        for pdf in it:
            out = {k: [] for k in ("media_id", "n_samples", "afp")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                _rate, s = decode_wav(payload)
                s64 = s.astype(np.int64)
                n = s64.size
                w = n // nb
                e = [int((s64[c * w:(c + 1) * w] ** 2).sum())
                     for c in range(nb)]
                te = [sum(e[f * FP_BANDS:(f + 1) * FP_BANDS])
                      for f in range(FP_FRAMES)]
                afp = 0
                for f in range(FP_FRAMES):
                    for b in range(FP_BANDS - 1):
                        if e[f * FP_BANDS + b] > e[f * FP_BANDS + b + 1]:
                            afp |= 1 << (f * (FP_BANDS - 1) + b)
                for f in range(FP_FRAMES - 1):
                    if te[f] > te[f + 1]:
                        afp |= 1 << (FP_FRAMES * (FP_BANDS - 1) + f)
                out["media_id"].append(mid)
                out["n_samples"].append(n)
                out["afp"].append(afp)
            yield pd.DataFrame(out)

    return audio.mapInPandas(batches, schema=AUDIO_FP_SCHEMA)
