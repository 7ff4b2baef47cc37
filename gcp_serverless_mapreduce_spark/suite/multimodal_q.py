"""Multimodal-plumbing queries with DuckDB oracle twins.

The payload is UTF-8 of ASCII fixture text, so the oracle can recompute
byte-level results from the text column (bytes == codepoints): the
mapInPandas stages are held to a full value-hash gate even though the
"decode" itself is a stub.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import TOKENS_SQL, tokens
from ..operators import multimodal
from ..registry import register
from ..tables import load_table

_MEDIA_CTE = """
WITH media AS (
    SELECT doc_id AS media_id,
           CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS media_type,
           text,
           doc_id % 7 * 160 + 320 AS width,
           doc_id % 5 * 90 + 180 AS height
    FROM documents)
"""


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_table(load_table(spark, sf_dir, "documents"))


@register("media_decode_features", _MEDIA_CTE + """
SELECT media_id, media_type,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       list_avg(list_transform(string_split(text, ''),
                c -> CAST(unicode(c) AS BIGINT))) AS mean_byte,
       CAST(list_min(list_transform(string_split(text, ''),
                c -> unicode(c))) AS BIGINT) AS min_byte,
       CAST(list_max(list_transform(string_split(text, ''),
                c -> unicode(c))) AS BIGINT) AS max_byte
FROM media
""")
def media_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stubbed decode + feature extraction over binary payloads via
    mapInPandas (Arrow batches, numpy per batch) — map-only, no shuffle."""
    return multimodal.decode_media(_media(spark, sf_dir))


@register("image_decode_roundtrip", f"""
WITH img AS (
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt,
           doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h
    FROM documents),
px AS (
    SELECT media_id, fmt, w, h, w * h * 3 AS n,
           -- the synthesized image's pixels in closed form: flat pixel i
           -- (row-major RGB) = (media_id*31 + i*7) % 256 — what a CORRECT
           -- decode of the encoded BMP/PPM bytes must recover exactly
           list_transform(generate_series(0, w * h * 3 - 1),
                          i -> (media_id * 31 + i * 7) % 256) AS p
    FROM img)
SELECT media_id, fmt,
       CAST(w AS BIGINT) AS px_w, CAST(h AS BIGINT) AS px_h,
       CAST(n AS BIGINT) AS n_px,
       CAST(list_sum(p) AS DOUBLE) / n AS mean_px,
       CAST(list_min(p) AS BIGINT) AS min_px,
       CAST(list_max(p) AS BIGINT) AS max_px,
       CAST(list_sum(list_transform(generate_series(1, n), i -> i * p[i]))
            % {multimodal.IMG_CHECKSUM_MOD} AS BIGINT) AS checksum
FROM px
""")
def image_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-gated: synthesize one BMP (even ids) or
    PPM (odd ids) per document from a closed-form pixel pattern, then
    decode the BYTES back (format sniffed, dims parsed from headers) and
    emit pixel stats + an order-sensitive checksum.  The oracle computes
    the same stats analytically from the pattern, so a decoder that
    mishandled BMP's bottom-up rows, BGR order, or 4-byte row padding
    hash-fails.  Both stages are map-only mapInPandas; payloads never
    shuffle."""
    imgs = multimodal.image_corpus(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_image_stats(imgs)


@register("audio_decode_roundtrip", """
WITH clip AS (
    SELECT doc_id AS media_id,
           (doc_id % 4 + 1) * 256 AS n,
           8000 + (doc_id % 3) * 4000 AS rate
    FROM documents),
s AS (
    SELECT media_id, n, rate,
           -- the synthesized signal in closed form: sample i =
           -- ((media_id*37 + i*11) % 65536) - 32768, exactly what a
           -- correct decode of the PCM bytes must recover
           list_transform(generate_series(0, n - 1),
                          i -> ((media_id * 37 + i * 11) % 65536) - 32768) AS p
    FROM clip)
SELECT media_id,
       CAST(rate AS BIGINT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(list_sum(p) AS DOUBLE) / n AS mean_amp,
       CAST(list_min(p) AS BIGINT) AS min_amp,
       CAST(list_max(p) AS BIGINT) AS max_amp,
       CAST(list_sum(list_transform(generate_series(1, n), i -> i * p[i]))
            AS BIGINT) AS checksum
FROM s
""")
def audio_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, oracle-gated: synthesize one mono 16-bit PCM
    WAV per document from a closed-form signal, decode the BYTES back
    (rate + samples parsed from RIFF chunks) and emit amplitude stats +
    an order-sensitive weighted checksum.  The oracle computes the same
    stats analytically from the signal formula, so endianness, chunk
    parsing, and sample extraction are all hash-gated.  Both stages are
    map-only mapInPandas; payloads never shuffle."""
    clips = multimodal.audio_corpus(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_audio_stats(clips)


@register("video_decode_roundtrip", """
WITH clip AS (
    SELECT doc_id AS media_id,
           doc_id % 4 + 3 AS w, doc_id % 3 + 3 AS h, doc_id % 3 + 2 AS nf
    FROM documents),
fr AS (
    SELECT media_id, w, h, unnest(generate_series(0, nf - 1)) AS frame_idx
    FROM clip),
px AS (
    SELECT media_id, frame_idx, w, h, 3 * w * h AS n,
           -- the synthesized clip's planar frame in closed form: frame f,
           -- flat index i = (media_id*13 + f*17 + i*7) % 256 — what a
           -- correct demux+decode of the y4m bytes must recover
           list_transform(generate_series(0, 3 * w * h - 1),
                          i -> (media_id * 13 + frame_idx * 17 + i * 7) % 256)
               AS p
    FROM fr)
SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(w AS BIGINT) AS px_w, CAST(h AS BIGINT) AS px_h,
       CAST(n AS BIGINT) AS n_vals,
       CAST(list_sum(p) AS DOUBLE) / n AS mean_val,
       CAST(list_min(p) AS BIGINT) AS min_val,
       CAST(list_max(p) AS BIGINT) AS max_val,
       CAST(list_sum(list_transform(generate_series(1, n), i -> i * p[i]))
            AS BIGINT) AS checksum
FROM px
""")
def video_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, oracle-gated: synthesize one YUV4MPEG2 clip
    per document from a closed-form planar signal, demux + decode the
    BYTES back (dims and frame boundaries parsed from the container),
    and emit per-frame plane stats + an order-sensitive checksum.  With
    image_decode_roundtrip and audio_decode_roundtrip this makes all
    three modalities' decoders real and hash-gated.  Both stages are
    map-only mapInPandas; payloads never shuffle."""
    clips = multimodal.video_corpus(load_table(spark, sf_dir, "documents"))
    return multimodal.decode_video_stats(clips)


@register("video_keyframe_selection", f"""
WITH clip AS (
    SELECT doc_id AS media_id,
           doc_id % 4 + 3 AS w, doc_id % 3 + 3 AS h,
           doc_id % 4 + 4 AS nf, doc_id % 3 + 2 AS sl
    FROM documents),
fr AS (
    SELECT media_id, w, h, nf, sl,
           unnest(generate_series(0, nf - 1)) AS f
    FROM clip),
d AS (
    SELECT media_id, f, nf, 3 * w * h AS n,
           -- the planted-cut signal in closed form: frame f, flat index
           -- i = (mid*13 + (f // sl)*{multimodal.KF_SHOT_JUMP} + f + i*7)
           -- % 256 — what a correct demux+decode must recover; frame 0
           -- has no predecessor, so its energy is 0
           CASE WHEN f = 0 THEN 0 ELSE list_sum(list_transform(
               generate_series(0, 3 * w * h - 1),
               i -> abs(((media_id * 13
                          + (f // sl) * {multimodal.KF_SHOT_JUMP}
                          + f + i * 7) % 256)
                      - ((media_id * 13
                          + ((f - 1) // sl) * {multimodal.KF_SHOT_JUMP}
                          + (f - 1) + i * 7) % 256))))
           END AS diff_sum
    FROM fr),
k AS (
    SELECT media_id, f,
           (f = 0 OR diff_sum > {multimodal.KF_THRESHOLD} * n) AS is_key
    FROM d)
SELECT media_id,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(count(*) FILTER (WHERE is_key) AS BIGINT) AS n_keyframes,
       string_agg(CAST(f AS VARCHAR), ',' ORDER BY f)
           FILTER (WHERE is_key) AS keyframes
FROM k GROUP BY media_id
""")
def video_keyframe_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-change keyframe selection (NEW round 11): one real y4m
    clip per document with PLANTED shot cuts (4-7 frames in shots of
    2-4), decoded from bytes; a frame is a keyframe iff it opens the
    clip or its abs-diff energy vs its predecessor exceeds
    {multimodal.KF_THRESHOLD} x values — the pairwise-difference
    shot-boundary detector every video curation pipeline runs before
    feature extraction (uniform stride oversamples static shots and
    misses cuts).  Per-clip output: frame count, keyframe count, and
    the ordered keyframe index list; energies are exact int64, so cut
    positions are hash-gated against the analytic replay.  Decode +
    detection are map-only mapInPandas — payloads never shuffle; the
    per-clip aggregate moves ~40 bytes per frame."""
    docs = load_table(spark, sf_dir, "documents")
    kf = multimodal.video_keyframes(multimodal.video_cut_corpus(docs))
    key_idx = F.when(F.col("is_keyframe"), F.col("frame_idx"))
    return (kf.groupBy("media_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_frames"),
                 F.sum(F.col("is_keyframe").cast("long")).cast("long")
                 .alias("n_keyframes"),
                 F.concat_ws(",", F.transform(
                     F.array_sort(F.collect_list(key_idx)),
                     lambda x: x.cast("string"))).alias("keyframes")))


@register("multimodal_feature_table", f"""
WITH img AS (
    SELECT doc_id AS media_id,
           (doc_id % 5 + 4) * (doc_id % 3 + 3) * 3 AS n
    FROM documents),
ipx AS (
    SELECT media_id,
           list_transform(generate_series(0, n - 1),
                          i -> (media_id * 31 + i * 7) % 256) AS p, n
    FROM img),
istats AS (
    SELECT media_id, CAST(n AS BIGINT) AS img_px,
           CAST(list_sum(p) AS DOUBLE) / n AS img_mean
    FROM ipx),
aud AS (
    SELECT doc_id AS media_id, (doc_id % 4 + 1) * 256 AS n
    FROM documents),
apx AS (
    SELECT media_id,
           list_transform(generate_series(0, n - 1),
                          i -> ((media_id * 37 + i * 11) % 65536) - 32768) AS p,
           n
    FROM aud),
astats AS (
    SELECT media_id, CAST(n AS BIGINT) AS audio_samples,
           CAST(list_sum(p) AS DOUBLE) / n AS audio_mean
    FROM apx),
vid AS (
    SELECT doc_id AS media_id, CAST(doc_id % 3 + 2 AS BIGINT) AS video_frames
    FROM documents)
SELECT i.media_id, i.img_px, round(i.img_mean, 6) AS img_mean,
       a.audio_samples, round(a.audio_mean, 6) AS audio_mean,
       v.video_frames
FROM istats i JOIN astats a USING (media_id) JOIN vid v USING (media_id)
""")
def multimodal_feature_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified multimodal feature row a training pipeline materializes
    per example: REAL image, audio, and video decodes joined on media_id
    into one table.  The scale property this pins: each modality's
    payload is decoded in its own map-only pandas stage, and ONLY the
    small stat rows meet at the join — payload bytes never reach an
    exchange."""
    docs = load_table(spark, sf_dir, "documents")
    img = (multimodal.decode_image_stats(multimodal.image_corpus(docs))
           .select("media_id", F.col("n_px").alias("img_px"),
                   F.round("mean_px", 6).alias("img_mean")))
    aud = (multimodal.decode_audio_stats(multimodal.audio_corpus(docs))
           .select("media_id", F.col("n_samples").alias("audio_samples"),
                   F.round("mean_amp", 6).alias("audio_mean")))
    vid = (multimodal.decode_video_stats(multimodal.video_corpus(docs))
           .groupBy("media_id")
           .agg(F.count("*").alias("video_frames")))
    return img.join(aud, "media_id").join(vid, "media_id")


@register("media_feature_summary", _MEDIA_CTE + """
SELECT media_type,
       CAST(COUNT(*) AS BIGINT) AS n_media,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       round(CAST(SUM(strlen(text)) AS DOUBLE) / COUNT(*), 6) AS avg_bytes
FROM media GROUP BY media_type
""")
def media_feature_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas decode stage feeding a JVM hash-agg: the shuffle moves only
    (media_type, n_bytes) rows — payload bytes never cross the exchange."""
    decoded = multimodal.decode_media(_media(spark, sf_dir))
    n = F.count("*")
    total = F.sum("n_bytes")
    return decoded.groupBy("media_type").agg(
        n.alias("n_media"), total.alias("total_bytes"),
        F.round(total.cast("double") / n, 6).alias("avg_bytes"))


@register("video_frame_samples", _MEDIA_CTE + f""",
v AS (SELECT media_id, text, (strlen(text) + {multimodal.FRAME_BYTES - 1})
          // {multimodal.FRAME_BYTES} AS n_frames
      FROM media WHERE media_type = 'video'),
f AS (SELECT media_id, text,
             unnest(generate_series(0, n_frames - 1,
                    {multimodal.FRAME_SAMPLE_EVERY})) AS frame_idx
      FROM v WHERE n_frames > 0)
SELECT media_id, frame_idx,
       CAST(strlen(substr(text, frame_idx * {multimodal.FRAME_BYTES} + 1,
            {multimodal.FRAME_BYTES})) AS BIGINT) AS frame_len,
       md5(substr(text, frame_idx * {multimodal.FRAME_BYTES} + 1,
            {multimodal.FRAME_BYTES})) AS frame_md5
FROM f
""")
def video_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: chunk video payloads into {multimodal.FRAME_BYTES}-
    byte frames, keep every {multimodal.FRAME_SAMPLE_EVERY}th, md5 each —
    one row per sampled frame out of the pandas stage."""
    return multimodal.sample_frames(_media(spark, sf_dir))


@register("image_resize_plan", _MEDIA_CTE + """
SELECT media_id,
       CAST(width AS BIGINT) AS orig_w,
       CAST(height AS BIGINT) AS orig_h,
       CAST(224 AS BIGINT) AS new_w,
       CAST(height * 224 // width AS BIGINT) AS new_h,
       CAST(224 * 1000000 // width AS BIGINT) AS scale_ppm
FROM media WHERE media_type = 'image'
""")
def image_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-stub geometry (aspect-preserving, integer-exact); the pixel
    pass is the clearly-marked stub in operators/multimodal.py."""
    return multimodal.resize_images(_media(spark, sf_dir))


@register("image_phash_groups", f"""
WITH img AS (
    SELECT doc_id AS media_id, doc_id % 5 + 4 AS w, doc_id % 3 + 3 AS h
    FROM documents),
g AS (
    SELECT media_id, w, h,
           list_transform(generate_series(0, w * h - 1),
               k -> (((media_id * 31 + (3 * k) * 7) % 256)
                   + ((media_id * 31 + (3 * k + 1) * 7) % 256)
                   + ((media_id * 31 + (3 * k + 2) * 7) % 256)) // 3)
               AS gl
    FROM img),
t AS (SELECT media_id, w, h, gl, list_sum(gl) AS tsum, w * h AS tn FROM g),
b AS (
    SELECT media_id, w, h, gl, tsum, tn,
           bb.by * {multimodal.PHASH_GW} + bb.bx AS j,
           (bb.bx * w) // {multimodal.PHASH_GW} AS xlo,
           ((bb.bx + 1) * w) // {multimodal.PHASH_GW} AS xhi,
           (bb.by * h) // {multimodal.PHASH_GH} AS ylo,
           ((bb.by + 1) * h) // {multimodal.PHASH_GH} AS yhi
    FROM t, (SELECT x.x AS bx, y.y AS by
             FROM (SELECT unnest(generate_series(
                       0, {multimodal.PHASH_GW - 1})) AS x) x,
                  (SELECT unnest(generate_series(
                       0, {multimodal.PHASH_GH - 1})) AS y) y) bb),
bits AS (
    SELECT media_id, j, tsum, tn,
           list_sum(list_transform(generate_series(0, tn - 1),
               k -> CASE WHEN k % w >= xlo AND k % w < xhi
                          AND k // w >= ylo AND k // w < yhi
                         THEN gl[k + 1] ELSE 0 END)) AS bsum,
           list_sum(list_transform(generate_series(0, tn - 1),
               k -> CASE WHEN k % w >= xlo AND k % w < xhi
                          AND k // w >= ylo AND k // w < yhi
                         THEN 1 ELSE 0 END)) AS bn
    FROM b),
ph AS (
    SELECT media_id,
           CAST(SUM(CASE WHEN bsum * tn > tsum * bn
                         THEN CAST(1 AS BIGINT) << j ELSE 0 END)
                AS BIGINT) AS phash
    FROM bits GROUP BY media_id)
SELECT phash, CAST(COUNT(*) AS BIGINT) AS n_images,
       string_agg(CAST(media_id AS VARCHAR), ' ' ORDER BY media_id)
           AS media_ids
FROM ph GROUP BY phash
""")
def image_phash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup dedup by PERCEPTUAL hash: every document's real
    encoded image (BMP/PPM bytes) is decoded and average-hashed —
    integer grayscale, {multimodal.PHASH_GH}x{multimodal.PHASH_GW}
    block grid, one bit per block via exact cross-multiplied mean
    comparison — then images are grouped by identical hash.  The
    fixture corpus differs largely by per-image brightness offsets,
    which aHash is invariant to by design, so genuine dedup groups
    emerge; the oracle recomputes every hash analytically from the
    closed-form pixel pattern.  Only 8-byte hashes reach the exchange;
    payload bytes never shuffle.  See operators/multimodal.py:
    image_phash."""
    docs = load_table(spark, sf_dir, "documents")
    ph = multimodal.image_phash(multimodal.image_corpus(docs))
    ids_str = F.concat_ws(
        " ", F.transform(F.array_sort(F.collect_list("media_id")),
                         lambda m: m.cast("string")))
    return (ph.groupBy("phash")
            .agg(F.count(F.lit(1)).cast("long").alias("n_images"),
                 ids_str.alias("media_ids")))


# ---- audio perceptual-fingerprint dedup -------------------------------------

_FPF, _FPB = multimodal.FP_FRAMES, multimodal.FP_BANDS
_FP_BASES = multimodal.AUDIO_FP_BASES
_FP_SAMPLE = ("CAST({s} * (((i * i * 11 + i * (97 + bid * 13) + bid * 37) "
              "% 16384) - 8192) AS BIGINT)")


@register("audio_fingerprint_groups", f"""
WITH a AS (
    SELECT doc_id AS media_id,
           doc_id % {_FP_BASES} AS bid,
           (doc_id // {_FP_BASES}) % 3 + 1 AS s
    FROM documents),
d AS (SELECT media_id, bid, s,
             (bid % 4 + 1) * 256 // {_FPF * _FPB} AS w
      FROM a),
e AS (
    SELECT media_id, ff.f, bb.b,
           list_sum(list_transform(
               generate_series((ff.f * {_FPB} + bb.b) * w,
                               (ff.f * {_FPB} + bb.b + 1) * w - 1),
               i -> {_FP_SAMPLE.format(s='s')}
                    * {_FP_SAMPLE.format(s='s')})) AS en
    FROM d,
         (SELECT unnest(generate_series(0, {_FPF - 1})) AS f) ff,
         (SELECT unnest(generate_series(0, {_FPB - 1})) AS b) bb),
bp AS (
    SELECT e1.media_id, e1.f * {_FPB - 1} + e1.b AS j,
           CASE WHEN e1.en > e2.en THEN 1 ELSE 0 END AS bit
    FROM e e1 JOIN e e2 ON e1.media_id = e2.media_id
         AND e1.f = e2.f AND e2.b = e1.b + 1),
te AS (SELECT media_id, f, SUM(en) AS ten FROM e GROUP BY media_id, f),
fb AS (
    SELECT t1.media_id, {_FPF * (_FPB - 1)} + t1.f AS j,
           CASE WHEN t1.ten > t2.ten THEN 1 ELSE 0 END AS bit
    FROM te t1 JOIN te t2 ON t1.media_id = t2.media_id
         AND t2.f = t1.f + 1),
fpt AS (
    SELECT media_id, CAST(SUM(CAST(bit AS BIGINT) << j) AS BIGINT) AS afp
    FROM (SELECT * FROM bp UNION ALL SELECT * FROM fb)
    GROUP BY media_id)
SELECT afp, CAST(COUNT(*) AS BIGINT) AS n_clips,
       string_agg(CAST(media_id AS VARCHAR), ' ' ORDER BY media_id)
           AS media_ids
FROM fpt GROUP BY afp
""")
def audio_fingerprint_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup dedup by PERCEPTUAL fingerprint — the audio
    sibling of image_phash_groups: every document's real WAV bytes are
    decoded and chromaprint-style fingerprinted ({_FPF} frames x
    {_FPB} energy bands, bits = signs of adjacent-cell energy
    differences — loudness-invariant by construction), then clips are
    grouped by identical fingerprint.  The fixture corpus plants real
    near-dups (same base waveform at amplitude scales 1-3, varied
    sample rates), so genuine dedup groups emerge, and the oracle
    recomputes every energy comparison analytically from the
    closed-form signal.  Map-only decode; only the 8-byte fingerprint
    reaches the exchange — at 100 TB this is one pass over the audio
    corpus with a fingerprint-keyed rollup, the exact plan of the
    image twin.  See operators/multimodal.py:audio_fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    fp = multimodal.audio_fingerprint(
        multimodal.audio_fp_corpus(docs))
    ids_str = F.concat_ws(
        " ", F.transform(F.array_sort(F.collect_list("media_id")),
                         lambda m: m.cast("string")))
    return (fp.groupBy("afp")
            .agg(F.count(F.lit(1)).cast("long").alias("n_clips"),
                 ids_str.alias("media_ids")))


# Cross-modal pair curation gates (DataComp/LAION "basic filtering"
# constants, scaled to the fixture's dims/caption lengths so every gate
# BINDS at test scale; the model-based CLIP-score gate needs a model
# the container lacks and is the one documented omission).
PAIR_CAP_MIN, PAIR_CAP_MAX = 20, 80   # caption tokens
PAIR_TTR_MIN = 0.35                   # caption distinct-token ratio
PAIR_MIN_DIM = 4                      # decoded pixels, min(w, h)
PAIR_AR_NUM, PAIR_AR_DEN = 2, 1       # aspect: max(w,h) <= 2*min(w,h)


@register("crossmodal_pair_curation", f"""
WITH cap AS (
    SELECT doc_id, source,
           {TOKENS_SQL} AS toks
    FROM documents),
g AS (
    SELECT source,
           len(toks) BETWEEN {PAIR_CAP_MIN} AND {PAIR_CAP_MAX} AS len_ok,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               >= {PAIR_TTR_MIN} AS ttr_ok,
           -- decoded image dims in closed form (the Spark side parses
           -- them back out of real BMP/PPM headers)
           least(doc_id % 5 + 4, doc_id % 3 + 3) >= {PAIR_MIN_DIM}
               AS res_ok,
           greatest(doc_id % 5 + 4, doc_id % 3 + 3) * {PAIR_AR_DEN}
               <= least(doc_id % 5 + 4, doc_id % 3 + 3) * {PAIR_AR_NUM}
               AS aspect_ok
    FROM cap)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(*) FILTER (WHERE len_ok AND ttr_ok AND res_ok
                             AND aspect_ok) AS BIGINT) AS n_kept,
       CAST(COUNT(*) FILTER (WHERE NOT len_ok) AS BIGINT)
           AS n_drop_caption_len,
       CAST(COUNT(*) FILTER (WHERE NOT ttr_ok) AS BIGINT)
           AS n_drop_caption_ttr,
       CAST(COUNT(*) FILTER (WHERE NOT res_ok) AS BIGINT)
           AS n_drop_resolution,
       CAST(COUNT(*) FILTER (WHERE NOT aspect_ok) AS BIGINT)
           AS n_drop_aspect
FROM g GROUP BY source
""")
def crossmodal_pair_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal (image, caption) pair curation (round-12 frontier) —
    the CLIP-data/DataComp "basic filtering" recipe composed from the
    REAL pieces this engine already has: one encoded image per document
    (image_corpus) is DECODED back (format sniffed, dims parsed from
    the BMP/PPM headers — the decode is load-bearing: the oracle's
    closed-form dims only match if the header parse is right), joined
    1:1 to its caption (the document text), and gated on caption length
    [{PAIR_CAP_MIN}, {PAIR_CAP_MAX}] tokens, caption distinct-token
    ratio >= {PAIR_TTR_MIN} (repetition junk), decoded min dimension >=
    {PAIR_MIN_DIM}px, and aspect ratio <= {PAIR_AR_NUM}:{PAIR_AR_DEN}.
    Per source: pair count, kept count, and per-gate drop counts
    (gates counted independently — the ablation view a curation run
    reports).  The model-based CLIP-similarity gate is the documented
    omission (no model in this container); its slot in the plan is the
    same broadcast-scored projection as knn_label_consistency.

    Scale shape: decode is map-only mapInPandas (payload bytes never
    shuffle); caption gates are codegen'd expressions on the documents
    scan; the 1:1 join keys on doc_id; the only exchange is the final
    20-group aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    decoded = multimodal.decode_image_stats(
        multimodal.image_corpus(docs)).select("media_id", "px_w", "px_h")
    toks = tokens(F.col("text"))
    cap = docs.select(
        F.col("doc_id"), "source",
        F.size(toks).alias("n_toks"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"))
    g = (cap.join(decoded, cap.doc_id == decoded.media_id)
         .select(
             "source",
             F.col("n_toks").between(PAIR_CAP_MIN, PAIR_CAP_MAX)
             .alias("len_ok"),
             (F.col("ttr") >= PAIR_TTR_MIN).alias("ttr_ok"),
             (F.least("px_w", "px_h") >= PAIR_MIN_DIM).alias("res_ok"),
             (F.greatest("px_w", "px_h") * PAIR_AR_DEN
              <= F.least("px_w", "px_h") * PAIR_AR_NUM).alias("aspect_ok")))
    keep = (F.col("len_ok") & F.col("ttr_ok") & F.col("res_ok")
            & F.col("aspect_ok"))

    def drops(c: str):
        return F.sum((~F.col(c)).cast("long")).cast("long")

    return (g.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum(keep.cast("long")).cast("long").alias("n_kept"),
                 drops("len_ok").alias("n_drop_caption_len"),
                 drops("ttr_ok").alias("n_drop_caption_ttr"),
                 drops("res_ok").alias("n_drop_resolution"),
                 drops("aspect_ok").alias("n_drop_aspect")))
