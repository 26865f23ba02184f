"""Multimodal-column queries: binary payload + metadata (full oracle)
and the Arrow-batched feature-extraction stub (rows-only; the decode is
stubbed — see functions/multimodal.decode_stub — but the Spark plumbing
is real and the fake features are deterministic)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import multimodal as MM
from ..sources.parquet_source import table
from . import lazy_cache, query

# r15 replan for the four decode queries below (guide §2.4 / §4, the
# edit1 persist-before-sort recipe, VERDICT r14 ask #5): each ends in
# a global orderBy whose rangepartitioning runs a SEPARATE range-
# bounds sampling job over its child before the shuffle writes — with
# an uncached child the whole narrow chain BELOW the sort, including
# the mapInPandas decode kernel, executes a second time (structural
# 2x on the Python boundary; the payload synthesis + Arrow transfer +
# decode all re-run). Persisting the pre-sort relation makes the
# sampling pass materialize it once and the sort shuffle read it
# back. Rows identical (the persist is above every value-producing
# operator); exchange counts unchanged.


@query(
    "multimodal_binary_meta",
    oracle="""
    WITH t AS (SELECT doc_id,
                      regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')
                          AS text
               FROM documents)
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           'application/octet-stream' AS mime,
           hex(encode(substring(text, 1, 4))) AS magic_hex
    FROM t
    """,
    doc="binary media columns with typed metadata struct (byte length, "
        "mime, magic prefix)",
    exchanges=0,
)
def multimodal_binary_meta(spark, sf_dir):
    media = MM.with_binary_content(table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.mime").alias("mime"),
        F.col("media_meta.magic_hex").alias("magic_hex"),
    )


@query(
    "multimodal_feature_extract",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
      FROM documents),
    nz AS (SELECT doc_id, text FROM t WHERE length(text) > 0),
    pp AS (SELECT doc_id,
                  repeat(text, CAST(ceil({MM._PPM_PIXELS}.0
                      / length(text)) + 1 AS INT)) AS r
           FROM nz WHERE doc_id % 2 = 0),
    px AS (SELECT doc_id, ascii(substr(r, p + 1, 1)) AS byte
           FROM pp, (SELECT unnest(generate_series(
               0, {MM._PPM_PIXELS - 1})) AS p)),
    pa AS (SELECT doc_id, CAST(sum(byte) AS BIGINT) AS fs
           FROM px GROUP BY 1),
    wv AS (SELECT doc_id,
                  repeat(text, CAST(ceil({MM._WAV_DATA_BYTES}.0
                      / length(text)) + 1 AS INT)) AS r
           FROM nz WHERE doc_id % 2 = 1),
    sm AS (SELECT doc_id,
                  ascii(substr(r, 2 * j + 1, 1))
                  + 256 * ascii(substr(r, 2 * j + 2, 1)) AS s
           FROM wv, (SELECT unnest(generate_series(
               0, {MM.WAV_SAMPLES - 1})) AS j)),
    wa AS (SELECT doc_id, CAST(sum(s * s) AS BIGINT) AS fs
           FROM sm GROUP BY 1),
    u AS (
      SELECT doc_id, 'image/x-portable-pixmap' AS mime,
             CAST({MM.PPM_HEADER_LEN + MM._PPM_PIXELS} AS BIGINT)
                 AS n_bytes,
             CAST({MM._PPM_PIXELS} AS BIGINT) AS n_units, fs
      FROM pa
      UNION ALL
      SELECT doc_id, 'audio/wav',
             CAST({MM.WAV_HEADER_LEN + MM._WAV_DATA_BYTES} AS BIGINT),
             CAST({MM.WAV_SAMPLES} AS BIGINT), fs
      FROM wa)
    SELECT doc_id, mime, n_bytes, n_units,
           fs AS feat_sum,
           CAST((2 * fs * 1000000 + n_units) // (2 * n_units)
                AS DOUBLE) / 1000000.0 AS feat6,
           TRUE AS decode_ok
    FROM u ORDER BY doc_id
    """,
    doc="the GENERIC media feature-extract slot, now value-verified "
        "end to end: a mixed-format media lake (even doc_id -> real P6 "
        "image, odd -> real PCM16 WAV, synthesized in one scan) flows "
        "through one magic-byte-dispatching mapInPandas kernel that "
        "routes each payload to the REAL decoder (decode_ppm / "
        "decode_wav); decode_stub is reached only for formats the "
        "container genuinely cannot parse (JPEG/PNG/FLAC — dead branch "
        "on this table, live in production). Features are exact "
        "integers (byte sum / energy) plus one 6-dp mean computed by "
        "the same integer half-away formula on both engines. Narrow "
        "Arrow-batched map, zero shuffle; decode output persisted "
        "before the output sort (r15, see module note)",
    scoped=True,
    # orderBy only; decode narrow
    exchanges=1,
)
def _mfe_plan(spark, sf_dir, cache=lazy_cache):
    media = MM.with_mixed_media(table(spark, sf_dir, "documents"))
    return cache(
        MM.extract_media_features(media)
        .select("doc_id", "mime", "n_bytes", "n_units", "feat_sum",
                "feat6", "decode_ok")).orderBy("doc_id")


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
      FROM documents),
    f AS (
      SELECT doc_id, text,
             unnest(generate_series(
                 0, (length(text) - 1) // 16, 4)) AS frame_idx
      FROM t WHERE length(text) > 0)
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(('0x' || substr(md5(
               substr(text, frame_idx * 16 + 1, 16)), 1, 15))
               AS BIGINT) AS frame_hash,
           CAST(length(substr(text, frame_idx * 16 + 1, 16))
               AS BIGINT) AS frame_len
    FROM f ORDER BY doc_id, frame_idx
    """,
    doc="video-style frame sampling over binary payloads: 16-byte "
        "frames, every 4th sampled, each fingerprinted with the 60-bit "
        "md5 (what media dedup/contamination joins on). mapInPandas "
        "fan-out inside the Arrow batch, no shuffle; the payloads are "
        "ASCII so the oracle reproduces the byte slicing with string "
        "ops and hashes the identical frames; frame rows persisted "
        "before the output sort (r15, see module note)",
    scoped=True,
    exchanges=1,
)
def _mfs_plan(spark, sf_dir, cache=lazy_cache):
    media = MM.with_binary_content(table(spark, sf_dir, "documents"))
    return cache(MM.sample_frames(media)).orderBy("doc_id",
                                                  "frame_idx")


@query(
    "multimodal_ppm_decode",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
      FROM documents),
    rep AS (
      SELECT doc_id,
             repeat(text, CAST(ceil(192.0 / length(text)) + 1 AS INT))
                 AS r
      FROM t WHERE length(text) > 0),
    px AS (SELECT doc_id, p,
                  ascii(substr(r, p + 1, 1)) AS byte
           FROM rep, (SELECT unnest(generate_series(0, 191)) AS p)),
    ch AS (SELECT doc_id, p % 3 AS c,
                  CAST(sum(byte) AS BIGINT) AS s
           FROM px GROUP BY 1, 2)
    SELECT doc_id,
           CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
           ROUND(CAST(max(CASE WHEN c = 0 THEN s END) AS DOUBLE) / 64,
                 6) AS mean_r,
           ROUND(CAST(max(CASE WHEN c = 1 THEN s END) AS DOUBLE) / 64,
                 6) AS mean_g,
           ROUND(CAST(max(CASE WHEN c = 2 THEN s END) AS DOUBLE) / 64,
                 6) AS mean_b,
           TRUE AS decode_ok
    FROM ch GROUP BY doc_id ORDER BY doc_id
    """,
    doc="REAL image decode, not a stub: each doc gets a valid 8x8 P6 "
        "PPM payload (header + text bytes as RGB), and the "
        "mapInPandas kernel PARSES the binary format — magic, dims, "
        "maxval, raw pixel grid — with pure numpy, emitting dimensions "
        "and exact per-channel means (integer byte sums / 64). The "
        "oracle recomputes the same means from the source text bytes, "
        "so the whole decode path is value-verified cross-engine. "
        "Codec formats still stub (functions/multimodal.decode_stub); "
        "this proves the decode slot works end to end on a format the "
        "container can actually parse. No shuffle: decode is a narrow "
        "Arrow-batched map, persisted before the output sort (r15, "
        "see module note)",
    scoped=True,
    exchanges=1,
)
def _mpd_plan(spark, sf_dir, cache=lazy_cache):
    docs = table(spark, sf_dir, "documents")
    media = MM.with_ppm_payload(docs)
    return cache(
        MM.extract_ppm_features(media)
        .select("doc_id", "width", "height",
                F.round("mean_r", 6).alias("mean_r"),
                F.round("mean_g", 6).alias("mean_g"),
                F.round("mean_b", 6).alias("mean_b"),
                "decode_ok")).orderBy("doc_id")


@query(
    "multimodal_wav_decode",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
      FROM documents),
    rep AS (
      SELECT doc_id,
             repeat(text, CAST(ceil({MM._WAV_DATA_BYTES}.0
                 / length(text)) + 1 AS INT)) AS r
      FROM t WHERE length(text) > 0),
    sm AS (SELECT doc_id,
                  ascii(substr(r, 2 * j + 1, 1))
                  + 256 * ascii(substr(r, 2 * j + 2, 1)) AS s
           FROM rep, (SELECT unnest(generate_series(
               0, {MM.WAV_SAMPLES - 1})) AS j)),
    ag AS (SELECT doc_id, CAST(max(s) AS BIGINT) AS peak_amp,
                  CAST(sum(s * s) AS BIGINT) AS sum_sq
           FROM sm GROUP BY doc_id)
    SELECT doc_id, CAST({MM.WAV_RATE} AS BIGINT) AS sample_rate,
           CAST({MM.WAV_SAMPLES} AS BIGINT) AS n_samples,
           peak_amp, sum_sq,
           ROUND(sqrt(CAST(sum_sq AS DOUBLE) / {MM.WAV_SAMPLES}), 6)
               AS rms,
           TRUE AS decode_ok
    FROM ag ORDER BY doc_id
    """,
    doc="REAL audio decode: each doc gets a valid PCM16-mono RIFF/WAVE "
        "payload (constant 44-byte header via unhex — UTF-8 cannot "
        "emit the 0x80+ length bytes — plus text bytes as little-"
        "endian sample pairs), and the mapInPandas kernel walks the "
        "actual chunk structure: RIFF magic, fmt chunk (PCM, channels, "
        "rate, bits), data chunk, numpy '<i2' samples. Features are "
        "exact integers (peak, sum of squares) plus one RMS whose "
        "sqrt input is an exact power-of-two division, so the value "
        "is engine-independent; the oracle recomputes the samples "
        "from per-character codepoints. Narrow Arrow-batched map, "
        "no shuffle — the audio twin of multimodal_ppm_decode; "
        "persisted before the output sort (r15, see module note)",
    scoped=True,
    # narrow decode + output sort
    exchanges=1,
)
def _mwd_plan(spark, sf_dir, cache=lazy_cache):
    docs = table(spark, sf_dir, "documents")
    media = MM.with_wav_payload(docs)
    return cache(
        MM.extract_wav_features(media)
        .select("doc_id", "sample_rate", "n_samples", "peak_amp",
                "sum_sq", F.round("rms", 6).alias("rms"),
                "decode_ok")).orderBy("doc_id")


@query(
    "image_patchify",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
      FROM documents),
    rep AS (
      SELECT doc_id,
             repeat(text, CAST(ceil(192.0 / length(text)) + 1 AS INT))
                 AS r
      FROM t WHERE length(text) > 0),
    px AS (SELECT doc_id, p, ascii(substr(r, p + 1, 1)) AS byte
           FROM rep, (SELECT unnest(generate_series(0, 191)) AS p)),
    g AS (SELECT doc_id,
                 ((p // 3) // 8) // 4 AS patch_row,
                 ((p // 3) % 8) // 4 AS patch_col,
                 p % 3 AS c,
                 CAST(sum(byte) AS BIGINT) AS s
          FROM px GROUP BY 1, 2, 3, 4)
    SELECT doc_id,
           CAST(patch_row AS BIGINT) AS patch_row,
           CAST(patch_col AS BIGINT) AS patch_col,
           ROUND(CAST(max(CASE WHEN c = 0 THEN s END) AS DOUBLE) / 16,
                 6) AS mean_r,
           ROUND(CAST(max(CASE WHEN c = 1 THEN s END) AS DOUBLE) / 16,
                 6) AS mean_g,
           ROUND(CAST(max(CASE WHEN c = 2 THEN s END) AS DOUBLE) / 16,
                 6) AS mean_b
    FROM g GROUP BY doc_id, patch_row, patch_col
    ORDER BY doc_id, patch_row, patch_col
    """,
    doc="ViT-style patch extraction on real decoded pixels: decode the "
        "8x8 P6 payload, split into a 2x2 grid of 4x4 patches, reduce "
        "each patch to exact per-channel means via one vectorized "
        "numpy reshape-sum (integer sums / 16 — order-insensitive). "
        "This is the image->patch-grid->vector preprocessing every "
        "vision-transformer ingest pipeline runs; the oracle "
        "recomputes patch membership from byte positions "
        "(pixel = p DIV 3, row = pixel DIV 8, patch = row DIV 4). "
        "Per-row fan-out (4 patches/doc) stays inside the Arrow "
        "batch — no shuffle",
    # narrow decode + output sort
    exchanges=1,
)
def image_patchify(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    media = MM.with_ppm_payload(docs)
    return (MM.patchify_ppm(media)
            .select("doc_id", "patch_row", "patch_col",
                    F.round("mean_r", 6).alias("mean_r"),
                    F.round("mean_g", 6).alias("mean_g"),
                    F.round("mean_b", 6).alias("mean_b"))
            .orderBy("doc_id", "patch_row", "patch_col"))


@query(
    "audio_frame_features",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_replace(text, '[^\\x00-\\x7F]', '', 'g') AS text
      FROM documents),
    rep AS (
      SELECT doc_id,
             repeat(text, CAST(ceil({MM._WAV_DATA_BYTES}.0
                 / length(text)) + 1 AS INT)) AS r
      FROM t WHERE length(text) > 0),
    sm AS (SELECT doc_id, j,
                  ascii(substr(r, 2 * j + 1, 1))
                  + 256 * ascii(substr(r, 2 * j + 2, 1)) AS s
           FROM rep, (SELECT unnest(generate_series(
               0, {MM.WAV_SAMPLES - 1})) AS j)),
    fr AS (SELECT doc_id, j // {MM.WAV_FRAME} AS frame_id, j, s,
                  CAST(sum(s) OVER (PARTITION BY doc_id,
                       j // {MM.WAV_FRAME}) AS BIGINT) AS fs
           FROM sm),
    sg AS (SELECT doc_id, frame_id, j, s,
                  CASE WHEN {MM.WAV_FRAME} * s - fs >= 0
                       THEN 1 ELSE -1 END AS sgn
           FROM fr),
    sg2 AS (SELECT doc_id, frame_id, s, sgn,
                   lag(sgn) OVER (PARTITION BY doc_id, frame_id
                                  ORDER BY j) AS psgn
            FROM sg),
    zc AS (SELECT doc_id, frame_id,
                  CAST(sum(CASE WHEN psgn IS NOT NULL AND sgn <> psgn
                       THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
                  CAST(sum(s * s) AS BIGINT) AS sum_sq
           FROM sg2 GROUP BY doc_id, frame_id)
    SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
           CAST({MM.WAV_FRAME} AS BIGINT) AS n, sum_sq,
           ROUND(sqrt(CAST(sum_sq AS DOUBLE) / {MM.WAV_FRAME}), 6)
               AS rms,
           zero_crossings
    FROM zc ORDER BY doc_id, frame_id
    """,
    doc=f"frame-level audio features over REAL decoded PCM "
        f"({MM.WAV_FRAME}-sample frames): per-frame energy (exact "
        "integer sum of squares, RMS from one power-of-two division) "
        "and zero-crossing rate of the mean-centered frame — the "
        "first two features of every audio-quality / voice-activity "
        "pipeline. Centering happens in EXACT integers (sign of "
        "n*s - frame_sum, never a float mean), so the crossing "
        "count is engine-independent; the oracle replays the DSP "
        "from per-character codepoints through window algebra. The "
        "kernel is a narrow Arrow-batched mapInPandas over the "
        "binary column — zero shuffle, like every decode path",
    exchanges=1,
)
def audio_frame_features(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    media = MM.with_wav_payload(docs)
    return (MM.extract_wav_frames(media)
            .select("doc_id", "frame_id", "n", "sum_sq",
                    F.round("rms", 6).alias("rms"), "zero_crossings")
            .orderBy("doc_id", "frame_id"))
