"""Multimodal operators over REAL container files (round 6).

Provenance note (SURVEY.md §0 applies — empty reference checkout):
round 2 shipped these five op ids with real Arrow plumbing but stub
decode kernels (no Pillow/ffmpeg/wfdb in this container). Round 6
replaces the stubs with genuine pure-numpy parsers for four PUBLIC
self-describing formats (operators/codecs.py: uncompressed BMP, RIFF
PCM WAVE, EDF — Kemp et al. 1992 — and YUV4MPEG2), running over real
committed fixture files (tools/gen_derived.py ``--media``,
testdata_derived/media/). Entropy-coded formats (JPEG/MP3/H.264) slot
in at deploy time behind the same sniff-dispatch.

Oracle strategy — the fixtures are GENERATED, so their ground truth is
a closed-form formula the DuckDB oracle re-derives independently of
the decoder, in pure integer arithmetic:

- video frame stats: the oracle rebuilds each frame's luma sum from
  the generator's gradient+moving-square formula over
  ``generate_series`` — if the Y4M parser mis-reads a single byte of
  any sampled plane, the sums diverge;
- audio frame features: the fixture tone is an integer square wave
  (period/fade closed-form), so per-frame Σx² and zero-crossing
  counts are exact BIGINTs both engines derive from scratch;
- EDF r-peaks: the planted beat grid (every ``70 + id % 30`` samples)
  is the same contract the synthetic-signal r-peak ops verify — here
  the samples come out of a real EDF container instead;
- asset catalog: byte sizes come from DuckDB's ``read_blob`` over the
  SAME files (byte-level disk truth) joined to the generator's
  dimension table;
- perceptual-hash dedup: the oracle is the PLANTED near-duplicate
  pair list (generator truth). Blocking is provably complete: 4×16-bit
  bands ⇒ hamming ≤ 3 collides on ≥1 band (pigeonhole), and the
  verify threshold is 2.

``multimodal_resize`` stays rows-only: its thumbnail values depend on
seeded-RNG scene content no SQL can re-derive; its kernel is
known-answer-tested against an independent reference implementation
in tests/test_media_ops.py instead.

Scale notes: binaryFile scan → mapInPandas decode parallelizes by
partition exactly like any other scan; per-asset outputs are one row
or a bounded executor-side fan-out (frames/samples); the near-dup join
is banded (never all-pairs). At 100 TB the only change is the file
listing (manifest-driven instead of directory glob).
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import media, peaks
from ..operators.textops import simhash_pairs
from .registry import query

_ROOT = _os.path.dirname(_os.path.dirname(_os.path.dirname(
    _os.path.abspath(__file__))))
_MEDIA = _os.path.join(_ROOT, "testdata_derived", "media")


def _assets(spark: SparkSession, pattern: str = "*") -> DataFrame:
    """binaryFile scan of the media fixtures → (file, content). The
    basename is the asset key (paths differ per checkout)."""
    return (spark.read.format("binaryFile")
            .load(_os.path.join(_MEDIA, pattern))
            .select(F.element_at(F.split("path", "/"), -1).alias("file"),
                    "content"))


# Generator ground truth for the asset catalog (tools/gen_derived.py
# gen_media): BMP pairs use sizes[k] as (h, w); the 8 unique scenes
# pass swapped dims to the renderer, so their decoded (w, h) flip.
_SIZES = [(32, 32), (36, 48), (25, 25), (48, 64),
          (32, 32), (40, 33), (32, 32), (36, 48)]


def _expected_meta_values() -> str:
    rows = []
    for k in range(8):
        h, w = _SIZES[k]
        for idx in (2 * k, 2 * k + 1):
            rows.append((f"img_{idx:03d}.bmp", "image/bmp",
                         w, h, 1, 1, None, None))
    for k in range(8):
        h, w = _SIZES[k]
        rows.append((f"img_{16 + k:03d}.bmp", "image/bmp",
                     h, w, 1, 1, None, None))
    for i in range(8):
        rows.append((f"tone_{i:03d}.wav", "audio/wav",
                     None, None, None, 1, 8000, 4000))
    for i in range(4):
        rows.append((f"clip_{i:03d}.y4m", "video/y4m",
                     32, 24, 16, 1, 25, None))
    for i in range(6):
        rows.append((f"ecg_{i:03d}.edf", "signal/edf",
                     None, None, 8, 2, 128, 1024))
    for i in range(6):
        rows.append((f"holter_{i:03d}.edf", "signal/edf",
                     None, None, 16, 1, 128, 2048))

    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return f"'{v}'"
        return str(v)

    return ",\n  ".join("(" + ", ".join(lit(v) for v in r) + ")"
                        for r in rows)


@query("multimodal_table", oracle=f"""
WITH blobs AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
         CAST(size AS BIGINT) AS n_bytes
  FROM read_blob('{_MEDIA}/*')
), expected(file, modality, width, height, n_frames, n_channels,
            sample_rate, n_samples) AS (VALUES
  {_expected_meta_values()}
)
SELECT b.file, e.modality, b.n_bytes,
       CAST(e.width AS INT) AS width, CAST(e.height AS INT) AS height,
       CAST(e.n_frames AS INT) AS n_frames,
       CAST(e.n_channels AS INT) AS n_channels,
       CAST(e.sample_rate AS INT) AS sample_rate,
       CAST(e.n_samples AS BIGINT) AS n_samples
FROM blobs b JOIN expected e USING (file)
ORDER BY file
""")
def multimodal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mixed-modality asset CATALOG: binaryFile scan over real
    BMP/WAV/Y4M/EDF files → magic-byte sniff → per-format header
    decode → one typed metadata row per asset (operators/media.py
    probe_media, a mapInPandas stage over real parsers). The oracle
    joins DuckDB's read_blob over the SAME files (byte sizes from
    disk) to the generator's dimension table — a decoder that misreads
    any header field diverges."""
    return (_assets(spark, "*")
            .mapInPandas(media.probe_media, schema=media.PROBE_SCHEMA)
            .orderBy("file"))


@query("multimodal_resize", oracle=f"""
WITH b AS (SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
                  hex(content) AS hx
           FROM read_blob('{_MEDIA}/img_*.bmp')),
hdr AS (SELECT file,
          CAST(('0x' || hx[37:38]) AS BIGINT)
          + 256 * CAST(('0x' || hx[39:40]) AS BIGINT)
          + 65536 * CAST(('0x' || hx[41:42]) AS BIGINT)
          + 16777216 * CAST(('0x' || hx[43:44]) AS BIGINT) AS w_raw,
          CAST(('0x' || hx[45:46]) AS BIGINT)
          + 256 * CAST(('0x' || hx[47:48]) AS BIGINT)
          + 65536 * CAST(('0x' || hx[49:50]) AS BIGINT)
          + 16777216 * CAST(('0x' || hx[51:52]) AS BIGINT) AS h_raw
        FROM b)
SELECT file, CAST(w_raw AS INT) AS in_w,
       CAST(ABS(CASE WHEN h_raw >= 2147483648
                     THEN h_raw - 4294967296 ELSE h_raw END) AS INT)
         AS in_h,
       8 AS out_w, 8 AS out_h,
       CAST(64 AS BIGINT) AS thumb_bytes,
       w_raw > 0 AS sum_in_range
FROM hdr ORDER BY file
""")
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image resize: decode BMP (24-bit BGR→luma and 8-bit
    palettized, bottom-up and top-down row orders) → exact integer
    8×8 block-average thumbnail via an integral image (operators/
    media.py bmp_thumbnail). Binary-in/binary-out with size metadata;
    at scale the stage parallelizes by partition, so skewed payload
    mixes get a size-based repartition first. Upgraded from rows-only
    to a HEADER-PARSE EVAL with a full SQL oracle (round 9,
    multimodal_table precedent): the thumbnail CONTENT is seeded-RNG
    scene data no SQL re-derives (it stays known-answer-tested against
    an independent reference in tests/test_media_ops.py), but the
    decode geometry is — the oracle re-parses each BMP's
    BITMAPINFOHEADER from the SAME bytes (read_blob → hex-string
    arithmetic: 4-byte LE width at offset 18, SIGNED height at 22 —
    abs() mirrors the decoder's top-down/bottom-up normalization), so
    a decoder that misreads dimensions, drops the palette branch, or
    emits a wrong-sized thumbnail diverges on in_w/in_h/thumb_bytes;
    sum_in_range pins the pooled plane into [0, 255]·64."""
    thumbs = (_assets(spark, "img_*.bmp")
              .mapInPandas(media.bmp_thumbnail, schema=media.THUMB_SCHEMA))
    return (thumbs.select(
                "file", "in_w", "in_h", "out_w", "out_h",
                F.length("thumb").cast("long").alias("thumb_bytes"),
                ((F.col("thumb_sum") >= 0)
                 & (F.col("thumb_sum") <= 255 * 64))
                .alias("sum_in_range"))
            .orderBy("file"))


@query("multimodal_frame_sample", oracle="""
WITH clips AS (SELECT unnest(generate_series(0, 3)) AS i),
fr AS (SELECT i, unnest([0, 4, 8, 12]) AS f FROM clips),
yy AS (SELECT unnest(generate_series(0, 23)) AS y),
xx AS (SELECT unnest(generate_series(0, 31)) AS x),
cell AS (
  SELECT i, f,
         CASE WHEN y >= (2 * f + 3 * i) % 16
               AND y < (2 * f + 3 * i) % 16 + 8
               AND x >= (3 * f + 5 * i) % 24
               AND x < (3 * f + 5 * i) % 24 + 8
              THEN 255 ELSE (y * 3 + x * 5 + 17 * i) % 200 END AS luma
  FROM fr, yy, xx)
SELECT printf('clip_%03d.y4m', i) AS file,
       CAST(f AS INT) AS frame_idx,
       CAST(f * 40 AS BIGINT) AS frame_ts_ms,
       CAST(SUM(luma) AS BIGINT) AS luma_sum,
       CAST(SUM(luma) AS DOUBLE) / 768 AS mean_luma
FROM cell GROUP BY i, f ORDER BY file, frame_idx
""")
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video frame sampling: parse the YUV4MPEG2 stream header
    (W/H/F tags), walk FRAME markers, keep every 4th luma plane, emit
    per-frame stats (operators/media.py y4m_frames — executor-side
    fan-out, output cardinality never touches the driver). The oracle
    REBUILDS each sampled frame's luma sum from the generator's
    gradient+moving-square closed form over generate_series — one
    mis-read plane byte and the sums diverge. Timestamps derive from
    the stream's own frame-rate tag (25 fps → 40 ms)."""
    frames = (_assets(spark, "clip_*.y4m")
              .mapInPandas(media.y4m_frames(every_nth=4),
                           schema=media.FRAMES_SCHEMA))
    return (frames.select(
                "file", "frame_idx", "frame_ts_ms", "luma_sum",
                (F.col("luma_sum").cast("double") / F.col("n_px"))
                .alias("mean_luma"))
            .orderBy("file", "frame_idx"))


@query("multimodal_audio_features", oracle="""
WITH files AS (SELECT unnest(generate_series(0, 7)) AS i),
j AS (SELECT unnest(generate_series(0, 3967)) AS j),
s AS (SELECT i, j, j // 64 AS frame_idx,
             CAST(29000 - 7 * j + 125 * i AS BIGINT) AS a,
             CASE WHEN (j % (50 * (i + 1))) < (25 * (i + 1))
                  THEN 1 ELSE -1 END AS sg
      FROM files, j),
d AS (SELECT i, frame_idx, j, a, sg,
             lag(sg) OVER (PARTITION BY i, frame_idx ORDER BY j)
               AS prev_sg
      FROM s)
SELECT printf('tone_%03d.wav', i) AS file,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(frame_idx * 8 AS BIGINT) AS frame_ts_ms,
       CAST(SUM(a * a) AS BIGINT) AS sumsq,
       CAST(SUM(CASE WHEN prev_sg IS NOT NULL AND sg <> prev_sg
                     THEN 1 ELSE 0 END) AS INT) AS zc
FROM d GROUP BY i, frame_idx ORDER BY file, frame_idx
""")
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode + framewise features: RIFF chunk walk → PCM
    int16 → 64-sample frames → per-frame energy (Σx², exact BIGINT)
    and zero-crossing count (operators/media.py wav_frame_features).
    The fixture tone is an integer square wave, so the oracle derives
    both features from the period/fade closed form with pure integer
    arithmetic — the decoded samples must match bit-for-bit. 62 full
    frames per 4,000-sample file; the 32-sample tail drops (framing
    contract, both engines)."""
    return (_assets(spark, "tone_*.wav")
            .mapInPandas(media.wav_frame_features(frame_samples=64),
                         schema=media.AUDIO_SCHEMA)
            .orderBy("file", "frame_idx"))


@query("multimodal_phash_dedup", oracle="""
SELECT * FROM (VALUES
  ('img_000.bmp', 'img_001.bmp'), ('img_002.bmp', 'img_003.bmp'),
  ('img_004.bmp', 'img_005.bmp'), ('img_006.bmp', 'img_007.bmp'),
  ('img_008.bmp', 'img_009.bmp'), ('img_010.bmp', 'img_011.bmp'),
  ('img_012.bmp', 'img_013.bmp'), ('img_014.bmp', 'img_015.bmp'))
  AS t(file_a, file_b)
ORDER BY file_a
""")
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup detection over REAL decoded images — the
    modality bridge between the multimodal family and the dedup
    family: BMP decode → 8×8 average-hash (bit = block brighter than
    thumbnail mean; operators/media.py bmp_ahash) → EXACTLY the
    SimHash machinery on the 64-bit signatures — 4×16-bit band
    blocking (pigeonhole: hamming ≤ 3 ⇒ one band equal), equi-join on
    (band, value), bit_count(xor) verify at threshold 2. One signature
    per asset, never all-pairs. The oracle is the generator's PLANTED
    pair list: 8 scene pairs where the odd index adds low-amplitude
    pixel noise (block means move < 1 gray level) — the planted pairs
    measure hamming ≤ 2, every cross-scene pair ≥ 3, and the fixture
    bytes are committed, so the expected output is exact."""
    sig = (_assets(spark, "img_*.bmp")
           .mapInPandas(media.bmp_ahash, schema=media.AHASH_SCHEMA)
           .select(F.col("file").alias("doc_id"),
                   F.col("phash").alias("simhash")))
    pairs = simhash_pairs(sig, max_hamming=2)
    return (pairs.select(F.col("a").alias("file_a"),
                         F.col("b").alias("file_b"))
                 .orderBy("file_a"))


@query("scan_edf_rpeaks", oracle="""
WITH ids AS (SELECT unnest(generate_series(0, 5)) AS record_id),
p AS (SELECT record_id, 70 + record_id % 30 AS period FROM ids),
pk AS (SELECT record_id, period,
              unnest(generate_series(0, 1023 // period)) * period
                AS peak_idx
       FROM p)
SELECT printf('ecg_%03d.edf', record_id) AS file,
       CAST(record_id AS BIGINT) AS record_id, peak_idx,
       CAST(peak_idx * 7.8125 AS DOUBLE) AS peak_ms,
       CAST(CASE WHEN peak_idx = 0 THEN NULL
            ELSE period * 7.8125 END AS DOUBLE) AS rr_ms
FROM pk ORDER BY record_id, peak_idx
""")
def scan_edf_rpeaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END biosignal ingestion: real EDF container decode
    (256-byte ASCII header + signal headers + int16 sample records;
    operators/media.py edf_ecg_samples) → exploded (record, sample)
    relation → the SAME threshold-first R-peak plan the
    synthetic-signal path uses (operators/peaks.py detect_rpeaks:
    per-record threshold aggregate, broadcast filter, applyInPandas
    refractory scan over the ~1 % of samples above the threshold).
    The fixtures plant beats every 70 + id % 30 samples over ±500
    digital noise — the identical grid contract as
    ``signal_rpeak_detect`` — so the oracle derives the full expected
    beat/RR series in pure SQL, independent of both the parser and
    the detector. This closes the last stubbed stage: raw bytes on
    disk → decoded samples → beats, all real."""
    sig = (_assets(spark, "ecg_*.edf")
           .mapInPandas(media.edf_ecg_samples(),
                        schema=media.EDF_SAMPLES_SCHEMA))
    beats = peaks.detect_rpeaks(sig)
    return (beats.select(
                F.format_string("ecg_%03d.edf", F.col("record_id")
                                .cast("int")).alias("file"),
                "record_id", "peak_idx", "peak_ms", "rr_ms")
            .orderBy("record_id", "peak_idx"))


# --------------------------------------------------------------- HRV
# end-to-end: container bytes → beats → features

# The time-domain oracle over the planted jittered grid reuses
# plans/q_hrv.py's SQL fragments (dsum_sql exact sums; sample variance
# assembled from (Σx, Σx², n)).
from ..features.hrv import time_domain_exprs_by_name, with_diff  # noqa: E402
from ..functions.exact import r6_sql, safe_sqrt_sql  # noqa: E402
from .q_hrv import _MEAN, _MEAN_D2, _VAR_NNI  # noqa: E402


@query("hrv_from_edf", oracle=f"""
WITH ids AS (SELECT unnest(generate_series(0, 5)) AS record_id),
ks AS (SELECT unnest(generate_series(0, 63)) AS k),
pk AS (
  SELECT record_id,
         CASE WHEN k = 0 THEN 0
              ELSE k * (70 + 9 * record_id) + ((k * 7) % 5 - 2) * 4
         END AS pos
  FROM ids, ks
  WHERE (CASE WHEN k = 0 THEN 0
              ELSE k * (70 + 9 * record_id) + ((k * 7) % 5 - 2) * 4
         END) BETWEEN 0 AND 2047),
rr0 AS (
  SELECT record_id, pos,
         pos * 7.8125
           - lag(pos * 7.8125) OVER (PARTITION BY record_id ORDER BY pos)
           AS rri
  FROM pk),
rr AS (
  SELECT record_id, rri,
         rri - lag(rri) OVER (PARTITION BY record_id ORDER BY pos) AS d
  FROM rr0 WHERE rri IS NOT NULL)
SELECT record_id,
  CAST(COUNT(rri) AS BIGINT) AS n_beats,
  {r6_sql(_MEAN)} AS mean_nni,
  {r6_sql(safe_sqrt_sql(_VAR_NNI))} AS sdnn,
  {r6_sql(f'SQRT({_MEAN_D2})')} AS rmssd,
  CAST(SUM(CASE WHEN ABS(d) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS nni_50
FROM rr GROUP BY record_id ORDER BY record_id
""")
def hrv_from_edf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference pipeline END TO END, from raw bytes on disk to the
    product table: EDF container decode (real parser) → exploded
    (record, sample) relation → adaptive-threshold R-peak detection →
    RR series → per-record time-domain HRV features (mean_nni, sdnn,
    rmssd, nni_50) — every stage the real production operator, no
    stage stubbed or pre-derived.

    The holter fixtures plant a JITTERED beat grid (beat k at
    k·period + ((7k mod 5) − 2)·4 samples), so the RR series varies:
    sdnn/rmssd are non-zero, nni_50 differs per record, and the oracle
    re-derives all of it closed-form in SQL — through four pipeline
    stages, any misread byte, missed beat, or feature-math drift
    diverges. RR values are exact multiples of 1/16 ms (7.8125 ms
    per sample), so the exact-sum contract holds with margin.

    Scale shape: decode fans out per file, detection is a per-record
    threshold aggregate plus one applyInPandas per record over the
    samples above it (the natural ECG sharding unit), features are one
    hash aggregate — the identical plan the sf-scaling
    synthetic path (`hrv_time_domain`) benchmarks at blow-up scale."""
    sig = (_assets(spark, "holter_*.edf")
           .mapInPandas(media.edf_ecg_samples(),
                        schema=media.EDF_SAMPLES_SCHEMA))
    beats = peaks.detect_rpeaks(sig)
    rr = with_diff(beats.select("record_id", "peak_idx",
                                F.col("rr_ms").alias("rri"))
                        .filter(F.col("rri").isNotNull()),
                   ts_col="peak_idx")
    feats = time_domain_exprs_by_name(["mean_nni", "sdnn", "rmssd",
                                       "nni_50"])
    return (rr.groupBy("record_id")
              .agg(F.count("rri").alias("n_beats"), *feats)
              .orderBy("record_id"))


# --------------------------------------------------- small-file compaction

_COMPACT_TARGET = 32 * 1024


@query("maintain_compaction_manifest", oracle=f"""
WITH f AS (
  SELECT regexp_extract(filename, '([^/]+)$', 1) AS file,
         CAST(size AS BIGINT) AS bytes
  FROM read_blob('{_MEDIA}/*')),
c AS (
  SELECT file, bytes,
         COALESCE(SUM(bytes) OVER (ORDER BY file
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cum_before
  FROM f)
SELECT CAST(cum_before // {_COMPACT_TARGET} AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS total_bytes,
       MIN(file) AS first_file, MAX(file) AS last_file
FROM c GROUP BY bin ORDER BY bin
""")
def maintain_compaction_manifest(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION PLAN — the WebDataset-shard packing pass a
    multimodal lake runs over millions of tiny assets: order files by
    name (the stable, re-runnable order), running-total their sizes,
    and cut a shard boundary every 32 KiB of cumulative payload
    (bin = exclusive-prefix-sum ÷ target, so a file never splits and
    every bin except the last reaches the target once one file
    crosses it). The manifest — bin id, member count, byte total,
    first/last member — is exactly what the downstream copy job
    executes and what a resumable loader verifies. Sizes are
    byte-checked against DuckDB's read_blob over the same directory.
    At 100 TB this runs over the file-listing table (billions of
    rows) — never over content — so the byte prefix-sum uses the
    TWO-PASS range-partitioned construction (data_global_index
    pattern, round 9): range-sort by file name, per-partition byte
    subtotals prefix-summed into a broadcast offset table, intra-
    partition running total + offset = the exact global exclusive
    prefix sum, with no single-task global window anywhere."""
    files = (spark.read.format("binaryFile").load(_MEDIA)
             .select(F.element_at(F.split("path", "/"), -1).alias("file"),
                     F.col("length").alias("bytes")))
    from pyspark.sql import Window as W
    spark_ = files.sparkSession
    n_parts = int(spark_.conf.get("spark.sql.shuffle.partitions", "32"))
    r = (files.repartitionByRange(n_parts, "file")
              .withColumn("pid", F.spark_partition_id())
              .cache())
    psum = r.groupBy("pid").agg(F.sum("bytes").alias("pbytes"))
    w_off = W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = psum.withColumn(
        "offset", F.coalesce(F.sum("pbytes").over(w_off), F.lit(0)))
    w_in = (W.partitionBy("pid").orderBy("file")
             .rowsBetween(W.unboundedPreceding, -1))
    c = (r.join(F.broadcast(offsets.select("pid", "offset")), "pid")
          .withColumn("cum_before",
                      F.col("offset")
                      + F.coalesce(F.sum("bytes").over(w_in), F.lit(0))))
    return (c.select((F.col("cum_before") / _COMPACT_TARGET)
                     .cast("long").alias("bin"), "file", "bytes")
             .groupBy("bin")
             .agg(F.count(F.lit(1)).cast("long").alias("n_files"),
                  F.sum("bytes").cast("long").alias("total_bytes"),
                  F.min("file").alias("first_file"),
                  F.max("file").alias("last_file"))
             .orderBy("bin"))
