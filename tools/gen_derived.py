#!/usr/bin/env python
"""Generate committed derived test inputs (CSV + binary blobs) from the
read-only sf0.01 fixtures. Deterministic; run once, outputs committed to
testdata_derived/ so scan_csv/scan_binary have stable non-parquet inputs
that both Spark and the DuckDB oracle can read.
"""

from __future__ import annotations

import os

import duckdb

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "testdata_derived")
SF = "/root/testdata/sf0.01"


def main() -> None:
    os.makedirs(os.path.join(OUT, "blobs"), exist_ok=True)
    con = duckdb.connect()
    # 100-row orders sample as CSV (header, ISO timestamps).
    con.execute(f"""
        COPY (
          SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                 strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
                 o_orderpriority
          FROM '{SF}/orders.parquet' ORDER BY o_orderkey LIMIT 100
        ) TO '{OUT}/orders_sample.csv' (HEADER, DELIMITER ',')
    """)
    # 8 small binary blobs: utf-8 doc text as opaque bytes (multimodal
    # stand-in — image/audio decode is stubbed per driver mandate).
    rows = con.execute(
        f"SELECT doc_id, text FROM '{SF}/documents.parquet' ORDER BY doc_id LIMIT 8"
    ).fetchall()
    for doc_id, text in rows:
        with open(os.path.join(OUT, "blobs", f"doc_{doc_id:05d}.bin"), "wb") as f:
            f.write(text.encode("utf-8"))
    print("wrote", OUT)




def _link_sf1ish_dims() -> None:
    """Symlink the non-blown-up tables from the read-only sf0.1
    fixtures into sf1ish (LOCAL, gitignored — never committed; the
    round-5 ADVICE was about committing machine-absolute symlinks),
    so check_subset can register the full 10-table catalog."""
    sf1 = os.path.join(OUT, "sf1ish")
    for t in ("region", "nation", "customer", "supplier", "part",
              "embeddings"):
        dst = os.path.join(sf1, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)


def gen_sf1ish_documents() -> None:
    """10× documents blow-up (~sf1-equivalent corpus) for COLD-path
    measurement (BASELINE.md): each sf0.1 doc is replicated 10× with a
    distinct doc_id and a deterministic per-replica suffix, so replicas
    are NEAR-duplicates (realistic for dedup: LSH buckets hold ~10
    members, never the whole corpus). Output is generated, not
    committed (testdata_derived/sf1ish/ is gitignored)."""
    sf1 = os.path.join(OUT, "sf1ish")
    os.makedirs(sf1, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT doc_id * 10 + r.k AS doc_id,
                 text || ' rep' || CAST(r.k AS VARCHAR) || ' tail'
                      || CAST(doc_id * 10 + r.k AS VARCHAR) AS text,
                 lang, source,
                 n_chars + 9 + length(CAST(doc_id * 10 + r.k AS VARCHAR))
                   AS n_chars
          FROM '/root/testdata/sf0.1/documents.parquet',
               (SELECT unnest(generate_series(0, 9)) AS k) r
          ORDER BY doc_id
        ) TO '{sf1}/documents.parquet' (FORMAT PARQUET)
    """)
    print("wrote", sf1)
    _link_sf1ish_dims()



def gen_sf1ish_lineitem() -> None:
    """10x lineitem blow-up (~6M rows, sf1-equivalent fact table) for
    COLD scan-path measurement of the TPC-H aggregate queries: each
    sf0.1 line is replicated 10x with a distinct (orderkey, linenumber)
    so per-order structure survives. Generated, not committed."""
    sf1 = os.path.join(OUT, "sf1ish")
    os.makedirs(sf1, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT l_orderkey * 10 + r.k AS l_orderkey, l_partkey,
                 l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount, l_tax, l_returnflag, l_linestatus,
                 l_shipdate
          FROM '/root/testdata/sf0.1/lineitem.parquet',
               (SELECT unnest(generate_series(0, 9)) AS k) r
        ) TO '{sf1}/lineitem.parquet' (FORMAT PARQUET)
    """)
    print("wrote", sf1, "lineitem x10")
    _link_sf1ish_dims()



def gen_sf1ish_orders() -> None:
    """10x orders blow-up FK-consistent with the lineitem blow-up
    (o_orderkey*10+k pairs with l_orderkey*10+k), so the full TPC-H
    suite runs at sf1-equivalent fact scale. Customers stay at sf0.1
    (each now carries 10x orders - the realistic shape of a growing
    fact over a stable dimension)."""
    sf1 = os.path.join(OUT, "sf1ish")
    os.makedirs(sf1, exist_ok=True)
    path = os.path.join(sf1, "orders.parquet")
    if os.path.islink(path):
        os.unlink(path)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT o_orderkey * 10 + r.k AS o_orderkey, o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate,
                 o_orderpriority
          FROM '/root/testdata/sf0.1/orders.parquet',
               (SELECT unnest(generate_series(0, 9)) AS k) r
        ) TO '{path}' (FORMAT PARQUET)
    """)
    print("wrote", path)
    _link_sf1ish_dims()



def gen_sf1ish_events() -> None:
    """10x events blow-up as INDEPENDENT replicas: replica k shifts
    time by k*40 days (beyond the fixture's ~31-day span, so no
    window/session/label frame can reach across replicas) and offsets
    user/event ids into disjoint ranges - every per-user operator
    scales 10x with bit-identical per-replica semantics."""
    sf1 = os.path.join(OUT, "sf1ish")
    os.makedirs(sf1, exist_ok=True)
    path = os.path.join(sf1, "events.parquet")
    if os.path.islink(path):
        os.unlink(path)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT event_id + r.k * 10000000 AS event_id,
                 ts + to_days(CAST(r.k * 40 AS INT)) AS ts,
                 user_id + r.k * 1000000 AS user_id,
                 event_type, value, props
          FROM '/root/testdata/sf0.1/events.parquet',
               (SELECT unnest(generate_series(0, 9)) AS k) r
        ) TO '{path}' (FORMAT PARQUET)
    """)
    print("wrote", path)
    _link_sf1ish_dims()



def gen_sf3ish() -> None:
    """30x fact blow-up (18M lineitem / 4.5M orders, FK-consistent,
    dims shared with sf0.1 via symlink) — the THIRD point of the
    scaling curve (sf0.1 → 10× → 30×): two decades of data growth let
    the power-run wall be fit for super-linear terms a single blow-up
    can hide. Same key scheme as sf1ish with stride 30. Generated,
    not committed (testdata_derived/ is gitignored beyond samples)."""
    sf3 = os.path.join(OUT, "sf3ish")
    os.makedirs(sf3, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT l_orderkey * 30 + r.k AS l_orderkey, l_partkey,
                 l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount, l_tax, l_returnflag, l_linestatus,
                 l_shipdate
          FROM '/root/testdata/sf0.1/lineitem.parquet',
               (SELECT unnest(generate_series(0, 29)) AS k) r
        ) TO '{sf3}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT o_orderkey * 30 + r.k AS o_orderkey, o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate,
                 o_orderpriority
          FROM '/root/testdata/sf0.1/orders.parquet',
               (SELECT unnest(generate_series(0, 29)) AS k) r
        ) TO '{sf3}/orders.parquet' (FORMAT PARQUET)
    """)
    for t in ("region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"):
        dst = os.path.join(sf3, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
    print("wrote", sf3, "lineitem x30 / orders x30")


def gen_sf3ish_events() -> None:
    """30x events blow-up (3M rows) as INDEPENDENT replicas — same
    scheme as gen_sf1ish_events (time shift beyond the fixture span +
    disjoint id ranges per replica) with stride 30, written into the
    sf3ish dir (replacing the symlinked sf0.1 copy) so the window /
    session / label families get a third scale point."""
    sf3 = os.path.join(OUT, "sf3ish")
    os.makedirs(sf3, exist_ok=True)
    path = os.path.join(sf3, "events.parquet")
    if os.path.islink(path):
        os.unlink(path)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT event_id + r.k * 10000000 AS event_id,
                 ts + to_days(CAST(r.k * 40 AS INT)) AS ts,
                 user_id + r.k * 1000000 AS user_id,
                 event_type, value, props
          FROM '/root/testdata/sf0.1/events.parquet',
               (SELECT unnest(generate_series(0, 29)) AS k) r
        ) TO '{path}' (FORMAT PARQUET)
    """)
    print("wrote", path, "events x30")


def gen_sf1p() -> None:
    """sf1-equivalent fixture in the REALISTIC 100 TB landing layout:
    the fact tables are Hive-style month-partitioned DIRECTORIES with
    multiple files per partition, instead of one monolithic parquet
    file per table.

    - lineitem.parquet/  l_shipmonth=YYYY-MM/  (83 months x 2 slots
      ~166 files, 6M rows total — same data as sf1ish's 10x blow-up)
    - orders.parquet/    month=YYYY-MM/        (~80 months, 1.5M rows)
      partition column named `month` so join_dpp_partitioned can read
      the landing layout directly (no per-run scratch rewrite)
    - dims + the non-TPC-H tables symlink to the sf0.1 fixtures.

    Partition values travel as 'yyyy-MM' strings; the source date
    columns stay IN the data files, so plans that never touch the
    partition column see the exact sf1ish table shape (parquet_table
    projects the declared schema). Written with Spark because the
    layout (partitionBy + multi-file slots via repartition on
    (partition, slot)) IS the thing under test: scan parallelism and
    partition pruning must come from the directory tree, not from the
    AQE split of one huge file. Generated, not committed
    (testdata_derived/sf1p/ is gitignored)."""
    import shutil

    sys_path_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import sys as _s
    if sys_path_root not in _s.path:
        _s.path.insert(0, sys_path_root)
    from pyspark.sql import functions as F

    from data_ingestor_and_features_creator_spark.session import get_spark

    sf1 = os.path.join(OUT, "sf1ish")
    for t in ("lineitem", "orders"):
        if not os.path.exists(os.path.join(sf1, f"{t}.parquet")):
            raise SystemExit(f"run --sf1ish-{t} first (missing {sf1}/{t})")
    sfp = os.path.join(OUT, "sf1p")
    if os.path.isdir(sfp):
        shutil.rmtree(sfp)
    os.makedirs(sfp)
    spark = get_spark("gen_sf1p", cpus=16)
    li = spark.read.parquet(os.path.join(sf1, "lineitem.parquet"))
    # slot splits each month across 2 writer tasks (dropped after the
    # repartition: a projection keeps the child's distribution, so the
    # helper never lands in the files)
    (li.withColumn("l_shipmonth", F.date_format("l_shipdate", "yyyy-MM"))
       .withColumn("slot", (F.col("l_orderkey") % 2).cast("int"))
       .repartition(64, "l_shipmonth", "slot")
       .drop("slot")
       .write.partitionBy("l_shipmonth")
       .mode("overwrite").parquet(os.path.join(sfp, "lineitem.parquet")))
    od = spark.read.parquet(os.path.join(sf1, "orders.parquet"))
    (od.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
       .repartition(32, "month")
       .write.partitionBy("month")
       .mode("overwrite").parquet(os.path.join(sfp, "orders.parquet")))
    spark.stop()
    for t in ("region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"):
        os.symlink(f"/root/testdata/sf0.1/{t}.parquet",
                   os.path.join(sfp, f"{t}.parquet"))
    n_li_files = sum(len([f for f in files if f.endswith(".parquet")])
                     for _, _, files in os.walk(
                         os.path.join(sfp, "lineitem.parquet")))
    print("wrote", sfp, f"lineitem files={n_li_files}")


def gen_sf10ish() -> None:
    """100x fact blow-up (60M lineitem / 15M orders, FK-consistent,
    dims shared with sf0.1) — the FOURTH point of the scaling curve
    (1x / 10x / 30x / 100x): three decades of fact growth. Same key
    scheme as sf1ish/sf3ish with stride 100. ~1.2 GB lineitem parquet;
    fits the sandbox comfortably. Generated, not committed
    (testdata_derived/sf10ish/ is gitignored)."""
    sf10 = os.path.join(OUT, "sf10ish")
    os.makedirs(sf10, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT l_orderkey * 100 + r.k AS l_orderkey, l_partkey,
                 l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount, l_tax, l_returnflag, l_linestatus,
                 l_shipdate
          FROM '/root/testdata/sf0.1/lineitem.parquet',
               (SELECT unnest(generate_series(0, 99)) AS k) r
        ) TO '{sf10}/lineitem.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT o_orderkey * 100 + r.k AS o_orderkey, o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate,
                 o_orderpriority
          FROM '/root/testdata/sf0.1/orders.parquet',
               (SELECT unnest(generate_series(0, 99)) AS k) r
        ) TO '{sf10}/orders.parquet' (FORMAT PARQUET)
    """)
    for t in ("region", "nation", "customer", "supplier", "part",
              "events", "documents", "embeddings"):
        dst = os.path.join(sf10, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
    print("wrote", sf10, "lineitem x100 / orders x100")


def gen_skew() -> None:
    """ZIPF-SKEWED fixture (VERDICT r5 ask 6): the 10x blow-ups with
    ONE planted hot key holding ~20% of the rows —
    - events (1M rows, independent time/user-shifted replicas like
      sf1ish): every 5th event reassigned to user_id 9999999
    - orders (1.5M rows): every 5th order reassigned to o_custkey
      424242 (the key audit_join_key_skew audits)
    Deterministic (event_id/o_orderkey % 5). Other tables symlink
    sf0.1. Exercises: AQE skew-join split, the salting ops'
    equal-results contract under real skew, the skew audit flagging
    the hot key, and single-fat-partition window correctness.
    Generated, not committed (testdata_derived/skew/ gitignored)."""
    sk = os.path.join(OUT, "skew")
    os.makedirs(sk, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT event_id + r.k * 10000000 AS event_id,
                 ts + to_days(CAST(r.k * 40 AS INT)) AS ts,
                 CASE WHEN (event_id + r.k * 10000000) % 5 = 0
                      THEN 9999999
                      ELSE user_id + r.k * 1000000 END AS user_id,
                 event_type, value, props
          FROM '/root/testdata/sf0.1/events.parquet',
               (SELECT unnest(generate_series(0, 9)) AS k) r
        ) TO '{sk}/events.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT o_orderkey * 10 + r.k AS o_orderkey,
                 CASE WHEN (o_orderkey * 10 + r.k) % 5 = 0
                      THEN 424242 ELSE o_custkey END AS o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate,
                 o_orderpriority
          FROM '/root/testdata/sf0.1/orders.parquet',
               (SELECT unnest(generate_series(0, 9)) AS k) r
        ) TO '{sk}/orders.parquet' (FORMAT PARQUET)
    """)
    for t in ("region", "nation", "customer", "supplier", "part",
              "lineitem", "documents", "embeddings"):
        dst = os.path.join(sk, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
    print("wrote", sk, "events x10 / orders x10, hot keys planted")


def gen_nulls() -> None:
    """NULL/NaN hardening fixture (VERDICT r5 ask 5): the sf0.01
    tables with adversarial missing-data planted deterministically —
    - events.value: ~3% NULL, ~3% NaN (by event_id hash buckets; the
      remaining rows keep their original value)
    - documents.text: ~3% empty string, ~3% whitespace-only
    so the float-aggregate, window, and text-quality families can be
    oracle-gated against inputs that actually exercise their NULL/NaN
    guards (the round-4 cohort-stats guards were added blind — no
    fixture reached them). Other tables symlink to sf0.01 unchanged.
    Deterministic: bucket = event_id % 100 (0,1,2→NULL; 3,4,5→NaN);
    doc_id % 100 (0,1,2→''; 3,4,5→whitespace). Generated, not
    committed (testdata_derived/nulls/ is gitignored)."""
    nd = os.path.join(OUT, "nulls")
    os.makedirs(nd, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          SELECT event_id, ts, user_id, event_type,
                 CASE WHEN event_id % 100 IN (0, 1, 2) THEN NULL
                      WHEN event_id % 100 IN (3, 4, 5) THEN 'nan'::DOUBLE
                      ELSE value END AS value,
                 props
          FROM '{SF}/events.parquet'
        ) TO '{nd}/events.parquet' (FORMAT PARQUET)
    """)
    con.execute(f"""
        COPY (
          SELECT doc_id,
                 CASE WHEN doc_id % 100 IN (0, 1, 2) THEN ''
                      WHEN doc_id % 100 IN (3, 4, 5)
                        THEN '   ' || chr(10) || chr(9) || '  '
                      ELSE text END AS text,
                 lang, source,
                 CASE WHEN doc_id % 100 IN (0, 1, 2) THEN 0
                      WHEN doc_id % 100 IN (3, 4, 5) THEN 6
                      ELSE n_chars END AS n_chars
          FROM '{SF}/documents.parquet'
        ) TO '{nd}/documents.parquet' (FORMAT PARQUET)
    """)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "embeddings"):
        dst = os.path.join(nd, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"{SF}/{t}.parquet", dst)
    print("wrote", nd)


def gen_media() -> None:
    """Real-format media/biosignal fixtures (round 6: lift the stub
    decoders): small COMMITTED files in four public self-describing
    formats the pure-numpy codecs (operators/codecs.py) genuinely
    parse — uncompressed BMP, PCM WAV, YUV4MPEG2, EDF. Deterministic
    (seeded numpy), ~220 KB total.

    Layout (testdata_derived/media/):
    - img_{i:03d}.bmp, i=0..23. Images 0..15 are 8 scene pairs: even
      index = the scene, odd index = scene + low-amplitude noise
      (planted NEAR-DUPLICATES for the perceptual-hash dedup); pairs
      (0,1) and (2,3) are byte-level near-identical, the rest add
      noise. 16..23 are unique scenes. Sizes/encodings vary to
      exercise the parser: odd widths (row padding), 8-bit palette,
      top-down row order.
    - tone_{i:03d}.wav, i=0..7: 8 kHz mono int16, 0.5 s, an INTEGER
      square-wave tone (period 50*(i+1) samples, amplitude
      29000 - 7*j + 125*i at sample j — a linear fade) so per-frame
      energy/ZCR are exact integers a SQL oracle derives with pure
      integer arithmetic (no libm, no float replication risk).
    - clip_{i:03d}.y4m, i=0..3: 32x24, 16 frames at 25 fps, a bright
      8x8 square moving diagonally over a static gradient.
    - ecg_{i:03d}.edf, i=0..5: 2 signals (ECG I @128 Hz spr=128,
      RESP @16 Hz), 8 one-second records; the ECG channel plants a
      spike every 70 + i % 30 samples over +/-500 digital noise —
      the same beat grid the r-peak oracles derive in SQL.
    - holter_{i:03d}.edf, i=0..5: 16-second single-signal strips
      (2048 samples @128 Hz) with a JITTERED beat grid — beat k at
      k*(70+9i) + ((k*7)%5 - 2)*4 samples (k=0 pinned at 0) — so the
      RR series VARIES and every downstream time-domain HRV feature
      (sdnn, rmssd, nni_50) is non-degenerate yet closed-form
      derivable in SQL (the hrv_from_edf end-to-end oracle).
    """
    import numpy as np
    import sys
    sys.path.insert(0, os.path.dirname(OUT))
    from data_ingestor_and_features_creator_spark.operators import codecs

    md = os.path.join(OUT, "media")
    os.makedirs(md, exist_ok=True)

    def scene(seed: int, h: int, w: int) -> "np.ndarray":
        rng = np.random.RandomState(seed)
        yy, xx = np.mgrid[0:h, 0:w]
        base = ((yy * rng.randint(2, 9) + xx * rng.randint(2, 9)) % 256)
        blob_y, blob_x = rng.randint(0, h), rng.randint(0, w)
        bump = 120.0 * np.exp(-(((yy - blob_y) ** 2 + (xx - blob_x) ** 2)
                                / (2.0 * (max(h, w) / 4.0) ** 2)))
        return np.clip(base + bump, 0, 255).astype(np.uint8)

    sizes = [(32, 32), (36, 48), (25, 25), (48, 64),
             (32, 32), (40, 33), (32, 32), (36, 48)]
    for k in range(8):
        h, w = sizes[k]
        s = scene(7000 + k, h, w)
        rng = np.random.RandomState(9000 + k)
        noise_amp = 1 if k < 2 else 6
        near = np.clip(s.astype(np.int16)
                       + rng.randint(-noise_amp, noise_amp + 1, s.shape),
                       0, 255).astype(np.uint8)
        bpp = 8 if k % 3 == 2 else 24
        with open(os.path.join(md, f"img_{2 * k:03d}.bmp"), "wb") as f:
            f.write(codecs.encode_bmp(s, bpp=bpp, top_down=(k == 5)))
        with open(os.path.join(md, f"img_{2 * k + 1:03d}.bmp"), "wb") as f:
            f.write(codecs.encode_bmp(near, bpp=24))
    for k in range(8):
        h, w = sizes[k % len(sizes)]
        s = scene(7700 + k, w, h)  # swapped dims → distinct shapes
        with open(os.path.join(md, f"img_{16 + k:03d}.bmp"), "wb") as f:
            f.write(codecs.encode_bmp(s, bpp=24))

    for i in range(8):
        j = np.arange(4000, dtype=np.int64)
        period = 50 * (i + 1)
        amp = 29000 - 7 * j + 125 * i            # linear fade, all > 0
        sign = np.where((j % period) < period // 2, 1, -1)
        pcm = (amp * sign).astype(np.int16)
        with open(os.path.join(md, f"tone_{i:03d}.wav"), "wb") as f:
            f.write(codecs.encode_wav(8000, pcm))

    for i in range(4):
        h, w = 24, 32
        yy, xx = np.mgrid[0:h, 0:w]
        grad = ((yy * 3 + xx * 5 + 17 * i) % 200).astype(np.uint8)
        frames = []
        for fidx in range(16):
            fr = grad.copy()
            y0 = (2 * fidx + 3 * i) % (h - 8)
            x0 = (3 * fidx + 5 * i) % (w - 8)
            fr[y0:y0 + 8, x0:x0 + 8] = 255
            frames.append(fr)
        with open(os.path.join(md, f"clip_{i:03d}.y4m"), "wb") as f:
            f.write(codecs.encode_y4m(frames, fps_num=25))

    for i in range(6):
        period = 70 + i % 30
        rng = np.random.RandomState(4200 + i)
        ecg = rng.randint(-500, 501, size=1024).astype(np.int32)
        ecg[::period] = 26000  # planted beats, far above the noise floor
        resp = (3000 * np.sin(2 * np.pi * np.arange(128) / 64.0)) \
            .astype(np.int16)
        b = codecs.encode_edf(
            [("ECG I", 128, ecg.astype(np.int16)), ("RESP", 16, resp)],
            record_duration_s=1)
        with open(os.path.join(md, f"ecg_{i:03d}.edf"), "wb") as f:
            f.write(b)

    for i in range(6):
        period = 70 + 9 * i
        rng = np.random.RandomState(5300 + i)
        ecg = rng.randint(-500, 501, size=2048).astype(np.int32)
        for k in range(64):
            pos = 0 if k == 0 else k * period + ((k * 7) % 5 - 2) * 4
            if 0 <= pos <= 2047:
                ecg[pos] = 26000
        b = codecs.encode_edf([("ECG I", 128, ecg.astype(np.int16))],
                              record_duration_s=1)
        with open(os.path.join(md, f"holter_{i:03d}.edf"), "wb") as f:
            f.write(b)
    print("wrote", md)


_FLAGS = {
    "--media": gen_media,
    "--sf1p": gen_sf1p,
    "--nulls": gen_nulls,
    "--sf10ish": gen_sf10ish,
    "--skew": gen_skew,
    "--sf3ish-events": gen_sf3ish_events,
    "--sf3ish": gen_sf3ish,
    "--sf1ish-events": gen_sf1ish_events,
    "--sf1ish": gen_sf1ish_documents,
    "--sf1ish-lineitem": gen_sf1ish_lineitem,
    "--sf1ish-orders": gen_sf1ish_orders,
}


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(
        allow_abbrev=False,
        description="With no flag, rewrite the CSV and blob inputs in "
                    "testdata_derived/; a flag generates one other fixture "
                    "instead (see each gen_* docstring).")
    group = ap.add_mutually_exclusive_group()
    for flag, fn in _FLAGS.items():
        group.add_argument(flag, dest="gen", action="store_const", const=fn,
                           default=main)
    ap.parse_args().gen()
