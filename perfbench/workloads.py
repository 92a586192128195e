"""The workloads: what one pass runs, how its output is checked,
and the direct per-layer probes of the traced run.

A pass reaches the program only through its public entry points:
``__spark_entry__.queries()`` and the public functions of
``operators/``, ``features/`` and ``sources/``. Every query of a pass
is split into three spans: build (calling the query function, which
includes any jobs it runs eagerly), plan (Catalyst optimization and
physical planning, forced before execution) and execute.
"""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd

from checks import Check, OracleCheck, check_ecg, duck_views
from gen import ecg_truth_features


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tr, name: str, fn) -> tuple[float, object]:
    """Run one direct probe under its own span (and job group)."""
    with tr.span(name, "probe") as s:
        out = fn()
    return s["end"] - s["start"], out


def run_query(tr, name: str, build, execute):
    """build -> plan -> execute under one span per phase."""
    with tr.span(name, "query"):
        with tr.span("build", "plans.build"):
            df = build()
        with tr.span("plan", "plans.planning"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            if tr.enabled:
                tr.spans[-1]["catalyst_ms"] = _catalyst_ms(qe)
        with tr.span("execute", "spark.exec"):
            return execute(df)


def _catalyst_ms(qe) -> float:
    """Analysis + optimization + planning time Catalyst recorded for
    this query execution (QueryPlanningTracker phases)."""
    phases = qe.tracker().phases()
    ms = 0.0
    for key in ("analysis", "optimization", "planning"):
        opt = phases.get(key)
        if opt.isDefined():
            ms += opt.get().durationMs()
    return ms


class Workload:
    name = ""

    def __init__(self, spark, queries, data_dir: str, truth: dict,
                 work_dir: str):
        self.spark = spark
        self.queries = queries
        self.data = data_dir
        self.truth = truth
        self.work = work_dir

    def prepare(self) -> None:
        """Untimed set-up of the checks (oracles, ground truth)."""

    def run_pass(self, tr) -> dict:
        raise NotImplementedError

    def check(self, result: dict) -> list[Check]:
        raise NotImplementedError

    def probe_layers(self, tr) -> dict:
        """Direct per-layer measurements for the traced run, each under
        a span of ``tr``."""
        raise NotImplementedError

    def _scan(self, tr, df, path: str) -> dict:
        scan_s, _ = _timed(tr, "sources.scan", lambda: _noop(df))
        return {"sources.scan_s": scan_s, "sources.rows_read": df.count(),
                "sources.bytes_read": _dir_bytes(path)}


# ------------------------------------------------------------ ecg_ingest

RR_SCHEMA = "record_id long, peak_idx long, rri double"
ECG_FEATURES = ["mean_nni", "sdnn", "rmssd", "nni_50"]


class EcgIngest(Workload):
    """Holter EDF files -> decode -> R-peaks -> RR parquet (overwrite)
    -> read back -> per-record time-domain features."""

    name = "ecg_ingest"

    def prepare(self) -> None:
        self.landed = os.path.join(self.work, "landed_rr")
        self.want = ecg_truth_features(self.truth["beats"])

    def _files(self):
        from pyspark.sql import functions as F
        from data_ingestor_and_features_creator_spark import sources

        return (sources.binary_dir(self.spark, self.data)
                .select(F.element_at(F.split("path", "/"), -1).alias("file"),
                        "content"))

    def _samples(self):
        from data_ingestor_and_features_creator_spark.operators import media

        return self._files().mapInPandas(media.edf_ecg_samples(),
                                         schema=media.EDF_SAMPLES_SCHEMA)

    def _features(self):
        from pyspark.sql import functions as F
        from data_ingestor_and_features_creator_spark.features import hrv

        rr = self.spark.read.schema(RR_SCHEMA).parquet(self.landed)
        return (hrv.with_diff(rr, ts_col="peak_idx")
                .groupBy("record_id")
                .agg(F.count("rri").alias("n_beats"),
                     *hrv.time_domain_exprs_by_name(ECG_FEATURES)))

    def run_pass(self, tr) -> dict:
        from pyspark.sql import functions as F
        from data_ingestor_and_features_creator_spark.operators import peaks

        def land():
            beats = peaks.detect_rpeaks(self._samples())
            return (beats.filter(F.col("rr_ms").isNotNull())
                    .select("record_id", "peak_idx",
                            F.col("rr_ms").alias("rri")))

        run_query(tr, "ecg.land_rr", land,
                  lambda df: df.write.mode("overwrite").parquet(self.landed))
        feats = run_query(tr, "ecg.features", self._features,
                          lambda df: df.toPandas())
        return {"features": feats}

    def check(self, result: dict) -> list[Check]:
        import pyarrow.parquet as pq

        rows = sum(pq.read_metadata(p).num_rows for p in
                   glob.glob(os.path.join(self.landed, "*.parquet")))
        return check_ecg(rows, result["features"], self.want)

    def probe_layers(self, tr) -> dict:
        from data_ingestor_and_features_creator_spark.features import kernels
        from data_ingestor_and_features_creator_spark.operators import (
            codecs, media, peaks)

        out = self._scan(tr, self._files(), self.data)
        files = sorted(glob.glob(os.path.join(self.data, "*.edf")))
        blobs = []
        for p in files:
            with open(p, "rb") as f:
                blobs.append(f.read())
        decode_s, decoded = _timed(
            tr, "operators.codecs.decode",
            lambda: [codecs.decode_edf(b) for b in blobs])
        batch = pd.DataFrame({"file": [os.path.basename(p) for p in files],
                              "content": blobs})
        explode_s, frames = _timed(
            tr, "operators.media.explode",
            lambda: list(media.edf_ecg_samples()(iter([batch]))))
        groups = [g for _, g in frames[0].groupby("record_id")]
        detect_s, beats = _timed(
            tr, "operators.peaks.detect",
            lambda: [peaks.detect_rpeaks_kernel(g) for g in groups])
        in_spark = (self._samples().groupBy("record_id")
                    .applyInPandas(peaks.detect_rpeaks_kernel,
                                   schema=peaks.PEAKS_SCHEMA))
        spark_s, _ = _timed(tr, "spark.decode_detect",
                            lambda: _noop(in_spark))
        agg_s, _ = _timed(tr, "features.hrv.agg",
                          lambda: self._features().toPandas())
        rr_groups = [g.rename(columns={"peak_idx": "beat_ts"}) for _, g in
                     pd.read_parquet(self.landed).groupby("record_id")]
        welch_s, _ = _timed(
            tr, "features.kernels.welch",
            lambda: [kernels.freq_domain_kernel(g) for g in rr_groups])
        rr = self.spark.read.schema(RR_SCHEMA).parquet(self.landed)
        probe_out = os.path.join(self.work, "probe_write")
        write_s, _ = _timed(
            tr, "sources.write",
            lambda: rr.write.mode("overwrite").parquet(probe_out))
        shutil.rmtree(probe_out, ignore_errors=True)
        out.update({
            "sources.write_s": write_s,
            "sources.bytes_written": _dir_bytes(self.landed),
            "operators.codecs.decode_s": decode_s,
            "operators.media.samples_out": sum(
                len(s["digital"]) for d in decoded for s in d["signals"]),
            "operators.peaks.detect_s": detect_s,
            "operators.peaks.beats_out": sum(len(b) for b in beats),
            "features.hrv.agg_s": agg_s,
            "features.kernels.welch_s": welch_s,
            "features.kernels.groups": len(rr_groups),
            "features.arrow_overhead_s": spark_s - explode_s - detect_s,
        })
        return out


# ------------------------------------------------------------ text_dedup

MAX_BUCKET = 1000     # candidate_pairs' default skew valve
VERIFY_THRESHOLD = 0.3


class TextDedup(Workload):
    """LLM data prep: MinHash-LSH near-dup clustering and the full prep
    pipeline over a near-duplicate corpus. Each result is checked
    against its DuckDB twin from ``__spark_entry__.oracle_sql()``."""

    name = "text_dedup"
    ids = ["dedup_minhash_cluster", "llm_prep_pipeline_full"]

    def prepare(self) -> None:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = duck_views(self.data, ["documents"])
        try:
            self.oracle = OracleCheck(con, {q: oracles[q] for q in self.ids})
        finally:
            con.close()

    def run_pass(self, tr) -> dict:
        return {q: run_query(tr, q, lambda q=q: self.queries[q](
                                 self.spark, self.data),
                             lambda df: df.toPandas())
                for q in self.ids}

    def check(self, result: dict) -> list[Check]:
        return [self.oracle.check(q, result[q]) for q in self.ids]

    def probe_layers(self, tr) -> dict:
        from pyspark.sql import functions as F
        from data_ingestor_and_features_creator_spark import sources
        from data_ingestor_and_features_creator_spark.operators import (
            graph, textops)

        docs = sources.parquet_table(self.spark, self.data, "documents")
        out = self._scan(tr, docs,
                         os.path.join(self.data, "documents.parquet"))
        docs = docs.repartition("doc_id")
        sets = textops.shingle_sets(docs).cache()
        sig = textops.minhash_from_sets(sets).cache()
        minhash_s, _ = _timed(tr, "operators.textops.minhash",
                              lambda: (sets.count(), sig.count()))
        bands = textops.lsh_bands(sig).cache()
        pairs = textops.candidate_pairs(bands, max_bucket=MAX_BUCKET).cache()
        cand_s, n_cand = _timed(tr, "operators.textops.candidate_pairs",
                                pairs.count)
        dup = textops.jaccard_verify(pairs, docs, VERIFY_THRESHOLD,
                                     sets=sets).cache()
        verify_s, n_dup = _timed(tr, "operators.textops.verify", dup.count)
        buckets = (bands.groupBy("band", "band_hash").count()
                   .agg(F.max("count").alias("mx"),
                        F.sum((F.col("count") > MAX_BUCKET).cast("long"))
                         .alias("capped"))
                   .collect()[0])
        cc_s, n_comp = _timed(tr, "operators.graph.cc",
                              lambda: graph.connected_components_star(
                                  dup.select("a", "b"))
                              .select("cluster_id").distinct().count())
        out.update({
            "operators.textops.minhash_s": minhash_s,
            "operators.textops.candidate_pairs_s": cand_s,
            "operators.textops.verify_s": verify_s,
            "operators.graph.cc_s": cc_s,
            "operators.textops.candidate_pairs": n_cand,
            "operators.textops.verified_pairs": n_dup,
            "operators.textops.verify_ratio": n_dup / n_cand if n_cand else 0.0,
            "operators.textops.capped_buckets": int(buckets["capped"] or 0),
            "operators.textops.max_bucket_size": int(buckets["mx"] or 0),
            "operators.graph.components": n_comp,
        })
        self.spark.catalog.clearCache()
        return out


WORKLOADS = {w.name: w for w in (EcgIngest, TextDedup)}
