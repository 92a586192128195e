"""Seeded input generators, one per workload.

Each generator writes its files into a fresh directory and returns the
ground truth the checks need. Generation uses numpy/pyarrow only and
never imports the program, so a decoder or reader bug in the program
cannot also corrupt the inputs it is checked against.

``ensure_inputs`` caches the generated directory per (workload, seed,
size): a second run with the same seed reuses the files and the truth.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

FS_HZ = 128              # ECG sampling rate of the holter files
SAMPLE_MS = 1000.0 / FS_HZ
BEAT_AMP = 26000         # planted R-peak amplitude (digital units)
NOISE_AMP = 500          # uniform digital noise floor, +/- this

# Input sizes, recorded in BENCHMARK.json's workload entries too.
SIZES = {
    "ecg_ingest": {"files": 32, "minutes": 30},
    "text_dedup": {"docs": 2_000},
}

_VOCAB = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()


# ------------------------------------------------------------------ EDF

def _field(v, width: int) -> bytes:
    return str(v)[:width].ljust(width).encode("ascii")


def write_edf(path: str, label: str, samples: np.ndarray) -> None:
    """One-signal EDF (Kemp 1992): 256-byte header, one 256-byte signal
    header, int16 little-endian data records of one second each."""
    n_records = len(samples) // FS_HZ
    hdr = b"".join([
        _field("0", 8), _field("X X X X", 80),
        _field("Startdate 01-JAN-2024", 80), _field("01.01.24", 8),
        _field("00.00.00", 8), _field(512, 8), _field("", 44),
        _field(n_records, 8), _field(1, 8), _field(1, 4),
        _field(label, 16), _field("", 80), _field("mV", 8),
        _field(-5.0, 8), _field(5.0, 8), _field(-32768, 8),
        _field(32767, 8), _field("", 80), _field(FS_HZ, 8), _field("", 32),
    ])
    with open(path, "wb") as f:
        f.write(hdr)
        f.write(samples[:n_records * FS_HZ].astype("<i2").tobytes())


def gen_ecg(out: str, seed: int, files: int, minutes: int) -> dict:
    """Holter strips with a jittered beat grid: beat k of record i sits
    at offset + k*period_i + jitter_k samples, jitter in [-8, 8]. The
    truth is every planted beat position per record."""
    rng = np.random.default_rng(seed)
    n = minutes * 60 * FS_HZ
    truth = {}
    for rid in range(files):
        period = int(rng.integers(80, 121))      # 64-96 bpm
        grid = np.arange(period // 2, n - 16, period)
        pos = grid + rng.integers(-8, 9, size=len(grid))
        pos = pos[(pos >= 0) & (pos < n)]
        sig = rng.integers(-NOISE_AMP, NOISE_AMP + 1, size=n)
        sig[pos] = BEAT_AMP
        write_edf(os.path.join(out, f"holter_{rid:03d}.edf"), "ECG I", sig)
        truth[str(rid)] = pos.tolist()
    return {"beats": truth}


def ecg_truth_features(beats: dict) -> dict:
    """Per-record time-domain features recomputed with numpy from the
    planted positions: n_beats, mean_nni, sdnn (ddof 1), rmssd and
    nni_50 over the RR series (ms) the detector should find."""
    out = {}
    for rid, pos in beats.items():
        rri = np.diff(np.asarray(pos, dtype=np.float64)) * SAMPLE_MS
        d = np.diff(rri)
        out[int(rid)] = {
            "n_beats": len(rri),
            "mean_nni": float(rri.mean()),
            "sdnn": float(rri.std(ddof=1)),
            "rmssd": float(np.sqrt(np.mean(d * d))),
            "nni_50": int((np.abs(d) > 50).sum()),
        }
    return out


# ------------------------------------------------------------ documents

def gen_documents(out: str, seed: int, docs: int) -> dict:
    """Near-duplicate corpus in the `documents` schema. About 40% of
    docs are edited copies (5% of tokens substituted) of one of the 64
    most recent original docs, so MinHash-LSH finds real clusters (the
    largest LSH bucket holds ~10 docs, far below the 1000 cap); 3% are
    exact copies up to case and punctuation (caught by the normalized
    dedup of the prep pipeline) and 3% are under the 10-token quality
    floor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    toks: list[np.ndarray] = []
    family_open: list[int] = []               # docs that can seed an edit
    for i in range(docs):
        r = rng.random()
        if r < 0.40 and family_open:
            src = family_open[int(rng.integers(0, len(family_open)))]
            t = toks[src].copy()
            m = rng.random(len(t)) < 0.05
            t[m] = rng.choice(vocab, size=int(m.sum()))
        elif r < 0.43 and toks:
            t = toks[int(rng.integers(0, len(toks)))].copy()
        elif r < 0.46:
            t = rng.choice(vocab, size=int(rng.integers(3, 10)))
        else:
            t = rng.choice(vocab, size=int(rng.integers(10, 101)))
            family_open.append(i)
            if len(family_open) > 64:
                family_open.pop(0)
        toks.append(t)
        text = " ".join(t)
        if 0.40 <= r < 0.43:
            text = text.capitalize() + "."
        texts.append(text)
    langs = np.array(["en", "fr", "es", "zh", "de"])
    lang = langs[rng.choice(5, size=docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    table = pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return {"rows": docs}


GENERATORS = {
    "ecg_ingest": gen_ecg,
    "text_dedup": gen_documents,
}


def ensure_inputs(root: str, workload: str, seed: int) -> tuple[str, dict]:
    """(input dir, truth) for (workload, seed, size), generating once.
    A directory without its truth file is an interrupted generation and
    is rebuilt."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in size.items())
    path = os.path.join(root, f"{workload}-s{seed}-{tag}")
    truth_file = os.path.join(path, "truth.json")
    if os.path.exists(truth_file):
        with open(truth_file) as f:
            return path, json.load(f)
    shutil.rmtree(path, ignore_errors=True)
    data = os.path.join(path, "data")
    os.makedirs(data)
    truth = GENERATORS[workload](data, seed, **size)
    with open(truth_file + ".tmp", "w") as f:
        json.dump(truth, f)
    os.replace(truth_file + ".tmp", truth_file)
    return path, truth
