"""Seeded input synthesis for the benchmark workloads.

Everything here is a pure function of ``(workload, seed, size)``; the
engine only ever sees the parquet files these write. Files are cached
under ``<work>/inputs/<workload>-<size>-s<seed>/`` so repeated runs of
one seed skip the synthesis.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: per-size knobs: grid cells and span (first, last year) for mhw_batch,
#: documents for curate. Every span holds the oracle's 1995-2000
#: climatology baseline. ``bench`` has the paper's series length (12053
#: days, 1982-2014); ``paper`` is the paper's whole scenario (256 cells),
#: too slow for the benchmark's time budget but kept for one-off runs.
SIZES = {
    "tiny": {"cells": 4, "years": (1995, 2001), "docs": 120},
    "bench": {"cells": 16, "years": (1982, 2014), "docs": 600},
    "paper": {"cells": 256, "years": (1982, 2014), "docs": 600},
}

VOCAB = (
    "ocean heat wave surface temperature anomaly current eddy front shelf "
    "coast reef kelp bloom warming cooling season summer winter spring "
    "autumn satellite buoy sensor grid cell daily monthly record event "
    "duration intensity threshold baseline climate trend signal noise "
    "model forecast station survey sample depth layer mixing upwelling"
).split()
STOPWORDS = ("the", "and", "of", "to", "in", "is", "a", "for")
SOURCES = ("web", "news", "papers", "forums", "wiki")


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def ar1_grid(seed: int, cells: int, years: tuple[int, int]) -> pa.Table:
    """Long-format SST-like series ``(cell_id, time, temp)``: a per-cell
    seasonal cycle plus AR(1) anomalies (lag-1 autocorrelation ~0.9, as
    daily SST), which yields the multi-day exceedance runs that MHW
    detection exists to find. Temperatures keep full double precision:
    values rounded to a decimal grid make exact peak-day ties, whose
    tie-break then hangs on last-bit differences between engines."""
    rng = np.random.default_rng([seed, 1])
    start = dt.date(years[0], 1, 1)
    n_days = (dt.date(years[1], 12, 31) - start).days + 1
    t = np.arange(n_days)
    mean = rng.uniform(12.0, 26.0, cells)
    amp = rng.uniform(1.0, 4.0, cells)
    phase = rng.uniform(0.0, 2 * np.pi, cells)
    phi = rng.uniform(0.85, 0.95, cells)
    sigma = rng.uniform(0.15, 0.4, cells)
    noise = rng.standard_normal((n_days, cells)) * sigma
    anom = np.empty((n_days, cells))
    anom[0] = noise[0] / np.sqrt(1 - phi**2)
    for i in range(1, n_days):
        anom[i] = phi * anom[i - 1] + noise[i]
    seas = mean + amp * np.sin(2 * np.pi * t[:, None] / 365.25 + phase)
    temp = seas + anom
    days = np.datetime64(start.isoformat(), "D") + t
    return pa.table(
        {
            "cell_id": pa.array(np.repeat(np.arange(cells, dtype=np.int64), n_days)),
            "time": pa.array(np.tile(days, cells), pa.date32()),
            "temp": pa.array(temp.T.ravel()),
        }
    )


def _sentence(rng: np.random.Generator, n_words: int) -> list[str]:
    words = rng.choice(VOCAB, n_words).tolist()
    # ~25% stopwords, so ordinary documents pass the quality gate
    for i in np.flatnonzero(rng.random(n_words) < 0.25):
        words[i] = STOPWORDS[rng.integers(len(STOPWORDS))]
    return words


def corpus(seed: int, docs: int) -> tuple[pa.Table, pa.Table]:
    """``documents(doc_id, text, lang, source, n_chars)`` and
    ``embeddings(vec_id, embedding, label)`` keyed by ``doc_id``.

    Fixed shares of the corpus: 10% low-quality (short, punctuation
    heavy), 10% exact copies, 15% near copies (a few words edited) and
    10% semantic copies (new text, embedding a small perturbation of
    the original's). The rest are distinct documents with embeddings
    drawn around a handful of topic centres, spread wide enough that
    two unrelated documents of one topic stay below the semantic-dup
    cosine threshold."""
    rng = np.random.default_rng([seed, 2])
    dim = 64
    centres = rng.standard_normal((8, dim))
    kinds = rng.choice(
        ["orig", "junk", "exact", "near", "sem"],
        size=docs,
        p=[0.55, 0.10, 0.10, 0.15, 0.10],
    )
    kinds[:10] = "orig"  # copies need earlier originals to copy from
    texts: list[str] = []
    vecs = np.empty((docs, dim))
    labels = np.empty(docs, dtype=np.int32)
    originals: list[int] = []
    for i, kind in enumerate(kinds):
        if kind in ("exact", "near", "sem"):
            src = originals[rng.integers(len(originals))]
        if kind == "exact":
            texts.append(texts[src])
            vecs[i], labels[i] = vecs[src], labels[src]
            continue
        if kind == "near":
            words = texts[src].split()
            for j in rng.choice(len(words), max(1, len(words) // 25), replace=False):
                words[j] = VOCAB[rng.integers(len(VOCAB))]
            texts.append(" ".join(words))
            vecs[i] = vecs[src] + 0.3 * rng.standard_normal(dim)
            labels[i] = labels[src]
            continue
        if kind == "sem":
            texts.append(" ".join(_sentence(rng, int(rng.integers(40, 120)))))
            vecs[i] = vecs[src] + 0.05 * rng.standard_normal(dim)
            labels[i] = labels[src]
            continue
        if kind == "junk":
            texts.append("!! ".join(rng.choice(VOCAB, int(rng.integers(2, 6)))) + " ??")
        else:
            texts.append(" ".join(_sentence(rng, int(rng.integers(40, 120)))))
            originals.append(i)
        labels[i] = rng.integers(len(centres))
        vecs[i] = centres[labels[i]] + 4.0 * rng.standard_normal(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    ids = np.arange(docs, dtype=np.int64)
    documents = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * docs,
            "source": [SOURCES[i % len(SOURCES)] for i in range(docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    embeddings = pa.table(
        {
            "vec_id": ids,
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return documents, embeddings


def make_inputs(work: str, workload: str, seed: int, size: str) -> str:
    """Write (or reuse) the inputs of one workload; returns their dir."""
    d = os.path.join(work, "inputs", f"{workload}-{size}-s{seed}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    knobs = SIZES[size]
    if workload == "mhw_batch":
        _write(ar1_grid(seed, knobs["cells"], knobs["years"]), os.path.join(d, "grid.parquet"))
    elif workload == "curate":
        documents, embeddings = corpus(seed, knobs["docs"])
        _write(documents, os.path.join(d, "documents.parquet"))
        _write(embeddings, os.path.join(d, "embeddings.parquet"))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    open(done, "w").close()
    return d
