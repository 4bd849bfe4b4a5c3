"""Seeded input generator for the benchmark (numpy only, no Spark).

Everything a workload feeds the library is drawn here from the workload
seed, so one seed gives bit-identical inputs on every run:

- vectors: a gaussian mixture (``COMPONENTS`` centers in ``DIM`` dims).
  Clustered on purpose: on iid gaussians every point is about as far
  from a query as every other, and IVF/HNSW recall means nothing.
- documents: zipf-distributed tokens over a ``VOCAB``-word vocabulary.
  A planted ``hot`` token sits in ~40% of documents so the salted
  postings path runs, and 2% of documents get a near-duplicate twin
  (the source text plus one token, 3-gram Jaccard above 0.9).
- the ingest tail: fresh mixture rows in micro-batches, 1% of them
  planted semantic twins (a rescaled copy of an earlier row plus tiny
  noise, cosine distance ~1e-5).

Each stream draws from its own ``np.random.default_rng([seed, stream])``
so changing one size does not reshuffle the others.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

DIM = 64
COMPONENTS = 256
# per-coordinate noise around a component center (centers are N(0, 1)):
# a point's nearest neighbours sit in its own component, but components
# are close enough that a coarse quantizer with few probes misses some
SIGMA = 0.6
VOCAB = 10_000
ZIPF_S = 1.1
HOT_TOKEN = "hot"
TWIN_TOKEN = "twinmark"
# share of documents carrying HOT_TOKEN, and of documents that get a twin
HOT_FRAC = 0.4
DOC_TWIN_FRAC = 0.02
# share of ingest-tail rows that are planted semantic twins
TAIL_TWIN_FRAC = 0.01

# stream ids: one rng per input family
_CENTERS, _CORPUS, _QUERIES, _DOCS, _BM25Q, _TAIL = range(6)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def centers(seed: int) -> np.ndarray:
    return _rng(seed, _CENTERS).normal(size=(COMPONENTS, DIM))


def mixture(rng: np.random.Generator, ctr: np.ndarray, n: int) -> np.ndarray:
    lab = rng.integers(0, len(ctr), n)
    return (ctr[lab] + rng.normal(scale=SIGMA, size=(n, ctr.shape[1]))).astype(
        np.float32
    )


def corpus(seed: int, n: int) -> np.ndarray:
    """``n`` x DIM float32 corpus rows; row i has id i."""
    return mixture(_rng(seed, _CORPUS), centers(seed), n)


def queries(seed: int, n: int, stream: int) -> np.ndarray:
    """``n`` fresh mixture points (not corpus rows), float64. ``stream``
    separates independent query sets drawn from one seed."""
    rng = _rng(seed, _QUERIES * 1000 + stream)
    return mixture(rng, centers(seed), n).astype(np.float64)


@dataclass
class Docs:
    ids: np.ndarray       # int64, base docs 0..n-1 then twins n..n+t-1
    texts: list[str]
    twins: list[tuple[int, int]]  # (source id, twin id)


def documents(seed: int, n: int) -> Docs:
    rng = _rng(seed, _DOCS)
    p = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_S
    p /= p.sum()
    words = np.array([f"w{i}" for i in range(VOCAB)])
    lens = rng.integers(20, 41, n)
    toks = words[rng.choice(VOCAB, size=int(lens.sum()), p=p)]
    texts = [" ".join(c) for c in np.split(toks, np.cumsum(lens)[:-1])]
    for i in np.flatnonzero(rng.random(n) < HOT_FRAC):
        texts[i] += " " + HOT_TOKEN
    src = np.sort(rng.choice(n, int(n * DOC_TWIN_FRAC), replace=False))
    twins = [(int(s), n + j) for j, s in enumerate(src)]
    texts += [texts[s] + " " + TWIN_TOKEN for s, _ in twins]
    return Docs(np.arange(n + len(twins), dtype=np.int64), texts, twins)


def bm25_queries(seed: int, n: int) -> list[str]:
    """2-3 mid-frequency words per query; a quarter also ask for the hot
    token, whose long posting list is the expensive one."""
    rng = _rng(seed, _BM25Q)
    out = []
    for _ in range(n):
        ws = [f"w{r}" for r in rng.integers(5, 2000, int(rng.integers(2, 4)))]
        if rng.random() < 0.25:
            ws.append(HOT_TOKEN)
        out.append(" ".join(ws))
    return out


@dataclass
class IngestTail:
    X: np.ndarray                   # float32 rows, ids start at the base size
    twins: list[tuple[int, int]]    # (earlier id, planted twin id)


def ingest_tail(seed: int, base: np.ndarray, n: int) -> IngestTail:
    """``n`` rows arriving after ``base`` (ids ``len(base)`` onwards).
    Each planted twin copies a row that arrived before it, rescaled by
    0.8-1.25 with 1e-3 noise, so its cosine distance to the source is
    ~1e-5 while its l2 distance is not small."""
    rng = _rng(seed, _TAIL)
    nb = len(base)
    X = mixture(rng, centers(seed), n)
    # one twin at a random offset in every block of 1/TAIL_TWIN_FRAC rows,
    # so every micro-batch of at least that many rows carries twins
    block = int(round(1 / TAIL_TWIN_FRAC))
    pos = np.arange(0, n - block + 1, block) + rng.integers(1, block, n // block)
    twins = []
    for p in pos:
        src = int(rng.integers(0, nb + p))
        v = base[src] if src < nb else X[src - nb]
        X[p] = v * rng.uniform(0.8, 1.25) + rng.normal(scale=1e-3, size=v.shape)
        twins.append((src, nb + int(p)))
    return IngestTail(X, twins)
