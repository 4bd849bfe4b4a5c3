"""Independent answers the benchmark checks the library's outputs against.

Vector ground truth is exact numpy on the driver, and BM25 is DuckDB
over the same generated texts, tokenized with the DuckDB twin of the
library's tokenizer. Nothing here calls a library search, so the
library never grades itself.
"""

from __future__ import annotations

import numpy as np

BLOCK = 512
# largest score difference still read as equal
TOL = 1e-6


def l2sq(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(len(Q), len(X)) squared l2 distances in float64."""
    X = X.astype(np.float64, copy=False)
    Q = Q.astype(np.float64, copy=False)
    d = (Q * Q).sum(1)[:, None] - 2.0 * Q @ X.T + (X * X).sum(1)[None, :]
    return np.maximum(d, 0.0)


def topk(D: np.ndarray, k: int) -> np.ndarray:
    """Row-wise ids of the k smallest entries, nearest first (ties by id)."""
    part = np.argpartition(D, k - 1, axis=1)[:, :k]
    rows = np.arange(len(D))[:, None]
    order = np.lexsort((part, D[rows, part]), axis=1)
    return part[rows, order]


def exact_topk(X: np.ndarray, Q: np.ndarray, k: int, weights=None, Q2=None) -> np.ndarray:
    """Exact top-k ids of every query, in query blocks. With ``weights``
    ``(w1, w2)`` and a second query matrix ``Q2``, ranks by the joint
    distance ``w1·l2sq(x, q) + w2·l2sq(x, q2)``."""
    out = []
    for i in range(0, len(Q), BLOCK):
        D = l2sq(X, Q[i:i + BLOCK])
        if weights is not None:
            D = weights[0] * D + weights[1] * l2sq(X, Q2[i:i + BLOCK])
        out.append(topk(D, k))
    return np.concatenate(out) if out else np.zeros((0, k), dtype=np.int64)


def pair_l2sq(X: np.ndarray, Q: np.ndarray, qi: np.ndarray, ids: np.ndarray) -> np.ndarray:
    """l2sq between query ``qi[j]`` and row ``ids[j]`` for every j."""
    diff = Q[qi].astype(np.float64) - X[ids].astype(np.float64)
    return (diff * diff).sum(1)


def bm25_topk(ids, texts, queries: list[str], k: int, k1: float, b: float, stopwords) -> dict:
    """{query index: [(doc_id, score), ...]} — the top ``k`` BM25 hits by
    (score desc, doc_id), computed by DuckDB from the raw texts."""
    import duckdb
    import pandas as pd

    from lanterndb_spark.oracle import duck_tokens

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame({"doc_id": ids, "text": texts}))
        con.register("qs", pd.DataFrame({"q_id": np.arange(len(queries)), "text": queries}))
        toks = duck_tokens("text", stopwords)
        rows = con.execute(f"""
        WITH toks AS (SELECT doc_id, {toks} AS terms FROM documents),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                      avg(CAST(len(terms) AS DOUBLE)) AS avgdl FROM toks),
        ex AS (SELECT doc_id, len(terms) AS dl, unnest(terms) AS term FROM toks),
        dt AS (SELECT doc_id, term, count(*) AS fq, any_value(dl) AS dl
               FROM ex GROUP BY doc_id, term),
        tf AS (SELECT term, count(*) AS tfreq FROM dt GROUP BY term),
        qt AS (SELECT DISTINCT q_id, unnest({toks}) AS term FROM qs),
        sc AS (
          SELECT qt.q_id, dt.doc_id,
            ln((st.n - tf.tfreq + 0.5) / (tf.tfreq + 0.5) + 1.0)
              * (CAST(dt.fq AS DOUBLE) * {k1 + 1.0!r})
              / (CAST(dt.fq AS DOUBLE) + {k1!r} * ({1.0 - b!r}
                 + {b!r} * CAST(dt.dl AS DOUBLE) / st.avgdl)) AS s
          FROM dt JOIN tf USING (term) JOIN qt ON qt.term = dt.term CROSS JOIN st
        ),
        agg AS (SELECT q_id, doc_id, sum(s) AS score FROM sc GROUP BY q_id, doc_id)
        SELECT q_id, doc_id, score FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id) AS rn
          FROM agg) WHERE rn <= {int(k)}
        ORDER BY q_id, rn
        """).fetchall()
    finally:
        con.close()
    out: dict = {i: [] for i in range(len(queries))}
    for q, d, s in rows:
        out[int(q)].append((int(d), float(s)))
    return out


def same_topk(got: list, want: list) -> bool:
    """True when ``got`` is a valid top-k given the exact ``want``, both
    [(id, score), ...] best first: same length, same score sequence
    within ``TOL``, and every id outside ``want`` scored as a tie with
    the last kept score (ties at the cut may resolve either way)."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > TOL for g, w in zip(got, want)):
        return False
    exact = dict(want)
    cut = want[-1][1] if want else 0.0
    for i, s in got:
        if i in exact:
            if abs(exact[i] - s) > TOL:
                return False
        elif abs(s - cut) > TOL:
            return False
    return True
