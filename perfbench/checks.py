"""Output checks: every timed op's result is compared, outside the timed
region, with a reference that does not share the op's query plan.

* ``query`` / ``batch``: the exhaustive tf-frame scorer
  ``operators.bm25.bm25_topk``, bit for bit on (qid, doc_id, score, rank);
* ``hybrid``: the exhaustive flagship ``operators.pipelines.bm25_geodesic``,
  bit for bit on (qid, doc_id, bm25, geo_dist, rank);
* ``dense``: the naive single-node NumPy oracle in ``tests/oracle/geo.py``
  (cosine top-search_k, candidate k-NN graph, Dijkstra), on doc ids and
  ranks exactly and on geo_dist up to the 6-decimal output rounding.
"""

from __future__ import annotations

import importlib.util
from pathlib import Path

import numpy as np

SEARCH_K = 100
CONNECT_K = 10
KNN_K = 10
TOP_K = 10
# the engine rounds geo_dist half-up to 6 decimals; the oracle is raw
GEO_TOL = 5e-7 + 1e-12


def by_qid(rows) -> dict[int, list[tuple]]:
    """Group result tuples (qid, ...) by qid, each group in row order."""
    out: dict[int, list[tuple]] = {}
    for r in rows:
        out.setdefault(int(r[0]), []).append(tuple(r))
    return out


def topk_tuples(rows) -> list[tuple]:
    """(qid, doc_id, score, rank) tuples ordered by (qid, rank)."""
    return sorted(
        ((int(r[0]), int(r[1]), float(r[2]), int(r[3])) for r in rows),
        key=lambda t: (t[0], t[3]),
    )


def flagship_tuples(rows) -> list[tuple]:
    """(qid, doc_id, bm25, geo_dist, rank) tuples ordered by (qid, rank)."""
    return sorted(
        ((int(r[0]), int(r[1]), float(r[2]), float(r[3]), int(r[4])) for r in rows),
        key=lambda t: (t[0], t[4]),
    )


def same_rows(got: list[tuple], want_by_qid: dict[int, list[tuple]],
              call_qids, checked_qids) -> bool:
    """True when got has rows only for the call's qids and, for every
    checked qid, exactly the reference rows (none where the reference has
    none)."""
    got_by = by_qid(got)
    if not set(got_by) <= set(call_qids):
        return False
    return all(got_by.get(q, []) == want_by_qid.get(q, []) for q in checked_qids)


def dense_matches(got: list[tuple], want: dict[int, list[tuple[int, float]]]) -> bool:
    """got: (qid, doc_id, geo_dist, rank) rows; want: qid -> oracle
    [(doc_id, raw distance)] in rank order."""
    got_by = by_qid(sorted(got, key=lambda t: (t[0], t[3])))
    if set(got_by) != set(want):
        return False
    for q, ref in want.items():
        rows = got_by[q]
        if [r[1] for r in rows] != [d for d, _ in ref]:
            return False
        if [r[3] for r in rows] != list(range(1, len(ref) + 1)):
            return False
        if any(abs(r[2] - dist) > GEO_TOL for r, (_, dist) in zip(rows, ref)):
            return False
    return True


def load_geo_oracle(root: Path):
    """The repo's deliberately naive NumPy geometric oracle module."""
    path = root / "tests" / "oracle" / "geo.py"
    spec = importlib.util.spec_from_file_location("perfbench_geo_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def dense_reference(
    geo, doc_ids: np.ndarray, emb: np.ndarray, qids
) -> dict[int, list[tuple[int, float]]]:
    """Oracle geodesic top-k for query vectors that are rows of ``emb``
    (qid = the doc_id whose embedding is the query). ``doc_ids`` must be
    ascending, so oracle index order is doc_id order for tie-breaks."""
    E = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    pos = {int(d): i for i, d in enumerate(doc_ids)}
    out = {}
    for q in qids:
        qv = E[pos[int(q)]]
        cand = geo.cosine_topk(E, qv, SEARCH_K)
        local = geo.knn_graph_edges(E[cand], KNN_K)
        edges = {
            (min(cand[a], cand[b]), max(cand[a], cand[b])): w
            for (a, b), w in local.items()
        }
        # every reachable candidate, re-ranked on the engine's key
        # (6-decimal distance, then doc_id): ranking on the raw distance
        # would order near-ties differently from the rounded key
        hits = geo.geodesic_search(E, qv, edges, SEARCH_K, SEARCH_K, CONNECT_K)
        ranked = sorted(
            ((int(doc_ids[i]), float(d)) for i, d in hits),
            key=lambda t: (round(t[1], 6), t[0]),
        )
        out[int(q)] = ranked[:TOP_K]
    return out
