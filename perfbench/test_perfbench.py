"""Tests of the benchmark's own logic (no Spark session needed):

    python3 -m pytest perfbench -q

The key one shows that a deliberately perturbed result is counted as a
failed op by the same path the runs use (workload.check_ops).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import checks  # noqa: E402
import run  # noqa: E402
import spark_trace  # noqa: E402
import workload  # noqa: E402


class _Row:
    def __init__(self, vec_id, embedding):
        self.vec_id = vec_id
        self.embedding = embedding


class _Emb:
    """Stands in for the cached embeddings DataFrame."""

    def __init__(self, rows):
        self._rows = rows

    def select(self, *cols):
        return self

    def collect(self):
        return self._rows


class _Engine:
    def __init__(self, doc_ids, emb):
        self.emb = _Emb([_Row(int(d), list(v)) for d, v in zip(doc_ids, emb)])


@pytest.fixture(scope="module")
def dense_case():
    rng = np.random.default_rng(7)
    doc_ids = np.sort(rng.choice(1 << 40, 160, replace=False)).astype(np.int64)
    emb = rng.standard_normal((160, 8))
    qids = [int(doc_ids[3]), int(doc_ids[90])]
    ref = checks.dense_reference(checks.load_geo_oracle(workload.ROOT), doc_ids, emb, qids)
    # what the engine returns: 6-decimal distances, ranks from 1
    out = [(q, d, round(dist, 6), r + 1)
           for q, hits in ref.items() for r, (d, dist) in enumerate(hits)]
    return _Engine(doc_ids, emb), qids, out


def _dense_failures(eng, qids, out):
    call = {"kind": "dense", "arg": qids, "out": out, "error": None, "wall": 0.0}
    return workload.check_ops(eng, [call], seed=0, per_kind={"dense": 1})


def test_dense_reference_output_passes(dense_case):
    eng, qids, out = dense_case
    assert len(out) == 2 * checks.TOP_K
    assert _dense_failures(eng, qids, out) == 0


@pytest.mark.parametrize("field, delta", [(1, 1), (2, 1e-5)])
def test_perturbed_dense_result_is_counted_failed(dense_case, field, delta):
    eng, qids, out = dense_case
    bad = list(out)
    row = list(bad[4])
    row[field] += delta
    bad[4] = tuple(row)
    assert _dense_failures(eng, qids, bad) == 1


def test_dense_missing_row_is_counted_failed(dense_case):
    eng, qids, out = dense_case
    assert _dense_failures(eng, qids, out[1:]) == 1


def test_bm25_rows_compare_bit_for_bit():
    want = [(7, 11, 1.234567, 1), (7, 12, 1.234567, 2), (8, 3, 0.5, 1)]
    ref = checks.by_qid(want)
    assert checks.same_rows(want, ref, [7, 8, 9], [7, 8, 9])
    one_ulp = np.nextafter(1.234567, 2.0)
    assert not checks.same_rows([(7, 11, one_ulp, 1)] + want[1:], ref, [7, 8], [7, 8])
    swapped = [(7, 12, 1.234567, 1), (7, 11, 1.234567, 2), want[2]]
    assert not checks.same_rows(swapped, ref, [7, 8], [7, 8])
    # rows for a qid the call never asked for
    assert not checks.same_rows(want + [(5, 1, 1.0, 1)], ref, [7, 8], [7])
    # an unchecked qid may differ; a checked one may not
    assert checks.same_rows(want[:2], ref, [7, 8], [7])
    assert not checks.same_rows(want[:2], ref, [7, 8], [8])


def test_query_stream_is_a_function_of_the_seed():
    a, b = workload.QueryGen(3, 0), workload.QueryGen(3, 0)
    assert a.rows(50) == b.rows(50)
    assert workload.QueryGen(4, 0).rows(50) != workload.QueryGen(3, 0).rows(50)
    rows = workload.QueryGen(3, 1).rows(200)
    assert len({q for q, _ in rows}) == 200
    assert all(1 <= len(t.split()) <= 4 for _, t in rows)


def test_union_length():
    assert spark_trace.union_length([]) == 0.0
    assert spark_trace.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert spark_trace.union_length([(1, 4), (2, 3)]) == 3.0


def test_build_spans_add_up_to_the_wall():
    manifest = [
        {"stage": "params", "wall_ms": 0, "committed_at": 100.0},
        {"stage": "docstats", "wall_ms": 3000, "committed_at": 103.0},
        {"stage": "docstats", "wall_ms": 2500, "committed_at": 103.2},
        {"stage": "docmap", "wall_ms": 1000, "committed_at": 104.5},
        {"stage": "segments", "wall_ms": 2000, "committed_at": 107.0},
        {"stage": "merge", "wall_ms": 1500, "committed_at": 109.0},
    ]
    ran = [{"start": 101.0, "task_run_s": 2.0, "shuffle_write_bytes": 10},
           {"start": 106.0, "task_run_s": 1.0, "shuffle_write_bytes": 5}]
    out = spark_trace.build_stage_spans(manifest, ran, build_wall=10.0)
    spans = [out[f"{name}_s"] for _, name in spark_trace.BUILD_SPANS]
    assert sum(spans) + out["build.unattributed_s"] == pytest.approx(10.0)
    assert out["tokenizer.docstats_task_run_s"] == 2.0
    assert out["postings.segments_shuffle_write_bytes"] == 5


def test_units_come_from_the_declaration():
    declared = json.loads((workload.ROOT / "BENCHMARK.json").read_text())["end_to_end"]
    measured = {d["name"]: 1.0 for d in declared}
    out = run.with_units(measured, declared)
    assert [(k, v["unit"]) for k, v in out.items()] == [(d["name"], d["unit"]) for d in declared]
    with pytest.raises(RuntimeError):
        run.with_units({**measured, "stray_s": 1.0}, declared)
    with pytest.raises(RuntimeError):
        run.with_units({k: v for k, v in measured.items() if k != "setup_s"}, declared)
