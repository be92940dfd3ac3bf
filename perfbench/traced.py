"""The traced run (``--trace 1``): per-layer metrics for every public op.

Same seed, same inputs and same index as the timed run, but every op kind
(build, query, batch, hybrid, dense) is traced on both workloads, so each
traced run reports the full per-layer set. Each query-side op gets one
argument: a first call warms the code paths and the index handle's term
cache for it, then OVERHEAD_PAIRS pairs of calls follow, an untraced call
and one wrapped in a status-store diff (spark_trace.py), alternating which
goes first. Every call of a pair is followed by the same wait for the
status store to settle, so neither side starts from a quieter JVM. The
op's counters are those of its last traced call; the tracing overhead is
the median over the pairs of traced wall minus untraced wall. Layer names
are the engine's module names. Outputs are checked for the workload's own
ops, as in the timed run.

Exact counts (jobs, stages, tasks, WAND blocks) are stored per workload,
seed and source fingerprint in the state directory; a later traced run of
the same code and seed must reproduce them exactly, or it fails loudly.
"""

from __future__ import annotations

import hashlib
import json
import statistics
import time
from pathlib import Path

from pyspark.sql import functions as F

import geometric_aware_retrieval_v2_spark as pkg
from geometric_aware_retrieval_v2_spark.functions.tokenizer import py_terms
from geometric_aware_retrieval_v2_spark.functions.xxh64 import xxh64_str
from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
from geometric_aware_retrieval_v2_spark.operators.index import (
    bm25_topk_indexed,
    wand_block_stats,
)
from geometric_aware_retrieval_v2_spark.operators.postings import decode_block
from geometric_aware_retrieval_v2_spark.plans.manifest import read_manifest

import checks
import spark_trace
import workload as wl

OPS = ("query", "batch", "hybrid", "dense")
# untraced-traced, then traced-untraced: a steady drift of call times over
# the sequence (JIT warm-up) adds to one difference what it takes from the
# other, so their median (here: mean) cancels it
OVERHEAD_PAIRS = 2
DECODE_SAMPLE_BLOCKS = 2000
POSTINGS_SAMPLE_QUERIES = 200
BLOCK_SAMPLE_QUERIES = 128


def exact_counts(m: dict) -> dict:
    return {k: v for k, v in m.items()
            if k.rsplit(".", 1)[1] in ("jobs", "stages", "tasks") or ".blocks_" in k}


def source_fingerprint() -> str:
    h = hashlib.sha256()
    for d in (Path(pkg.__file__).parent, Path(__file__).parent):
        for p in sorted(d.rglob("*.py")):
            h.update(p.relative_to(d.parent).as_posix().encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def check_counts_repeat(state_dir: Path, workload: str, seed: int, counts: dict) -> None:
    path = state_dir / "trace-counts" / f"{workload}-{seed}-{source_fingerprint()}.json"
    if path.is_file():
        prev = json.loads(path.read_text())
        diff = {k: (prev.get(k), v) for k, v in counts.items() if prev.get(k) != v}
        if diff:
            raise RuntimeError(
                "exact counts differ from the previous traced run of the same "
                f"code and seed ({path.name}): {diff}"
            )
        return
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(counts, sort_keys=True))


def _untraced_call(store, eng, kind: str, arg) -> dict:
    """A timed call followed by the settle wait a traced call has."""
    mark = store.next_ids()
    call = wl.timed_call(eng, kind, arg)
    store.settled(mark, store.next_ids())
    return call


def _blocks(spark, handle, queries) -> tuple[int, float]:
    rows = wand_block_stats(spark, handle, queries, k=checks.TOP_K).collect()
    scanned = sum(r.n_blocks for r in rows)
    decoded = sum(r.n_decoded for r in rows)
    return scanned, (decoded / scanned if scanned else 0.0)


def _decode_rate(spark, index_dir: str, seed: int) -> float:
    """Blocks per second through postings.decode_block, one driver thread,
    over a seeded sample of the built index's blocks."""
    blocks = [
        (bytes(r.bytes), int(r.n))
        for r in spark.read.parquet(f"{index_dir}/postings")
        .orderBy(F.xxhash64("term_id", "shard", "block_id", F.lit(seed)))
        .limit(DECODE_SAMPLE_BLOCKS)
        .select("bytes", "n")
        .collect()
    ]
    done, t = 0, time.monotonic()
    while time.monotonic() - t < 0.5:
        for buf, n in blocks:
            decode_block(buf, n)
        done += len(blocks)
    return done / (time.monotonic() - t)


def _postings_per_query(handle, seed: int) -> float:
    """p50 over generated queries of the summed document frequency of
    their distinct terms (postings a query's terms hold in the index)."""
    df = {int(r.term_id): int(r.df) for r in handle.dictionary.collect()}
    mode = wl.BUILD_PARAMS["tokenizer_mode"]
    sums = [
        sum(df.get(t, 0) for t in {xxh64_str(tok) for tok in py_terms(text, mode)})
        for _, text in wl.QueryGen(seed, 2).rows(POSTINGS_SAMPLE_QUERIES)
    ]
    return float(statistics.median(sums))


def _cached_bytes(spark) -> int:
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def run_traced(workload: str, seed: int, tmp: Path, cores: int, state_dir: Path) -> dict:
    sess = wl.Session(tmp, cores)
    try:
        spark = sess.spark
        store = spark_trace.StatusStore(spark)
        eng, phases, (build_c, build_ran) = wl.setup(sess, tmp, workload, seed, store)
        m = {f"build.{k}": v for k, v in build_c.items()}
        manifest = [r.asDict() for r in read_manifest(spark, eng.index_dir).collect()]
        m.update(spark_trace.build_stage_spans(manifest, build_ran, build_c["wall_s"]))
        m["index.cache_s"] = phases["cache_s"]
        m["index.cache_bytes"] = _cached_bytes(spark)
        if eng.emb is None:
            eng.cache_emb(seed)
        doc_ids = eng.doc_ids()

        args = wl.ArgGen(seed, 0, doc_ids)
        calls, last, pair_diffs = [], {}, {}
        for kind in OPS:
            arg = last[kind] = args(kind)
            first = _untraced_call(store, eng, kind, arg)
            if first["error"] is not None:
                raise RuntimeError(f"{kind} failed: {first['error']}")
            diffs = []
            for i in range(OVERHEAD_PAIRS):
                if i % 2:
                    out, c, _ = spark_trace.traced_call(store, lambda: getattr(eng, kind)(arg))
                    untraced = _untraced_call(store, eng, kind, arg)
                else:
                    untraced = _untraced_call(store, eng, kind, arg)
                    out, c, _ = spark_trace.traced_call(store, lambda: getattr(eng, kind)(arg))
                calls += [untraced, {"kind": kind, "arg": arg, "out": out, "error": None,
                                     "wall": c["wall_s"]}]
                diffs.append(c["wall_s"] - untraced["wall"])
            m.update({f"{kind}.{k}": v for k, v in c.items()})
            m[f"{kind}.trace_overhead_s"] = statistics.median(diffs)
            pair_diffs[kind] = diffs

        frames = []
        for q in wl.QueryGen(seed, 3).rows(20):
            t = time.monotonic()
            local_queries_df(spark, [q])
            frames.append(time.monotonic() - t)
        m["localrel.frame_s"] = statistics.median(frames)
        m["index.postings_per_query"] = _postings_per_query(eng.handle, seed)
        m["query.blocks_scanned"], m["query.blocks_decoded_ratio"] = _blocks(
            spark, eng.handle,
            local_queries_df(spark, wl.QueryGen(seed, 4).rows(BLOCK_SAMPLE_QUERIES)))
        m["varbyte.decode_blocks_per_s"] = _decode_rate(spark, eng.index_dir, seed)

        t = time.monotonic()
        bm25_topk_indexed(spark, eng.handle, local_queries_df(spark, last["hybrid"]),
                          k=checks.SEARCH_K).collect()
        m["hybrid.retrieve_s"] = time.monotonic() - t
        m["hybrid.rerank_tail_s"] = m["hybrid.wall_s"] - m["hybrid.retrieve_s"]
        t = time.monotonic()
        eng.cosine(last["dense"]).collect()
        m["dense.cosine_s"] = time.monotonic() - t
        m["dense.rerank_s"] = m["dense.wall_s"] - m["dense.cosine_s"]

        failed = sum(c["error"] is not None for c in calls)
        own = [c for c in calls if c["kind"] in wl.WORKLOADS[workload]["cycle"]]
        failed += wl.check_ops(eng, own, seed, {k: 1 for k in OPS})
        check_counts_repeat(state_dir, workload, seed, exact_counts(m))
        return {
            "correct": failed == 0,
            "attempted": len(calls),
            "failed": failed,
            "metrics": m,
            "detail": {"driver_mem": wl.DRIVER_MEM, "traced_ops": ["build", *OPS],
                       "trace_overhead_pairs_s": pair_diffs},
        }
    finally:
        sess.close()
