"""The benchmark's inputs, public engine calls and output checks,
shared by the timed run (run.py) and the traced run (traced.py).

Import it only once the package's checkout root is on ``sys.path``
(run.py does that first).
"""

from __future__ import annotations

import os
import random
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geometric_aware_retrieval_v2_spark.functions.tokenizer import doc_stats, tokenize_terms
from geometric_aware_retrieval_v2_spark.localrel import local_queries_df
from geometric_aware_retrieval_v2_spark.operators import bm25, pipelines
from geometric_aware_retrieval_v2_spark.operators.index import (
    IndexHandle,
    bm25_topk_indexed,
    build_index,
)
from geometric_aware_retrieval_v2_spark.operators.rerank import cosine_topk, geodesic_rerank
from geometric_aware_retrieval_v2_spark.session import get_spark
from geometric_aware_retrieval_v2_spark.sources.corpus import corpus_to_docs, synth_corpus_files

import checks

ROOT = Path(__file__).resolve().parent.parent

# pinned: the engine's default maximum driver heap (48g) is most of this
# host; the 20k-file build runs in 2g
DRIVER_MEM = "2g"

# index layout of the frozen bench.py build leg
BUILD_PARAMS = dict(n_partitions=2, n_shards=8, block_size=128, tokenizer_mode="code")

BATCH_QUERIES = 256  # largest batch the interactive WAND path takes
WARMUP_BATCH_QUERIES = 32
# untimed calls of each op kind before the loop: with one, the first two or
# three timed rerank calls still ran 20-30% slower than the rest, and a
# slow run, making fewer calls, took more of them into its median
WARMUP_ROUNDS = 3
DENSE_QVECS = 8
EMB_DIM = 64  # the flagship's hashing query encoder default (dim=64)

# inputs and the closed-loop op cycle of each workload. Every run pays a
# cold JVM, a cold index build and its output checks inside a per-run
# budget of about a minute. The search corpus is large enough that hot
# terms span many 128-posting blocks per shard, so WAND pruning has blocks
# to skip; the rerank ops work on search_k=100 candidates per query
# whatever the corpus size, so that corpus stays small
WORKLOADS = {
    "search": {"n_files": 20_000, "cycle": ("query", "query", "query", "batch"),
               "emb": False},
    "rerank": {"n_files": 3_000, "cycle": ("hybrid", "hybrid", "dense"),
               "emb": True},
}
# the op that reports single_p50_s and the one that reports
# batch_queries_per_s, per workload
SINGLE_OP = {"search": "query", "rerank": "hybrid"}
BATCH_OP = {"search": "batch", "rerank": "dense"}

# ops whose outputs are checked per run, and how many of each; a checked
# multi-query call is compared on a seeded sample of its queries (the
# exhaustive reference tokenizes the whole corpus, and each hot query term
# adds a join over most of it)
CHECKS_PER_RUN = {"query": 2, "batch": 1, "hybrid": 2, "dense": 1}
CHECKED_QUERIES_PER_CALL = 4

# hot corpus keywords (top of the generator's Zipf ranking)
HOT_TERMS = ("def return import class self if else for while try except lambda "
             "public static void int new val var select from where").split()
N_IDENTS = 4958  # ident_0000 .. ident_4957 in the generator's vocabulary
COMMON_IDENTS = 100


# ------------------------------------------------------------- processes


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # the process ended while we looked
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


class Session:
    """One local Spark session whose JVM, Python workers and scratch files
    all end with ``close()``."""

    def __init__(self, tmp: Path, cores: int):
        (tmp / "spark-local").mkdir(parents=True)
        (tmp / "tmp").mkdir()
        os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark-local")
        os.environ["TMPDIR"] = str(tmp / "tmp")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            extra_conf={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp / 'tmp'}"},
        )
        self.jvm = self.spark.sparkContext._gateway.proc

    def close(self) -> None:
        sc = self.spark.sparkContext
        kids = _descendants(self.jvm.pid)
        self.spark.stop()
        sc._gateway.shutdown()
        self.jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.monotonic() + 20
        while any(alive(p) for p in kids) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in kids:
            if alive(p):
                os.kill(p, signal.SIGKILL)


# ---------------------------------------------------------------- inputs


class QueryGen:
    """Seeded query text: 1-4 terms, each a hot keyword (30%), an
    ``ident_NNNN`` identifier whose rank is Zipf(1)-distributed (65%) or an
    out-of-vocabulary token (5%). Identifiers past rank COMMON_IDENTS are
    rare: each one misses the index handle's driver-side term cache on
    first use.

    The shape of the i-th query of a stream (term count, and for each term
    hot, common identifier, rare identifier or out-of-vocabulary) does not
    depend on the seed; the seed picks the terms within each class. A run
    makes only a handful of calls of each op, so this keeps the mix of
    cheap and expensive queries the same from seed to seed. Streams are
    independent, so warm-up and traced passes never shift the timed
    sequence."""

    def __init__(self, seed: int, stream: int):
        self.shape_rng = np.random.default_rng([stream])
        self.rng = np.random.default_rng([seed, stream])
        self.next_qid = stream * 1_000_000_000
        weights = 1.0 / np.arange(1, N_IDENTS + 1)
        self.ident_cdf = np.cumsum(weights) / weights.sum()

    def _term(self) -> str:
        u = self.shape_rng.random()
        if u < 0.30:
            return HOT_TERMS[int(self.rng.integers(len(HOT_TERMS)))]
        if u >= 0.95:
            return f"oov_{int(self.rng.integers(1 << 32)):08x}"
        # the Zipf draw, split at COMMON_IDENTS by the seed-free shape draw
        cut = self.ident_cdf[COMMON_IDENTS - 1]
        if u < 0.30 + 0.65 * cut:
            v = self.rng.random() * cut
        else:
            v = cut + self.rng.random() * (1.0 - cut)
        rank = int(np.searchsorted(self.ident_cdf, v, side="right"))
        return f"ident_{min(rank, N_IDENTS - 1):04d}"

    def rows(self, n: int) -> list[tuple[int, str]]:
        out = []
        for _ in range(n):
            n_terms = int(self.shape_rng.integers(1, 5))
            out.append((self.next_qid, " ".join(self._term() for _ in range(n_terms))))
            self.next_qid += 1
        return out

    def doc_sample(self, doc_ids: list[int], n: int) -> list[int]:
        return sorted(int(d) for d in self.rng.choice(doc_ids, n, replace=False))


class ArgGen:
    """Arguments for each op kind, from the seeded query stream."""

    def __init__(self, seed: int, stream: int, doc_ids: list[int] | None,
                 batch_queries: int = BATCH_QUERIES):
        self.q = QueryGen(seed, stream)
        self.doc_ids = doc_ids
        self.batch_queries = batch_queries

    def __call__(self, kind: str):
        if kind in ("query", "hybrid"):
            return self.q.rows(1)
        if kind == "batch":
            return self.q.rows(self.batch_queries)
        if kind == "dense":
            return self.q.doc_sample(self.doc_ids, DENSE_QVECS)
        raise ValueError(kind)


def write_corpus(spark, tmp: Path, n_files: int, seed: int) -> None:
    """corpus(doc_id, content) as parquet, a pure function of the seed."""
    cores = spark.sparkContext.defaultParallelism
    corpus_to_docs(synth_corpus_files(spark, n_files, seed=seed, partitions=cores)).select(
        "doc_id", "content"
    ).write.parquet(str(tmp / "corpus"))


def embeddings(corpus, seed: int):
    """(vec_id, embedding): one EMB_DIM vector per document, uniform in
    [-1, 1) per component, drawn from a generator seeded by (seed, doc_id)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].tolist()
            vecs = [np.random.default_rng([seed, d & (2**64 - 1)]).uniform(-1.0, 1.0, EMB_DIM)
                    for d in ids]
            yield pd.DataFrame({"vec_id": ids, "embedding": vecs})

    return corpus.select("doc_id").mapInPandas(gen, "vec_id long, embedding array<double>")


# ------------------------------------------------------------------- ops


class Engine:
    """The workload's public calls. Every op returns its result as plain
    tuples, so the collect and conversion sit inside the timed call."""

    def __init__(self, spark, tmp: Path):
        self.spark = spark
        self.tmp = tmp
        self.index_dir = str(tmp / "index")
        self.handle = None
        self.emb = None

    def corpus(self):
        return self.spark.read.parquet(str(self.tmp / "corpus"))

    def build(self) -> None:
        build_index(self.spark, self.corpus(), self.index_dir, **BUILD_PARAMS)

    def cache(self) -> None:
        self.handle = IndexHandle(self.spark, self.index_dir).cache()

    def cache_emb(self, seed: int) -> None:
        self.emb = embeddings(self.corpus(), seed).cache()
        self.emb.count()

    def query(self, rows) -> list[tuple]:
        df = local_queries_df(self.spark, rows)
        return checks.topk_tuples(
            bm25_topk_indexed(self.spark, self.handle, df, k=checks.TOP_K).collect()
        )

    batch = query

    def hybrid(self, rows) -> list[tuple]:
        df = local_queries_df(self.spark, rows)
        return checks.flagship_tuples(
            pipelines.bm25_geodesic_indexed(
                self.spark, self.handle, self.emb, df, k=checks.TOP_K,
                search_k=checks.SEARCH_K,
            ).collect()
        )

    def _qvecs(self, ids):
        return self.emb.filter(F.col("vec_id").isin(list(ids))).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )

    def cosine(self, ids):
        return cosine_topk(self.emb, self._qvecs(ids), k=checks.SEARCH_K)

    def dense(self, ids) -> list[tuple]:
        cands = (
            self.cosine(ids)
            .select("qid", "doc_id")
            .join(self.emb.withColumnRenamed("vec_id", "doc_id"), "doc_id")
            .join(self._qvecs(ids), "qid")
            .select("qid", "doc_id", "embedding", "qvec")
        )
        rows = geodesic_rerank(
            cands, k=checks.TOP_K, connect_k=checks.CONNECT_K, knn_k=checks.KNN_K
        ).collect()
        return sorted(
            ((int(r.qid), int(r.doc_id), float(r.geo_dist), int(r.rank)) for r in rows),
            key=lambda t: (t[0], t[3]),
        )

    def doc_ids(self) -> list[int]:
        return sorted(r[0] for r in self.emb.select("vec_id").collect())

    def content_bytes(self) -> int:
        # the generator emits ASCII, so characters are bytes
        return int(self.corpus().agg(F.sum(F.length("content"))).collect()[0][0])

    def index_bytes(self) -> int:
        """Bytes on disk of the postings, dictionary and docmap tables."""
        return sum(f.stat().st_size
                   for d in ("postings", "dictionary", "docmap")
                   for f in (Path(self.index_dir) / d).rglob("*.parquet"))


# ----------------------------------------------------------------- runs


def timed_call(eng: Engine, kind: str, arg) -> dict:
    t = time.monotonic()
    try:
        out, error = getattr(eng, kind)(arg), None
    except Exception as e:  # a failed op is counted, and the loop goes on
        traceback.print_exc(file=sys.stderr)
        out, error = None, repr(e)
    return {"kind": kind, "arg": arg, "out": out, "error": error,
            "wall": time.monotonic() - t}


def setup(sess: Session, tmp: Path, workload: str, seed: int, store=None):
    """Inputs, index build, cache. Returns (engine, seconds per phase, and
    with a status ``store`` the traced build's (counters, stages))."""
    w = WORKLOADS[workload]
    phases = {}
    t = time.monotonic()
    write_corpus(sess.spark, tmp, w["n_files"], seed)
    phases["inputs_s"] = time.monotonic() - t
    eng = Engine(sess.spark, tmp)
    traced_build = None
    if store is None:
        t = time.monotonic()
        eng.build()
        phases["build_s"] = time.monotonic() - t
    else:
        import spark_trace

        _, counters, ran = spark_trace.traced_call(store, eng.build)
        phases["build_s"] = counters["wall_s"]
        traced_build = (counters, ran)
    t = time.monotonic()
    eng.cache()
    phases["cache_s"] = time.monotonic() - t
    if w["emb"]:
        t = time.monotonic()
        eng.cache_emb(seed)
        phases["emb_s"] = time.monotonic() - t
    return eng, phases, traced_build


def warm_up(eng: Engine, kinds, seed: int, doc_ids) -> None:
    """WARMUP_ROUNDS untimed calls of each op kind, on their own query
    stream. The batch warm-up is smaller than a timed batch: it takes the
    same route, and the saved seconds go to the timed loop."""
    args = ArgGen(seed, 1, doc_ids, batch_queries=WARMUP_BATCH_QUERIES)
    for kind in list(kinds) * WARMUP_ROUNDS:
        call = timed_call(eng, kind, args(kind))
        if call["error"] is not None:
            raise RuntimeError(f"warm-up {kind} failed: {call['error']}")


# ---------------------------------------------------------------- checks


def check_ops(eng: Engine, calls: list[dict], seed: int, per_kind: dict[str, int]) -> int:
    """Check a seeded sample of the successful calls; returns how many of
    the sampled calls mismatched their reference (a reference that raises
    counts every sampled call it covers as failed)."""
    rng = random.Random(seed)
    sample = []
    for kind, n in per_kind.items():
        ok = [c for c in calls if c["kind"] == kind and c["error"] is None]
        for c in rng.sample(ok, min(n, len(ok))):
            checked = c["arg"]
            if kind != "dense" and len(checked) > CHECKED_QUERIES_PER_CALL:
                checked = sorted(rng.sample(checked, CHECKED_QUERIES_PER_CALL))
            sample.append((c, checked))
    groups = {
        "bm25": [s for s in sample if s[0]["kind"] in ("query", "batch")],
        "hybrid": [s for s in sample if s[0]["kind"] == "hybrid"],
        "dense": [s for s in sample if s[0]["kind"] == "dense"],
    }
    failed = 0
    for group, cs in groups.items():
        if not cs:
            continue
        try:
            bad = _check_group(eng, group, cs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = len(cs)
        if bad:
            print(f"perfbench: {bad} {group} call(s) failed the output check",
                  file=sys.stderr)
        failed += bad
    return failed


def _check_group(eng: Engine, group: str, cs: list[tuple[dict, list]]) -> int:
    if group == "dense":
        rows = sorted(
            (r.vec_id, r.embedding) for r in eng.emb.select("vec_id", "embedding").collect()
        )
        doc_ids = np.array([d for d, _ in rows], dtype=np.int64)
        emb = np.array([v for _, v in rows], dtype=np.float64)
        geo = checks.load_geo_oracle(ROOT)
        return sum(
            not checks.dense_matches(c["out"], checks.dense_reference(geo, doc_ids, emb, ids))
            for c, ids in cs
        )
    spark, docs = eng.spark, eng.corpus()
    mode = BUILD_PARAMS["tokenizer_mode"]
    queries = local_queries_df(spark, [q for _, checked in cs for q in checked])
    if group == "bm25":
        # bm25_scores joins only query-term rows of tf; filtering on the
        # grouping key lets Spark drop the rest before tokenize_terms'
        # shuffle, and leaves the scores unchanged
        terms = [r.term for r in
                 bm25.query_terms(queries, mode=mode).select("term").distinct().collect()]
        tf = tokenize_terms(docs, mode=mode).filter(F.col("term").isin(terms))
        want = checks.by_qid(checks.topk_tuples(
            bm25.bm25_topk(
                tf, doc_stats(docs, mode=mode), queries, k=checks.TOP_K, query_mode=mode,
            ).collect()
        ))
    else:
        want = checks.by_qid(checks.flagship_tuples(
            pipelines.bm25_geodesic(
                spark, docs, eng.emb, queries, k=checks.TOP_K,
                search_k=checks.SEARCH_K, tokenizer_mode=mode,
            ).collect()
        ))
    bad = 0
    for c, checked in cs:
        if checks.same_rows(c["out"], want, [q for q, _ in c["arg"]], [q for q, _ in checked]):
            continue
        bad += 1
        got = checks.by_qid(c["out"])
        for q, text in checked:
            if got.get(q, []) != want.get(q, []):
                print(f"perfbench: {c['kind']} qid {q} {text!r}: got "
                      f"{got.get(q, [])} want {want.get(q, [])}", file=sys.stderr)
    return bad
