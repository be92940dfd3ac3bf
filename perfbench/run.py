#!/usr/bin/env python3
"""Benchmark of the retrieval engine through its public functions.

    python3 perfbench/run.py --workload {search,rerank} --seed N \
        --seconds S --trace {0,1}

Run it from the root of a checkout: it imports the package from the
directory above this file and fails (exit 2, no result) when it is absent.
Metric units come from BENCHMARK.json at the checkout root, and a run
fails unless it measured exactly the metrics declared there.

Each run starts one local Spark session sized to the host's cores, makes
its inputs from ``--seed``, builds and caches an index, then drives the
workload as one closed-loop client (one outstanding call, no client
threads) for ``--seconds``. Outputs of a seeded sample of the timed calls
are checked afterwards against references (checks.py). The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer ones
from a separate traced pass with ``--trace 1`` (traced.py). README.md in
this directory gives the rationale and the recorded baseline.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "geometric_aware_retrieval_v2_spark"
# per-run scratch directories and the traced runs' exact counts
STATE_DIR = ROOT / ".perfbench"


def with_units(metrics: dict, declared: list[dict]) -> dict:
    """{name: {"value", "unit"}} in declared order, units from the
    declaration; the measured names must be exactly the declared ones."""
    if set(metrics) != {d["name"] for d in declared}:
        raise RuntimeError(
            "measured metrics differ from BENCHMARK.json: "
            f"{sorted(set(metrics) ^ {d['name'] for d in declared})}"
        )
    return {d["name"]: {"value": metrics[d["name"]], "unit": d["unit"]} for d in declared}


def host_record(cores: int) -> dict:
    """nproc, load average and one single-process CPU probe. Recorded, not
    a gate; taken before the session starts."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal(1_000_000)
    np.sort(a)
    t = time.monotonic()
    for _ in range(4):
        a = np.sort(a) * 1.0000001
    probe = time.monotonic() - t
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": cores, "loadavg": load, "cpu_probe_s": probe}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def run_timed(workload: str, seed: int, seconds: float, tmp: Path, cores: int) -> dict:
    import workload as wl

    t_setup = time.monotonic()
    sess = wl.Session(tmp, cores)
    try:
        session_s = time.monotonic() - t_setup
        eng, phases, _ = wl.setup(sess, tmp, workload, seed)
        doc_ids = eng.doc_ids() if eng.emb is not None else None
        cycle = wl.WORKLOADS[workload]["cycle"]
        wl.warm_up(eng, dict.fromkeys(cycle), seed, doc_ids)
        setup_s = time.monotonic() - t_setup
        phases["warmup_s"] = setup_s - session_s - sum(phases.values())

        args = wl.ArgGen(seed, 0, doc_ids)
        calls = []
        steal0, total0 = cpu_ticks()
        t0 = time.monotonic()
        while time.monotonic() - t0 < seconds:
            kind = cycle[len(calls) % len(cycle)]
            calls.append(wl.timed_call(eng, kind, args(kind)))
        loop_s = time.monotonic() - t0
        steal1, total1 = cpu_ticks()

        t = time.monotonic()
        failed = sum(c["error"] is not None for c in calls)
        failed += wl.check_ops(eng, calls, seed, wl.CHECKS_PER_RUN)
        check_s = time.monotonic() - t

        def ok(kind):
            return [c for c in calls if c["kind"] == kind and c["error"] is None]

        single = ok(wl.SINGLE_OP[workload])
        batch = ok(wl.BATCH_OP[workload])
        metrics = {
            "setup_s": setup_s,
            "build_files_per_s": wl.WORKLOADS[workload]["n_files"] / phases["build_s"],
            "index_bytes_per_content_byte": eng.index_bytes() / eng.content_bytes(),
            "single_p50_s": statistics.median(c["wall"] for c in single),
            "batch_queries_per_s": sum(len(c["arg"]) for c in batch)
            / sum(c["wall"] for c in batch),
            "peak_rss_mb": wl.vm_hwm_mb("self") + wl.vm_hwm_mb(sess.jvm.pid),
        }
        detail = {
            "driver_mem": wl.DRIVER_MEM,
            # share of CPU time the hypervisor gave to other guests while
            # the loop ran; recorded to explain slow runs, not a gate
            "loop_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
            "walls_s": {k: [c["wall"] for c in ok(k)] for k in dict.fromkeys(cycle)},
            "phases_s": {"session_s": session_s, **phases, "loop_s": loop_s,
                         "check_s": check_s},
        }
        return {"correct": failed == 0, "attempted": len(calls), "failed": failed,
                "metrics": metrics, "detail": detail}
    finally:
        sess.close()


def sweep_stale_run_dirs() -> None:
    """Remove run directories left by runs that were killed."""
    from workload import alive

    for d in STATE_DIR.glob("run-*"):
        pid = d.name.split("-")[1]
        if pid.isdigit() and not alive(int(pid)):
            shutil.rmtree(d, ignore_errors=True)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("search", "rerank"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    # Spark's Python workers import the package too, from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())[
        "per_layer" if a.trace else "end_to_end"]
    cores = len(os.sched_getaffinity(0))
    sweep_stale_run_dirs()
    tmp = STATE_DIR / f"run-{os.getpid()}-{a.seed}"
    tmp.mkdir(parents=True)
    try:
        host = host_record(cores)
        if a.trace:
            import traced

            res = traced.run_traced(a.workload, a.seed, tmp, cores, STATE_DIR)
        else:
            res = run_timed(a.workload, a.seed, a.seconds, tmp, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    res["metrics"] = with_units(res["metrics"], declared)
    print(json.dumps({"host": host, "workload": a.workload, "seed": a.seed,
                      **res.pop("detail")}))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
