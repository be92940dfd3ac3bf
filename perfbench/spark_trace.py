"""Per-op Spark counters from the driver's status store.

Spark's ``AppStatusStore`` keeps one record per job and per stage attempt,
written by a listener that runs asynchronously after ``collect()`` returns.
``traced_call`` marks the scheduler's next job and stage ids before a public
call; after the call every job and stage with an id in the marked range
belongs to that call (the benchmark is a single closed-loop client, so no
other job can interleave). Before reading, it waits until the listener has
recorded each of those jobs and stages in a terminal state, and it fails
loudly when one is missing: that means the retention limits
(``spark.ui.retainedJobs`` / ``retainedStages``) evicted it.

The store is populated with ``spark.ui.enabled=false`` too, which is how
``session.get_spark`` builds its session.
"""

from __future__ import annotations

import time

# the 15 counters reported for every traced public call, in print order
OP_COUNTERS = (
    "wall_s",
    "job_s",
    "driver_s",
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "gc_s",
    "slot_idle_ratio",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "input_bytes",
    "result_bytes",
    "failed_tasks",
)

# how long a traced call's jobs may take to show up as finished
SETTLE_TIMEOUT_S = 60.0

_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "FAILED", "SKIPPED"}
_RAN_STAGE = {"COMPLETE", "FAILED"}


def _opt_ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusStore:
    """Thin py4j view of the driver's AppStatusStore."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._dag = sc._jsc.sc().dagScheduler()
        self._store = sc._jsc.sc().statusStore()
        self.cores = sc.defaultParallelism

    def next_ids(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def _jobs_from(self, first_job: int) -> dict[int, dict]:
        out = {}
        it = self._store.jobsList(self._jvm.java.util.ArrayList()).iterator()
        while it.hasNext():  # newest job first
            j = it.next()
            jid = int(j.jobId())
            if jid < first_job:
                break
            out[jid] = {
                "status": j.status().toString(),
                "start": _opt_ms(j.submissionTime()),
                "end": _opt_ms(j.completionTime()),
            }
        return out

    def _stages_from(self, first_stage: int) -> list[dict]:
        out = []
        empty = self._jvm.java.util.ArrayList()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        it = self._store.stageList(empty, False, False, no_quantiles, empty).iterator()
        while it.hasNext():  # newest (stage id, attempt) first
            s = it.next()
            sid = int(s.stageId())
            if sid < first_stage:
                break
            out.append(
                {
                    "id": sid,
                    "status": s.status().toString(),
                    "start": _opt_ms(s.submissionTime()),
                    "tasks": int(s.numTasks()),
                    "failed_tasks": int(s.numFailedTasks()),
                    "task_run_s": s.executorRunTime() / 1e3,
                    "task_cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": int(s.shuffleWriteBytes()),
                    "shuffle_read_bytes": int(s.shuffleReadBytes()),
                    "input_bytes": int(s.inputBytes()),
                    "result_bytes": int(s.resultSize()),
                }
            )
        return out

    def settled(self, mark: tuple[int, int], end: tuple[int, int]):
        """Jobs and stage attempts with ids in [mark, end), once the listener
        has recorded every one of them as finished."""
        want_jobs = set(range(mark[0], end[0]))
        want_stages = set(range(mark[1], end[1]))
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            jobs = {j: v for j, v in self._jobs_from(mark[0]).items() if j in want_jobs}
            stages = [s for s in self._stages_from(mark[1]) if s["id"] in want_stages]
            seen = {s["id"] for s in stages}
            done = (
                set(jobs) == want_jobs
                and seen == want_stages
                and all(v["status"] in _DONE_JOB and v["end"] is not None for v in jobs.values())
                and all(s["status"] in _DONE_STAGE for s in stages)
            )
            if done:
                return jobs, stages
            if time.monotonic() > deadline:
                raise RuntimeError(
                    "status store never settled: missing jobs "
                    f"{sorted(want_jobs - set(jobs))}, missing stages "
                    f"{sorted(want_stages - seen)} (evicted by spark.ui.retained* "
                    "limits, or the listener is stuck)"
                )
            time.sleep(0.02)


def summarize(
    store: StatusStore,
    mark: tuple[int, int],
    end: tuple[int, int],
    t0: float,
    t1: float,
) -> tuple[dict, list[dict]]:
    """The OP_COUNTERS for the call that ran between epoch times t0 and t1,
    plus the executed stage records (for attributing them to build stages).

    job_s is the union of the call's job intervals clipped to [t0, t1], so
    driver_s = wall_s - job_s holds exactly."""
    jobs, stages = store.settled(mark, end)
    ran = [s for s in stages if s["status"] in _RAN_STAGE]
    job_s = union_length(
        [(max(v["start"], t0), min(v["end"], t1)) for v in jobs.values()
         if v["start"] is not None and min(v["end"], t1) > max(v["start"], t0)]
    )
    wall = t1 - t0
    c = {
        "wall_s": wall,
        "job_s": job_s,
        "driver_s": wall - job_s,
        "jobs": len(jobs),
        "stages": len(ran),
    }
    for key in ("tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "input_bytes", "result_bytes", "failed_tasks"):
        c[key] = sum(s[key] for s in ran)
    c["slot_idle_ratio"] = (
        1.0 - c["task_run_s"] / (job_s * store.cores) if job_s > 0 else 0.0
    )
    return {k: c[k] for k in OP_COUNTERS}, ran


def traced_call(store: StatusStore, fn):
    """Run fn() once and return (its result, counters, executed stages)."""
    mark = store.next_ids()
    t0 = time.time()
    out = fn()
    t1 = time.time()
    counters, ran = summarize(store, mark, store.next_ids(), t0, t1)
    return out, counters, ran


# build stages committed to the index manifest, and the per-layer names
# their spans are reported under (module that does the stage's work)
BUILD_SPANS = (
    ("docstats", "tokenizer.docstats"),
    ("docmap", "ordinals.docmap"),
    ("segments", "postings.segments"),
    ("merge", "postings.merge"),
)


def build_stage_spans(manifest_rows: list[dict], ran: list[dict], build_wall: float) -> dict:
    """Per-stage spans of a build from its manifest rows (wall_ms and
    committed_at per committed partition) and the Spark stages whose
    submission falls inside each span. build.unattributed_s is the build
    wall minus the span sum, so the spans and it add up to the wall."""
    out = {}
    span_sum = 0.0
    for stage, name in BUILD_SPANS:
        rows = [r for r in manifest_rows if r["stage"] == stage]
        if not rows:
            raise RuntimeError(f"manifest has no {stage!r} rows")
        start = min(r["committed_at"] - r["wall_ms"] / 1e3 for r in rows)
        end = max(r["committed_at"] for r in rows)
        inside = [s for s in ran if s["start"] is not None and start <= s["start"] <= end]
        out[f"{name}_s"] = end - start
        out[f"{name}_task_run_s"] = sum(s["task_run_s"] for s in inside)
        out[f"{name}_shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in inside)
        span_sum += end - start
    out["build.unattributed_s"] = build_wall - span_sum
    return out
