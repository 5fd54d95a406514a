"""Per-layer tracing from outside the engine.

Spans are opened by the benchmark around the engine's public entry
points: ``wrap_engine`` replaces class methods and module attributes
(including the names the pipelines import with ``from ... import``)
with wrappers that open a span. Each span sets the Spark job group of
the calling thread to ``pb-<span id>`` and restores its parent's group
on exit, so every job in the Spark event log names the innermost span
that was open when it was submitted.

After the session stops, ``parse_event_log`` reads the uncompressed,
non-rolling event log and ``attribute`` assigns each job (and the task
metrics of the stages it ran) to a span. ``layer_metrics`` then turns
spans of the timed ops into per-op counters:

- ``wall_s``: span duration, children included;
- ``driver_s``: span duration minus the union of its children's spans
  and its own jobs' intervals (driver-side self time);
- ``jobs``, ``exec_cpu_s``, ``shuffle_bytes``, ``written_bytes``: of the
  jobs attributed to the span itself (self, not inclusive).

Wrappers around lazy functions measure plan-building time only.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"
COUNTERS = ("wall_s", "driver_s", "jobs", "exec_cpu_s", "shuffle_bytes", "written_bytes")
LAZY_COUNTERS = ("wall_s", "driver_s", "jobs")

# (span name, counters reported, workload that exercises it). Spans of
# functions that only build plans report the short counter set.
SPANS = (
    ("op", COUNTERS, "all"),  # the benchmark's own root span per timed op
    ("pipelines.inventory.run", COUNTERS, "batch_etl"),
    ("pipelines.pos.run", COUNTERS, "batch_etl"),
    ("merge.upsert_replace", COUNTERS, "batch_etl"),
    ("merge.upsert_additive", COUNTERS, "batch_etl"),
    ("merge.append", COUNTERS, "batch_etl"),
    ("merge.create_or_overwrite", COUNTERS, "batch_etl"),
    ("validate.split", LAZY_COUNTERS, "batch_etl"),
    ("dedup.keep_latest", LAZY_COUNTERS, "batch_etl"),
    ("dedup.distinct_rows", LAZY_COUNTERS, "batch_etl"),
    ("web.run_stream", COUNTERS, "stream_ingest"),
    ("crm.run_stream", COUNTERS, "stream_ingest"),
    ("micro_batch.accumulating_kpi_sink", COUNTERS, "stream_ingest"),
    ("sinks.write_hour_partitioned", COUNTERS, "stream_ingest"),
    ("sinks.read_hour_partitioned", COUNTERS, "stream_ingest"),
    ("analytics.session_metrics", LAZY_COUNTERS, "stream_ingest"),
    ("alerts.negative_interaction_counts", LAZY_COUNTERS, "stream_ingest"),
    ("curation.curate_corpus", COUNTERS, "corpus_curation"),
    ("text.exact_dedup", LAZY_COUNTERS, "corpus_curation"),
    ("minhash.minhash_lsh_dedup", COUNTERS, "corpus_curation"),
    ("components.dedup_verdicts", COUNTERS, "corpus_curation"),
    ("text.quality_score", LAZY_COUNTERS, "corpus_curation"),
    ("text.repetition_signals", LAZY_COUNTERS, "corpus_curation"),
    ("similarity.embedding_near_dup_pairs", COUNTERS, "corpus_curation"),
)
# Metrics that are not span counters: set-up, GC, streaming progress
# events, files on disk, LSH yield.
EXTRA_METRICS = (
    ("session.get_spark.wall_s", "s", "all"),
    ("jvm.gc_s", "s", "all"),
    ("micro_batch.batches", "count", "stream_ingest"),
    ("micro_batch.add_batch_s", "s", "stream_ingest"),
    ("micro_batch.overhead_s", "s", "stream_ingest"),
    ("micro_batch.wal_commit_s", "s", "stream_ingest"),
    ("sinks.files_per_tick", "count", "stream_ingest"),
    ("minhash.pair_yield", "ratio", "corpus_curation"),
)
UNITS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "exec_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "written_bytes": "bytes",
}


def per_layer_names(workloads: tuple[str, ...]) -> list[tuple[str, str]]:
    """The per-layer metrics (name, unit) of the layers these workloads
    exercise, in report order."""
    def ours(tag: str) -> bool:
        return tag == "all" or tag in workloads

    out = [(f"{s}.{c}", UNITS[c]) for s, cs, w in SPANS if ours(w) for c in cs]
    return out + [(n, u) for n, u, w in EXTRA_METRICS if ours(w)]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Span recorder. One instance per run; spans stay in memory."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None  # index of the op in progress
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{sid}", self.spans[sid].name, False)

    @contextlib.contextmanager
    def span(self, name: str):
        with self._lock:
            sid = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            rec = Span(sid, name, parent, self.op, time.time())
            self.spans.append(rec)
            self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec.t1 = time.time()
            with self._lock:
                self._stack.remove(sid)
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def wrap_engine(tracer: Tracer) -> None:
    """Wrap every public entry point named in SPANS, at each place a
    caller looks it up."""
    from group_2_shopware_enterprise_data_engineering_project_spark import sinks
    from group_2_shopware_enterprise_data_engineering_project_spark.operators import (
        analytics,
        components,
        dedup,
        merge,
        minhash,
        similarity,
        text,
        validate,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.pipelines import (
        crm,
        curation,
        inventory,
        pos,
        web,
    )
    from group_2_shopware_enterprise_data_engineering_project_spark.streaming import (
        alerts,
        micro_batch,
    )

    T = merge.ParquetUpsertTable
    sites = {
        "pipelines.inventory.run": [(inventory, "run")],
        "pipelines.pos.run": [(pos, "run")],
        "merge.upsert_replace": [(T, "upsert_replace")],
        "merge.upsert_additive": [(T, "upsert_additive")],
        "merge.append": [(T, "append")],
        "merge.create_or_overwrite": [(T, "create_or_overwrite")],
        "validate.split": [(validate, "split")],
        "dedup.keep_latest": [(dedup, "keep_latest"), (inventory, "keep_latest")],
        "dedup.distinct_rows": [(dedup, "distinct_rows"), (pos, "distinct_rows")],
        "web.run_stream": [(web, "run_stream")],
        "crm.run_stream": [(crm, "run_stream")],
        "micro_batch.accumulating_kpi_sink": [(micro_batch, "accumulating_kpi_sink")],
        "sinks.write_hour_partitioned": [
            (sinks, "write_hour_partitioned"),
            (web, "write_hour_partitioned"),
            (crm, "write_hour_partitioned"),
            (micro_batch, "write_hour_partitioned"),
        ],
        "sinks.read_hour_partitioned": [(sinks, "read_hour_partitioned")],
        "analytics.session_metrics": [(analytics, "session_metrics")],
        "alerts.negative_interaction_counts": [(alerts, "negative_interaction_counts")],
        "curation.curate_corpus": [(curation, "curate_corpus")],
        "text.exact_dedup": [(text, "exact_dedup")],
        "minhash.minhash_lsh_dedup": [(minhash, "minhash_lsh_dedup")],
        "components.dedup_verdicts": [(components, "dedup_verdicts"), (curation, "dedup_verdicts")],
        "text.quality_score": [(text, "quality_score")],
        "text.repetition_signals": [(text, "repetition_signals")],
        "similarity.embedding_near_dup_pairs": [(similarity, "embedding_near_dup_pairs")],
    }
    assert set(sites) == {s for s, _, _ in SPANS} - {"op"}
    for name, owners in sites.items():
        for owner, attr in owners:
            tracer.wrap(owner, attr, name)


def progress_metrics(batches: list, n_ops: int) -> dict[str, float]:
    """Per-op micro-batch counts and durations from progress events;
    overhead is triggerExecution minus addBatch (planning, offsets,
    WAL and commit-log writes)."""
    def total(key: str) -> float:
        return sum(b.duration_ms.get(key, 0) for b in batches) / 1000.0

    if not batches:
        return {}
    n = max(1, n_ops)
    return {
        "micro_batch.batches": len(batches) / n,
        "micro_batch.add_batch_s": total("addBatch") / n,
        "micro_batch.overhead_s": (total("triggerExecution") - total("addBatch")) / n,
        "micro_batch.wal_commit_s": total("walCommit") / n,
    }


# --- event log --------------------------------------------------------------


def event_log_file(log_dir: str) -> str:
    """The single uncompressed, non-rolling log a traced run writes."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(logs) != 1 or not os.path.isfile(logs[0]):
        raise RuntimeError(f"expected one uncompressed event log file in {log_dir}, found {logs}")
    return logs[0]



@dataclass
class Job:
    job_id: int
    group: str | None
    submit_s: float
    end_s: float = 0.0
    stage_ids: tuple[int, ...] = ()
    exec_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    written_bytes: int = 0


def parse_event_log(path: str) -> dict[int, Job]:
    """Jobs of an uncompressed Spark event log, with the task metrics of
    the stages each job actually ran (a stage reused by a later job is
    skipped there and counted once, for the job that submitted it)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    job_id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    submit_s=ev["Submission Time"] / 1000.0,
                    stage_ids=tuple(ev.get("Stage IDs", ())),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                owners = [j.job_id for j in jobs.values() if sid in j.stage_ids and not j.end_s]
                if owners:
                    stage_job.setdefault(sid, max(owners))
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics") or {}
                if job is None or not m:
                    continue
                job.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                job.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.written_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return jobs


def attribute(spans: list[Span], jobs: dict[int, Job]) -> list[int]:
    """Assign each job to a span: by its job group when it carries one
    of ours, else to the innermost span open at its submission time.
    Returns the ids of jobs no span covers."""
    unattributed = []
    for job in sorted(jobs.values(), key=lambda j: j.job_id):
        sid = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            sid = int(job.group[len(GROUP_PREFIX):])
        else:
            open_ = [s for s in spans if s.t0 <= job.submit_s <= s.t1]
            if open_:
                sid = max(open_, key=lambda s: s.t0).sid
        if sid is None or sid >= len(spans):
            unattributed.append(job.job_id)
        else:
            spans[sid].jobs.append(job.job_id)
    return unattributed


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_counters(spans: list[Span], jobs: dict[int, Job]) -> dict[int, dict[str, float]]:
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        own = [jobs[j] for j in s.jobs]
        busy = [(c.t0, c.t1) for c in children.get(s.sid, [])] + [(j.submit_s, j.end_s or s.t1) for j in own]
        out[s.sid] = {
            "wall_s": s.t1 - s.t0,
            "driver_s": (s.t1 - s.t0) - _union_length(busy, s.t0, s.t1),
            "jobs": len(own),
            "exec_cpu_s": sum(j.exec_cpu_s for j in own),
            "shuffle_bytes": sum(j.shuffle_bytes for j in own),
            "written_bytes": sum(j.written_bytes for j in own),
        }
    return out


def layer_metrics(spans: list[Span], jobs: dict[int, Job], timed_ops: list[int]) -> dict[str, dict]:
    """Per-op means over the timed ops of every span counter, plus the
    full per-span table for the committed layer record."""
    ops = set(timed_ops)
    counters = span_counters(spans, jobs)
    sums: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.op in ops:
            acc = sums.setdefault(s.name, {c: 0.0 for c in COUNTERS})
            for c in COUNTERS:
                acc[c] += counters[s.sid][c]
    n = max(1, len(ops))
    return {name: {c: v / n for c, v in acc.items()} for name, acc in sums.items()}
