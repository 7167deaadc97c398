"""Spans recorded by the benchmark around its calls into the package,
and the Spark work attached to them.

A span has a name (``layer.call``), monotonic start/end, wall-clock
start/end (to match Spark event-log timestamps), a parent span and the
op id shared by every span of one op.  Spans stay in memory and go out
once, in the traced run's report line.  With tracing off, ``span`` is a
no-op context manager and nothing is recorded.

Spark counters come from the event log (``spark.eventLog.enabled``,
switched on through ``get_spark(extra_conf=...)`` for the traced run
only).  Each span tags its jobs with ``setJobGroup(span id)``; jobs
started from the package's own worker threads do not inherit the group
(PySpark pins each Python thread to its own JVM thread), so an untagged
job is attributed to the innermost span open when it was submitted.
The client is one thread, so open spans always form one stack.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op = None

    @contextmanager
    def op(self, kind: str, op_id: str):
        """The root span of one op; children inherit its id."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            self._op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"s{len(self.spans)}", "name": name,
            "parent": parent["id"] if parent else None, "op": self._op,
            "t0": time.perf_counter(), "w0": time.time(),
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["id"], name)
        try:
            yield
        finally:
            s["t1"], s["w1"] = time.perf_counter(), time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the union of its children's intervals
    (children of one span never overlap: one client thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child[s["id"]] for s in spans}


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Jobs from a finished Spark event log: submission time, job group,
    stage ids, and per-stage task totals (tasks, executor run time,
    shuffle write bytes, memory + disk spill)."""
    jobs, stage_job, stages = {}, {}, defaultdict(lambda: dict(tasks=0, run_ms=0, shuffle_write=0, spill=0))
    # Spark 4 writes the log as a directory of rolled ``events_*`` files
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "t": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": dict(stages)}


def attribute_jobs(spans: list[dict], log: dict) -> dict[str, list[int]]:
    """span id -> the job ids attributed to it (group tag first, else the
    innermost span whose wall interval holds the submission time)."""
    by_id = {s["id"]: s for s in spans}
    out = defaultdict(list)
    ordered = sorted(spans, key=lambda s: s["w0"])
    for jid, job in log["jobs"].items():
        sid = job["group"] if job["group"] in by_id else None
        if sid is None:
            best = None
            for s in ordered:
                if s["w0"] <= job["t"] <= s["w1"] and (best is None or s["w0"] >= best["w0"]):
                    best = s
            sid = best["id"] if best else None
        if sid:
            out[sid].append(jid)
    return out


def spark_counters(spans: list[dict], log: dict, op_kind: str, nproc: int) -> dict[str, float]:
    """Per-op Spark counters for ops of one kind: medians over ops of
    jobs, stages, tasks, shuffle write bytes, spill bytes, and the busy
    share (summed executor run time / (op wall x nproc))."""
    by_job = attribute_jobs(spans, log)
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s["id"])

    def subtree(sid):
        out = [sid]
        for c in children[sid]:
            out += subtree(c)
        return out

    per_op = []
    for s in spans:
        if s["name"] != f"op.{op_kind}":
            continue
        jids = [j for x in subtree(s["id"]) for j in by_job.get(x, [])]
        sids = [st for j in jids for st in log["jobs"][j]["stages"] if st in log["stages"]]
        sts = [log["stages"][st] for st in sids]
        wall = s["t1"] - s["t0"]
        per_op.append(dict(
            jobs=len(jids), stages=len(sts), tasks=sum(x["tasks"] for x in sts),
            shuffle_write_bytes=sum(x["shuffle_write"] for x in sts),
            spill_bytes=sum(x["spill"] for x in sts),
            busy_share=sum(x["run_ms"] for x in sts) / 1000.0 / (wall * nproc),
        ))
    keys = ["jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "busy_share"]
    if not per_op:
        return {k: 0 for k in keys}
    return {k: statistics.median(o[k] for o in per_op) for k in keys}


# span name -> per-layer metric (median self time per call, seconds)
TIMED = {
    "corpus_index.build": "corpus_index.build_s",
    "corpus_index.save": "corpus_index.save_s",
    "corpus_index.load": "corpus_index.load_s",
    "corpus_index.refresh": "corpus_index.refresh_s",
    "corpus_index.compact": "corpus_index.compact_s",
    "ingest.append": "ingest.append_s",
    "router.route": "router.route_s",
    "retrieval.compile": "retrieval.compile_s",
    "retrieval.topk": "retrieval.topk_s",
    "serving.fill.keyword": "serving.fill_s.keyword",
    "serving.fill.vector": "serving.fill_s.vector",
    "serving.fill.hybrid": "serving.fill_s.hybrid",
    "answer.generate": "answer.generate_s",
    "evaluate.evaluate_all": "evaluate.evaluate_all_s",
    "telemetry.get_state": "telemetry.get_state_s",
    "telemetry.log_run": "telemetry.log_run_s",
    "telemetry.log_runs": "telemetry.log_runs_s",
    "telemetry.set_state": "telemetry.set_state_s",
    "text_analysis.profile": "text_analysis.profile_s",
    "dedup.sign": "dedup.sign_s",
    "dedup.lsh": "dedup.lsh_s",
    "dedup.verify": "dedup.verify_s",
    "dedup.cluster": "dedup.cluster_s",
    "similarity.neardup": "similarity.neardup_s",
    "similarity.knn": "similarity.knn_s",
}
# count metric -> unit
COUNTS = {
    "corpus_index.postings_rows": "count", "corpus_index.doc_vec_rows": "count",
    "ingest.bytes_written": "bytes",
    "router.chosen.keyword": "count", "router.chosen.vector": "count", "router.chosen.hybrid": "count",
    "retrieval.rows_per_result.keyword": "ratio", "retrieval.rows_per_result.vector": "ratio",
    "telemetry.files": "count",
    "dedup.candidates": "count", "dedup.verified": "count", "dedup.verified_per_candidate": "ratio",
    "dedup.injected_recall": "ratio", "similarity.pairs": "count",
}
OP_KINDS = ("run", "evaluate", "batch")
SPARK = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "busy_share")


def per_layer(ctx, session_s: float, log: dict, nproc: int) -> tuple[dict, dict]:
    """(per-layer metrics, per-op-type accounting).  Every metric is
    present on every workload; a layer the workload does not call
    reads 0."""
    spans = ctx.tracer.spans
    st = self_times(spans)
    by_name = defaultdict(list)
    for s in spans:
        if s["op"] != "warmup":  # serve's untimed first run op
            by_name[s["name"]].append(st[s["id"]])
    out = {"session.start_s": {"value": session_s, "unit": "s"}}
    for span, name in TIMED.items():
        out[name] = {"value": statistics.median(by_name[span]) if by_name[span] else 0.0, "unit": "s"}

    counts = dict(ctx.counts)
    runs = [o for o in ctx.ops if o["kind"] == "run"]
    for arm in ("keyword", "vector", "hybrid"):
        counts[f"router.chosen.{arm}"] = sum(o["strategy"] == arm for o in runs)
    passes = ctx.samples.get("passes") or []
    if passes:
        counts["dedup.candidates"] = statistics.median(p["candidates"] for p in passes)
        counts["dedup.verified"] = statistics.median(p["verified"] for p in passes)
        counts["dedup.verified_per_candidate"] = counts["dedup.verified"] / max(1, counts["dedup.candidates"])
        counts["dedup.injected_recall"] = statistics.median(p["recall"] for p in passes)
        counts["similarity.pairs"] = statistics.median(len(p["pairs"]) for p in passes)
    for name, unit in COUNTS.items():
        v = counts.get(name, 0)
        out[name] = {"value": statistics.median(v) if isinstance(v, list) else v, "unit": unit}

    for kind in OP_KINDS:
        c = spark_counters(spans, log, kind, nproc)
        for k in SPARK:
            unit = "bytes" if k.endswith("bytes") else "ratio" if k == "busy_share" else "count"
            out[f"spark.{kind}.{k}"] = {"value": c[k], "unit": unit}
    return out, accounting(spans, st)


def accounting(spans: list[dict], st: dict) -> dict:
    """Per op type: mean wall per op, the mean self time per op of each
    layer span under it, and the remainder (the op span's own self
    time: benchmark code and anything no span covers)."""
    ops = [s for s in spans if s["name"].startswith("op.")]
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s)
    out = {}
    for kind in sorted({s["name"] for s in ops}):
        mine = [s for s in ops if s["name"] == kind]
        layer = defaultdict(float)
        for o in mine:
            stack = list(children[o["id"]])
            while stack:
                c = stack.pop()
                layer[c["name"]] += st[c["id"]]
                stack += children[c["id"]]
        n = len(mine)
        out[kind] = {
            "n": n,
            "wall_s": sum(o["t1"] - o["t0"] for o in mine) / n,
            "layers_s": {k: v / n for k, v in sorted(layer.items())},
            "remainder_s": sum(st[o["id"]] for o in mine) / n,
        }
    return out
