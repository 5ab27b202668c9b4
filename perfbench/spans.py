"""Span tracing and Spark event-log counters for the traced benchmark run.

Spans are recorded from the benchmark's own files only: the entry of each
engine layer is wrapped at run time (``Tracer.wrap``) and restored after,
so no engine source changes.  A span is ``[name, start, end, parent, op]``;
spans stay in memory and are written once, at the end of the run.  A
layer's self time is its duration minus the time its direct child spans
cover (calls are synchronous on one thread, so children never overlap).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Spans of one thread.  Aggregates are keyed by ``(root, name)``: the
    root is the outermost open span, so a layer entered from a local query
    and from a Spark search is counted apart."""

    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._child_s: list[float] = []
        self.total_s: dict[tuple, float] = defaultdict(float)
        self.self_s: dict[tuple, float] = defaultdict(float)
        self.calls: dict[tuple, int] = defaultdict(int)
        self.counters: dict[tuple, float] = defaultdict(float)
        self.op: str | None = None
        self._patches: list[tuple] = []

    @property
    def root(self) -> str | None:
        return self.spans[self._stack[0]][0] if self._stack else None

    def count(self, key: str, n: float) -> None:
        self.counters[(self.root, key)] += n

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = [name, time.perf_counter(), None, parent, self.op]
        self.spans.append(rec)
        self._child_s.append(0.0)
        self._stack.append(idx)
        key = (self.root, name)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            dur = rec[2] - rec[1]
            self.total_s[key] += dur
            self.self_s[key] += dur - self._child_s[idx]
            self.calls[key] += 1
            if parent is not None:
                self._child_s[parent] += dur

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``on_call(args, out)``
        records counters after the call returns."""
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_call is not None:  # outside the span, still inside its root
                on_call(args, out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for name, t0, t1, parent, op in self.spans:
                f.write(json.dumps({"name": name, "start": t0, "end": t1,
                                    "parent": parent, "op": op}) + "\n")


def wrap_query_layers(tracer: Tracer, engine, bm25, kernels, codec) -> None:
    """Wrap the serving path's layer entries: analysis, planning, the
    pruned scans, the shard kernels and block decode.  Counters: posting
    runs and bytes the scan returns, blocks decoded, and blocks present in
    the runs BMW was handed (the denominator of the decode ratio)."""
    def scanned(_args, pdf):
        if pdf is not None:
            tracer.count("posting_runs", len(pdf))
            tracer.count("posting_bytes", sum(
                int(pdf[col].map(len).sum()) for col in ("docs", "tfs", "dls")
            ))

    def bmw_called(args, _out):
        tracer.count("blocks_in_runs", sum(int(r.bmd.size) for r in args[0]))

    def decoded(args, _out):
        tracer.count("blocks_decoded", len(args[2]))

    tracer.wrap(bm25, "query_term_weights", "analyze")
    tracer.wrap(engine.Index, "_plan_terms", "plan")
    tracer.wrap(engine.Index, "_local_postings", "scan", scanned)
    tracer.wrap(engine.Index, "_local_allowed", "filter")
    tracer.wrap(engine.Index, "__init__", "reopen")
    tracer.wrap(kernels, "shard_topk_bmw", "kernel", bmw_called)
    tracer.wrap(kernels, "shard_topk_exact", "kernel")
    tracer.wrap(kernels, "shard_topk_intersect", "kernel")
    tracer.wrap(codec, "decode_doc_blocks", "decode", decoded)
    tracer.wrap(codec, "decode_value_blocks", "decode")


# -- Spark event log ---------------------------------------------------------


def event_log_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class EventLog:
    """Per-job-group counters parsed from a finished Spark event log.

    ``groups[g]`` holds jobs, stages, shuffle bytes written, spill bytes,
    JVM GC seconds and task durations for every job run under job group
    ``g``; ``stage_submit_ms`` lets a caller attribute stages to a time
    window (a build step, whose boundaries the checkpoint rows record)."""

    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
        job_group: dict[int, str] = {}
        stage_group: dict[int, str] = {}
        self.stage_submit_ms: dict[int, float] = {}
        self.groups: dict[str, dict] = defaultdict(
            lambda: {"jobs": 0, "stages": 0, "shuffle_write_bytes": 0,
                     "spill_bytes": 0, "gc_s": 0.0, "tasks": []}
        )
        self.tasks: list[tuple[int, float, dict]] = []  # (stage, duration_ms, metrics)
        with open(files[0]) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[ev["Job ID"]] = g
                    self.groups[g]["jobs"] += 1
                    self.groups[g]["stages"] += len(ev["Stage IDs"])
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    self.stage_submit_ms[info["Stage ID"]] = float(info.get("Submission Time") or 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    dur = float(info["Finish Time"] - info["Launch Time"])
                    self.tasks.append((ev["Stage ID"], dur, m))
                    g = self.groups[stage_group.get(ev["Stage ID"], "")]
                    g["shuffle_write_bytes"] += _shuffle_written(m)
                    g["spill_bytes"] += int(m.get("Memory Bytes Spilled", 0)) + int(
                        m.get("Disk Bytes Spilled", 0)
                    )
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    g["tasks"].append(dur)

    def window(self, t0_ms: float, t1_ms: float) -> dict:
        """Counters of tasks whose stage was submitted inside [t0, t1]."""
        stages = {s for s, t in self.stage_submit_ms.items() if t0_ms <= t <= t1_ms}
        durs = [d for s, d, _m in self.tasks if s in stages]
        out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 0.0}
        for s, _d, m in self.tasks:
            if s in stages:
                out["shuffle_write_bytes"] += _shuffle_written(m)
                out["spill_bytes"] += int(m.get("Memory Bytes Spilled", 0)) + int(
                    m.get("Disk Bytes Spilled", 0)
                )
        if durs:
            durs.sort()
            med = durs[len(durs) // 2]
            out["task_skew"] = durs[-1] / med if med > 0 else float(durs[-1] > 0)
        return out


def _shuffle_written(m: dict) -> int:
    return int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
