"""Tracing for ``--trace 1`` runs, measured from outside the program.

- Job groups: each (pass, lane, phase) runs under the job group
  ``<run id>|<pass>|<lane>|<phase>``; streaming jobs carry their query's
  run id as job group, which the runner maps back to the query.
- Source spans: the public readers (``catalog.table``,
  ``catalog.cached_parquet``, ``io.read_*``) and artifact builders
  (``io.*_artifact``) are wrapped in the benchmark process. A wrapper
  times the call and tags the jobs it launches with the local property
  ``perfbench.span``.
- Spark's event log (switched on through ``get_spark(extra_conf=...)``)
  is parsed after the session stops into job, stage and task spans and
  the executed plans' SQL metrics.

All spans of a run share its run id and are written to ``spans.jsonl``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import inspect
import json
import os
import statistics
import sys
import time
from collections import defaultdict

PKG = "etl_sql_and_pyspark_developement__spark"
SPAN_PROP = "perfbench.span"
JOIN_NODES = ("CartesianProduct",)


def _union(intervals, lo=None, hi=None) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Records Python-side spans (lane phases, source calls) and sets the
    job group and span tag that let the event log be attributed."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._active = False  # True inside a traced phase

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext
        if self.enabled:
            self._wrap_sources()

    def _open(self, name: str, layer: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"run_id": self.run_id, "id": sid,
                           "parent": self._stack[-1] if self._stack else None,
                           "layer": layer, "name": name, "start": time.time(),
                           "end": None, **attrs})
        self._stack.append(sid)
        return sid

    def _close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()
        self._stack.pop()

    @contextlib.contextmanager
    def phase(self, traced: bool, pass_no: int, lane: str, phase: str):
        if not (self.enabled and traced):
            yield
            return
        sid = self._open(f"{lane}.{phase}", "plans", pass_no=pass_no, lane=lane, phase=phase)
        self._sc.setJobGroup(f"{self.run_id}|{pass_no}|{lane}|{phase}", f"{lane} {phase}")
        self._active = True
        try:
            yield
        finally:
            self._active = False
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            self._close(sid)

    def _wrap_sources(self) -> None:
        """Replace the public source functions, in every loaded module of
        the package that holds them, with timing wrappers."""
        from etl_sql_and_pyspark_developement__spark.sources import catalog, io

        targets = {catalog.table: "read", catalog.cached_parquet: "read"}
        for name in dir(io):
            fn = getattr(io, name)
            if inspect.isfunction(fn) and fn.__module__ == io.__name__:
                if name.startswith("read_"):
                    targets[fn] = "read"
                elif name.endswith("_artifact"):
                    targets[fn] = "artifact"
        wrapped = {fn: self._wrapper(fn, kind) for fn, kind in targets.items()}
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, attr, wrapped[val])

    def _wrapper(self, fn, kind: str):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            if not self._active:
                return fn(*args, **kwargs)
            sid = self._open(fn.__name__, "sources", kind=kind)
            self._sc.setLocalProperty(SPAN_PROP, str(sid))
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(sid)
                parent = self._stack[-1] if self._stack else None
                inner = parent is not None and self.spans[parent]["layer"] == "sources"
                self._sc.setLocalProperty(SPAN_PROP, str(parent) if inner else None)

        return call


class EventLog:
    """The parts of Spark's JSON event log the per-layer metrics need."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.tasks: list[dict] = []
        self.accum_meta: dict[int, tuple[str, str, str]] = {}
        self.driver_accums: dict[int, dict[int, float]] = defaultdict(dict)
        files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
        files += sorted(f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f))
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, node: dict) -> None:
        name = node["nodeName"].split(" ")[0]
        for m in node.get("metrics", []):
            self.accum_meta[m["accumulatorId"]] = (name, m["name"], m["metricType"])
        for child in node.get("children", []):
            self._plan(child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"], "start": e["Submission Time"] / 1e3, "end": None,
                "group": props.get("spark.jobGroup.id"), "span": props.get(SPAN_PROP),
                "exec": int(exec_id) if exec_id is not None else None,
                "stages": [s["Stage ID"] for s in e["Stage Infos"]],
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = {
                "id": info["Stage ID"], "start": info.get("Submission Time", 0) / 1e3,
                "end": info.get("Completion Time", 0) / 1e3, "tasks": info["Number of Tasks"],
            }
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
            self.tasks.append({
                "stage": e["Stage ID"], "start": info["Launch Time"] / 1e3,
                "end": info["Finish Time"] / 1e3,
                "ok": e["Task End Reason"]["Reason"] == "Success",
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "shuffle_write_s": sw.get("Shuffle Write Time", 0) / 1e9,
                "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                "spill_bytes": m.get("Disk Bytes Spilled", 0),
                "peak_mem": m.get("Peak Execution Memory", 0),
                "sql": [(a["ID"], float(a["Update"])) for a in info.get("Accumulables", [])
                        if a.get("Metadata") == "sql" and "Update" in a],
            })
        elif kind in ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.driver_accums[e["executionId"]][acc_id] = float(value)


def _metric_seconds(value: float, mtype: str) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


def _sql_layer(node: str, metric: str, mtype: str, value: float, out: dict) -> None:
    """Fold one node metric into the per-layer counters."""
    if node == "Scan":
        key = {"number of output rows": "sources.scan_rows",
               "size of files read": "sources.scan_bytes"}.get(metric)
        if key:
            out[key] += value
        elif metric == "scan time":
            out["sources.scan_s"] += _metric_seconds(value, mtype)
    elif metric == "time in aggregation build":
        out["operators.agg_build_s"] += _metric_seconds(value, mtype)
    elif metric == "sort time":
        out["operators.sort_s"] += _metric_seconds(value, mtype)
    elif node == "WholeStageCodegen" and metric == "duration":
        out["operators.wholestage_s"] += _metric_seconds(value, mtype)
    elif node == "BroadcastExchange" and metric in (
            "time to collect", "time to build", "time to broadcast"):
        out["operators.broadcast_build_s"] += _metric_seconds(value, mtype)
    elif metric == "time to run Python workers":
        out["functions.python_run_s"] += _metric_seconds(value, mtype)
    elif metric == "data sent to Python workers":
        out["functions.python_sent_bytes"] += value
    elif metric == "data returned from Python workers":
        out["functions.python_returned_bytes"] += value


def _is_join(node: str) -> bool:
    return node.endswith("Join") or node in JOIN_NODES


STREAM_FIELDS = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.query_planning_ms": "queryPlanning",
}


def _stream_metrics(progress: dict[str, list[dict]], out: dict) -> None:
    """Per data-carrying micro-batch means from each query's progress,
    and end-of-pass state sizes summed over the queries."""
    batches = [b for rows in progress.values() for b in rows if b.get("numInputRows", 0) > 0]
    for key, field in STREAM_FIELDS.items():
        vals = [b.get("durationMs", {}).get(field, 0) for b in batches]
        out[key] += statistics.fmean(vals) if vals else 0.0
    commits = [sum(op.get("commitTimeMs", 0) for op in b.get("stateOperators", [])) for b in batches]
    out["streaming.state_commit_ms"] += statistics.fmean(commits) if commits else 0.0
    for rows in progress.values():
        if rows:
            ops = rows[-1].get("stateOperators", [])
            out["streaming.state_rows"] += sum(op.get("numRowsTotal", 0) for op in ops)
        out["streaming.state_mem_bytes"] += max(
            (sum(op.get("memoryUsedBytes", 0) for op in b.get("stateOperators", []))
             for b in rows), default=0)
        out["streaming.watermark_dropped_rows"] += sum(
            op.get("numRowsDroppedByWatermark", 0)
            for b in rows for op in b.get("stateOperators", []))


LAYER_KEYS = (
    "sources.read_calls", "sources.read_s", "sources.infer_jobs", "sources.schema_hit_ratio",
    "sources.artifact_builds", "sources.scan_rows", "sources.scan_bytes", "sources.scan_s",
    "plans.construct_s", "plans.analysis_s", "plans.barrier_jobs", "plans.barrier_s",
    "plans.action_s", "plans.jobs", "plans.stages", "plans.tasks", "plans.driver_gap_s",
    "operators.task_run_s", "operators.task_cpu_s", "operators.gc_s", "operators.core_busy_ratio",
    "operators.shuffle_write_bytes", "operators.shuffle_write_s", "operators.fetch_wait_s",
    "operators.agg_build_s", "operators.sort_s", "operators.wholestage_s",
    "operators.broadcast_build_s", "operators.spill_bytes", "operators.peak_exec_mem_bytes",
    "operators.pair_yield", "operators.task_failures",
    "functions.python_run_s", "functions.python_sent_bytes",
    "functions.python_returned_bytes",
    *STREAM_FIELDS, "streaming.state_commit_ms", "streaming.state_rows",
    "streaming.state_mem_bytes", "streaming.watermark_dropped_rows",
)


class Attribution:
    """Maps the event log onto the run's passes, lanes and phases, and
    writes the span tree lane -> phase -> job -> stage -> task."""

    def __init__(self, log: EventLog, tracer: Tracer, passes: list, cores: int):
        self.log, self.tracer, self.cores = log, tracer, cores
        self.by_phase: dict[tuple, list[dict]] = defaultdict(list)
        # The tracer's own phase spans: (pass, lane, phase) -> (start, end).
        self.phase_spans = {(s["pass_no"], s["lane"], s["phase"]): (s["start"], s["end"])
                            for s in tracer.spans if s["layer"] == "plans"}
        stream_ids = {rid for p in passes for rid in p.stream.get("run_ids", {})}
        for job in log.jobs.values():
            key = None
            g = job["group"] or ""
            if g.startswith(tracer.run_id + "|"):
                _, no, lane, phase = g.split("|")
                key = (int(no), lane, phase)
            elif g in stream_ids:
                key = self._by_time(job["start"])
            if key is not None:
                job["owner"] = key
                self.by_phase[key].append(job)
        self.exec_owner = {}
        for job in log.jobs.values():
            if "owner" in job and job["exec"] is not None:
                self.exec_owner.setdefault(job["exec"], job["owner"])
        self.tasks_by_stage: dict[int, list[dict]] = defaultdict(list)
        for t in log.tasks:
            self.tasks_by_stage[t["stage"]].append(t)

    def _by_time(self, t: float):
        """Streaming jobs run on the queries' own threads under their run
        id, so they are attributed to the traced phase whose span holds
        their submission time."""
        for key, (start, end) in self.phase_spans.items():
            if start <= t <= end:
                return key
        return None

    def _stages(self, jobs):
        return [self.log.stages[s] for j in jobs for s in j["stages"] if s in self.log.stages]

    def _tasks(self, jobs):
        return [t for st in self._stages(jobs) for t in self.tasks_by_stage[st["id"]]]

    def pass_metrics(self, p, rows: dict[str, int]) -> dict:
        """Per-layer totals of one traced pass."""
        out = defaultdict(float)
        spans = self.tracer.spans
        src = [s for s in spans if s["layer"] == "sources" and s.get("end")]
        joined_rows = joined_max = 0.0
        for run in p.lanes:
            if run.error is not None:
                continue
            cons = self.by_phase[(p.no, run.lane, "construct")]
            act = self.by_phase[(p.no, run.lane, "action")]
            c0, c1 = self.phase_spans[(p.no, run.lane, "construct")]
            a0, a1 = self.phase_spans[(p.no, run.lane, "action")]
            construct_s, action_s = c1 - c0, a1 - a0
            out["plans.construct_s"] += construct_s
            out["plans.action_s"] += action_s
            lane_src = [s for s in src if c0 <= s["start"] <= c1]
            outer = [s for s in lane_src if s["parent"] is None
                     or spans[s["parent"]]["layer"] != "sources"]
            read_s = sum(s["end"] - s["start"] for s in outer)
            out["sources.read_calls"] += len(outer)
            out["sources.read_s"] += read_s
            tagged = [j for j in cons if j["span"] is not None]
            out["sources.infer_jobs"] += len(tagged)
            tags = {int(j["span"]) for j in tagged}
            cached = [s for s in lane_src if s["name"] == "cached_parquet"]
            out["_cached_calls"] += len(cached)
            out["_cached_hits"] += sum(1 for s in cached if s["id"] not in tags)
            out["sources.artifact_builds"] += sum(
                1 for s in lane_src if s.get("kind") == "artifact"
                and any(self._under(t, s["id"]) for t in tags))
            barrier = [j for j in cons if j["span"] is None]
            barrier_s = _union([(j["start"], j["end"]) for j in barrier], c0, c1)
            out["plans.barrier_jobs"] += len(barrier)
            out["plans.barrier_s"] += barrier_s
            out["plans.analysis_s"] += max(construct_s - read_s - barrier_s, 0.0)
            jobs = cons + act
            stages, tasks = self._stages(jobs), self._tasks(jobs)
            act_tasks = self._tasks(act)
            out["plans.jobs"] += len(jobs)
            out["plans.stages"] += len(stages)
            out["plans.tasks"] += len(tasks)
            out["plans.driver_gap_s"] += action_s - _union(
                [(t["start"], t["end"]) for t in act_tasks], a0, a1)
            out["_act_run_s"] += sum(t["run_s"] for t in act_tasks)
            for t in tasks:
                out["operators.task_run_s"] += t["run_s"]
                out["operators.task_cpu_s"] += t["cpu_s"]
                for k in ("gc_s", "shuffle_write_bytes", "shuffle_write_s", "fetch_wait_s",
                          "spill_bytes"):
                    out[f"operators.{k}"] += t[k]
                out["operators.peak_exec_mem_bytes"] = max(
                    out["operators.peak_exec_mem_bytes"], t["peak_mem"])
                out["operators.task_failures"] += 0 if t["ok"] else 1
            per_acc = defaultdict(float)
            for t in tasks:
                for acc, v in t["sql"]:
                    per_acc[acc] += v
            for ex, owner in self.exec_owner.items():
                if owner[0] == p.no and owner[1] == run.lane:
                    per_acc.update(self.log.driver_accums.get(ex, {}))
            join_max = 0.0
            for acc, v in per_acc.items():
                meta = self.log.accum_meta.get(acc)
                if meta is None:
                    continue
                _sql_layer(*meta, v, out)
                if _is_join(meta[0]) and meta[1] == "number of output rows":
                    join_max = max(join_max, v)
            if join_max and run.lane in rows:
                joined_rows += rows[run.lane]
                joined_max += join_max
        wall = out["plans.action_s"] * self.cores
        out["operators.core_busy_ratio"] = out.pop("_act_run_s", 0.0) / wall if wall else 0.0
        calls, hits = out.pop("_cached_calls", 0), out.pop("_cached_hits", 0)
        out["sources.schema_hit_ratio"] = hits / calls if calls else 0.0
        out["operators.pair_yield"] = joined_rows / joined_max if joined_max else 0.0
        if p.stream:
            _stream_metrics(p.stream["progress"], out)
        return {k: out[k] for k in LAYER_KEYS}

    def _under(self, sid: int, ancestor: int) -> bool:
        spans = self.tracer.spans
        while sid is not None:
            if sid == ancestor:
                return True
            sid = spans[sid]["parent"]
        return False

    def span_records(self, passes: list) -> list[dict]:
        """The span tree with self times: lane -> phase -> job -> stage ->
        task, plus the Python-side source spans and streaming batches."""
        out, run_id = [], self.tracer.run_id

        def add(layer, name, start, end, parent, children=(), **attrs):
            sid = f"{layer}:{name}:{len(out)}"
            self_s = (end - start) - _union(children, start, end)
            out.append({"run_id": run_id, "id": sid, "parent": parent, "layer": layer,
                        "name": name, "start": start, "end": end,
                        "self_s": round(self_s, 6), **attrs})
            return sid

        for p in passes:
            if not p.traced:
                continue
            for run in p.lanes:
                phases = [(ph, self.phase_spans[(p.no, run.lane, ph)])
                          for ph in ("construct", "action")
                          if (p.no, run.lane, ph) in self.phase_spans]
                lane = add("lane", run.lane, run.start, run.start + run.wall_s, None,
                           [iv for _, iv in phases], pass_no=p.no)
                for phase, (s, e) in phases:
                    jobs = self.by_phase[(p.no, run.lane, phase)]
                    ph = add("phase", phase, s, e, lane,
                             [(j["start"], j["end"]) for j in jobs], pass_no=p.no)
                    for j in jobs:
                        stages = self._stages([j])
                        jid = add("job", str(j["id"]), j["start"], j["end"], ph,
                                  [(st["start"], st["end"]) for st in stages])
                        for st in stages:
                            tasks = self.tasks_by_stage[st["id"]]
                            sid = add("stage", str(st["id"]), st["start"], st["end"], jid,
                                      [(t["start"], t["end"]) for t in tasks])
                            for t in tasks:
                                add("task", str(st["id"]), t["start"], t["end"], sid,
                                    run_s=t["run_s"], cpu_s=t["cpu_s"])
            for q, rows in p.stream.get("progress", {}).items():
                for b in rows:
                    out.append({"run_id": run_id, "id": f"batch:{q}:{p.no}:{b['batchId']}",
                                "parent": None, "layer": "streaming", "name": q,
                                "pass_no": p.no, "timestamp": b.get("timestamp"),
                                "duration_ms": b.get("durationMs", {}),
                                "input_rows": b.get("numInputRows", 0)})
        out.extend({**s, "id": f"py:{s['id']}"} for s in self.tracer.spans)
        return out
