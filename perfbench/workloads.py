"""The benchmark's workloads: what one pass is, how it is timed, and how
its outputs are checked.

A runner exposes ``run_pass(no, kind, traced) -> Pass`` and ``finish()``.
Outputs are checked outside the timed sections: each dedup lane's output
is kept right after it runs and compared with its DuckDB twin after the
session stops; the streams are checked once, after the last pass. A lane
or arrival that raises or disagrees with its reference counts as failed,
with the exception name or the mismatch recorded. Nothing is skipped.
"""

from __future__ import annotations

import gc
import importlib.util
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

DEDUP_LANES = (
    "d02_dedup_ngram_jaccard",
    "d03_dedup_minhash_lsh",
    "d08_embedding_neardup",
    "d11_semantic_dedup",
)
STREAM_QUERIES = ("st01", "st02", "st03", "st04")


@dataclass
class LaneRun:
    lane: str
    start: float  # epoch seconds, for aligning with the event log
    construct_s: float = 0.0
    action_s: float = 0.0
    wall_s: float = 0.0  # measured start to end, not summed
    error: str | None = None


@dataclass
class Pass:
    no: int
    kind: str  # "cold" or "warm"
    traced: bool
    wall_s: float = 0.0
    lanes: list[LaneRun] = field(default_factory=list)
    latencies: list[float] = field(default_factory=list)
    input_rows: int = 0
    rows: dict[str, int] = field(default_factory=dict)  # lane -> output rows
    untimed_s: float = 0.0  # output checks and cache/GC hygiene between lanes
    stream: dict = field(default_factory=dict)  # run ids and progress


def _load_parity(root: str):
    """tests/parity.py's normalization: the repo's definition of
    order-insensitive, repr-exact result equality."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(root, "tests", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def dedup_oracles(root: str, inputs: str) -> dict[str, list]:
    """Each dedup lane's DuckDB twin (``ORACLES``) over the generated
    inputs, normalized."""
    import sys

    import duckdb

    sys.path.insert(0, root)
    from etl_sql_and_pyspark_developement__spark.plans import ORACLES

    parity = _load_parity(root)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet')"
        )
    return {k: _comparable(parity._normalize(con.execute(ORACLES[k]).fetchdf()))
            for k in DEDUP_LANES}


def _comparable(normalized) -> list:
    """A normalized result in its JSON round-trip form (lists, not tuples)."""
    return json.loads(json.dumps(normalized))


def _hygiene(spark) -> None:
    """bench.py's between-lane hygiene: release cached and localCheckpoint
    blocks, then collect garbage on both sides. A full JVM collection also
    lets the heap shrink back, so the resident size sampled in the next
    timed section follows the workload rather than the collector's timing."""
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _pass_order(seed: int, no: int, lanes: tuple[str, ...]) -> list[str]:
    """The seed sets each pass's lane order; every lane always runs."""
    rng = np.random.default_rng([seed, no])
    return [lanes[i] for i in rng.permutation(len(lanes))]


class CorpusDedup:
    """Pass = the four dedup lanes in a seeded order. Each is built
    (``QUERIES[k]``) and its rows collected to the driver: the rows the
    timed action produced are the rows that are checked, so no lane runs
    twice. The results are small (at most a few hundred rows)."""

    exhausted = False
    nominal_pass_s = 12.0  # a warm pass on a 4-vCPU VM

    def __init__(self, spark, root, inputs, manifest, seed, tracer, untimed):
        from etl_sql_and_pyspark_developement__spark.plans import QUERIES

        self.spark, self.inputs, self.seed = spark, inputs, seed
        self.tracer, self.untimed = tracer, untimed
        self.queries = QUERIES
        self.parity = _load_parity(root)
        self.outputs: list[tuple[int, str, list]] = []  # (pass, lane, normalized rows)
        self.rows_per_pass = 2 * (
            manifest["files"]["documents.parquet"]["rows"]
            + manifest["files"]["embeddings.parquet"]["rows"]
        )
        self.attempted = 0
        self.failures: list[dict] = []

    def run_pass(self, no: int, kind: str, traced: bool) -> Pass:
        p = Pass(no, kind, traced, input_rows=self.rows_per_pass)
        for lane in _pass_order(self.seed, no, DEDUP_LANES):
            run, df, pdf = LaneRun(lane, time.time()), None, None
            t0 = time.perf_counter()
            try:
                with self.tracer.phase(traced, no, lane, "construct"):
                    df = self.queries[lane](self.spark, self.inputs)
                t1 = time.perf_counter()
                with self.tracer.phase(traced, no, lane, "action"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
                run.construct_s, run.action_s, run.wall_s = t1 - t0, t2 - t1, t2 - t0
            except Exception as ex:  # noqa: BLE001 — a failing lane is counted, not fatal
                run.error = type(ex).__name__
                run.wall_s = time.perf_counter() - t0
            p.lanes.append(run)
            with self.untimed():
                u0 = time.perf_counter()
                self._keep(p, run, pdf)
                del df, pdf
                _hygiene(self.spark)
                p.untimed_s += time.perf_counter() - u0
        p.wall_s = sum(r.wall_s for r in p.lanes)
        p.latencies = [r.wall_s for r in p.lanes if r.error is None]
        return p

    def _keep(self, p: Pass, run: LaneRun, pdf) -> None:
        """Keep the lane's normalized output for ``compare``; a lane that
        raised fails now."""
        self.attempted += 1
        if run.error is not None:
            self.failures.append({"pass": p.no, "lane": run.lane, "error": run.error})
            return
        p.rows[run.lane] = len(pdf)
        self.outputs.append((p.no, run.lane, _comparable(self.parity._normalize(pdf))))

    def finish(self) -> dict:
        return {"lanes": list(DEDUP_LANES)}

    def compare(self, expected: dict[str, list]) -> None:
        """Check every kept output against its lane's DuckDB twin."""
        for no, lane, got in self.outputs:
            if got != expected[lane]:
                self.failures.append({"pass": no, "lane": lane, "error": "MismatchVsOracle"})


class StreamIngest:
    """One long-running ingest. st01–st04 start once, with fresh
    checkpoints, on a watched dir that holds the first part. Each pass
    then lands the next ``per_pass`` parts one at a time in a closed loop:
    a part lands only after every query has processed the previous one.
    A latency sample is one landing until all four queries are done with
    it. The cold pass starts the queries on the first part and lands the
    next ``cold_parts - 1``. Outputs are checked once, after the last pass, against a batch
    recomputation over every landed part."""

    nominal_pass_s = 6.5  # a warm pass on a 4-vCPU VM

    def __init__(self, spark, inputs, manifest, tracer, untimed, run_dir, per_pass, cold_parts):
        self.spark, self.tracer, self.untimed = spark, tracer, untimed
        self.per_pass, self.cold_parts = per_pass, cold_parts
        names = sorted(k for k in manifest["files"] if k.startswith("parts/"))
        self.parts = [(os.path.join(inputs, k), manifest["files"][k]["rows"]) for k in names]
        self.run_dir = run_dir
        self.watch = os.path.join(run_dir, "watch")
        self.landed: list[str] = []
        self.handles: list = []
        self._seen: dict[str, int] = {}
        self.attempted = 0
        self.failures: list[dict] = []

    @property
    def exhausted(self) -> bool:
        return len(self.landed) >= len(self.parts)

    def _land(self) -> int:
        path, rows = self.parts[len(self.landed)]
        # Copy under a name the file source ignores, then rename: a part
        # appears whole or not at all.
        hidden = os.path.join(self.watch, "_" + os.path.basename(path))
        shutil.copy(path, hidden)
        os.rename(hidden, os.path.join(self.watch, os.path.basename(path)))
        self.landed.append(path)
        return rows

    def _start(self) -> None:
        from etl_sql_and_pyspark_developement__spark.streaming.pipeline import (
            read_event_stream,
            session_window_agg,
            streaming_dedup,
            windowed_event_counts,
        )
        from etl_sql_and_pyspark_developement__spark.streaming.stateful import (
            running_user_stats,
        )

        os.makedirs(self.watch)
        self._land()
        ev = read_event_stream(self.spark, self.watch)
        defs = {
            "st01": (windowed_event_counts(ev), "append"),
            "st02": (session_window_agg(ev), "append"),
            "st03": (streaming_dedup(ev), "append"),
            "st04": (running_user_stats(ev), "update"),
        }
        for q, (df, mode) in defs.items():
            self.handles.append((q, df.writeStream.outputMode(mode).format("memory")
                                 .queryName(f"perfbench_{q}")
                                 .option("checkpointLocation",
                                         os.path.join(self.run_dir, "checkpoints", q))
                                 .start()))

    def _drain(self) -> None:
        for _, h in self.handles:
            h.processAllAvailable()

    def run_pass(self, no: int, kind: str, traced: bool) -> Pass:
        p = Pass(no, kind, traced)
        run = LaneRun("ingest", time.time())
        t0 = time.perf_counter()
        try:
            with self.tracer.phase(traced, no, "ingest", "construct"):
                if not self.handles:
                    self._start()
                    p.input_rows += self.parts[0][1]
            t1 = time.perf_counter()
            with self.tracer.phase(traced, no, "ingest", "action"):
                self._drain()
                for _ in range(self.cold_parts - 1 if no == 0 else self.per_pass):
                    if self.exhausted:
                        break
                    a = time.perf_counter()
                    p.input_rows += self._land()
                    self._drain()
                    p.latencies.append(time.perf_counter() - a)
            t2 = time.perf_counter()
            run.construct_s, run.action_s, run.wall_s = t1 - t0, t2 - t1, t2 - t0
        except Exception as ex:  # noqa: BLE001 — a failing pass is counted, not fatal
            run.error = type(ex).__name__
            run.wall_s = time.perf_counter() - t0
        p.wall_s = run.wall_s
        p.lanes.append(run)
        # Arrivals count as attempted; a pass that raised fails them all.
        arrivals = max(len(p.latencies) + (1 if no == 0 else 0), 1)
        self.attempted += arrivals
        if run.error is not None:
            self.failures.append({"pass": no, "lane": "ingest", "error": run.error,
                                  "count": arrivals})
        with self.untimed():
            u0 = time.perf_counter()
            _hygiene(self.spark)
            p.untimed_s += time.perf_counter() - u0
        p.stream = {"run_ids": {str(h.runId): q for q, h in self.handles},
                    "progress": self._new_progress()}
        return p

    def _new_progress(self) -> dict[str, list[dict]]:
        """Each query's progress reports for the batches since the last call."""
        out = {}
        for q, h in self.handles:
            rows = [json.loads(x.json()) for x in h._jsq.recentProgress()]
            out[q] = [r for r in rows if r["batchId"] >= self._seen.get(q, 0)]
            if rows:
                self._seen[q] = rows[-1]["batchId"] + 1
        return out

    def _expected(self) -> dict:
        """Batch recomputation over the landed parts, in pandas: the
        quantities tests/test_streaming.py recomputes in batch for
        st01–st04, from an engine other than the one under test. st02
        splits a user's events where the gap exceeds 30 minutes, as the
        engine's ``sessionize`` does."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        ev = pa.concat_tables(pq.read_table(x) for x in self.landed).to_pandas()
        win = ev.groupby([ev["ts"].dt.floor("5min"), "event_type"])["value"].agg(["size", "sum"])
        st01 = {k: (int(n), round(v, 2)) for k, n, v in zip(win.index, win["size"], win["sum"])}
        ev = ev.sort_values(["user_id", "ts", "event_id"])
        gap = ev.groupby("user_id")["ts"].diff()
        seq = (gap.isna() | (gap > np.timedelta64(1800, "s"))).groupby(ev["user_id"]).cumsum()
        ses = ev.groupby([ev["user_id"], seq])["ts"].agg(["min", "size"])
        st02 = {(u, t): int(n) for (u, _), t, n in zip(ses.index, ses["min"], ses["size"])}
        st03 = len(ev[["event_id", "ts"]].drop_duplicates())
        st04 = {int(u): int(n) for u, n in ev.groupby("user_id").size().items()}
        return {"st01": st01, "st02": st02, "st03": st03, "st04": st04}

    def finish(self) -> dict:
        """Check each query's sink against the batch twin, with the
        criteria of tests/test_streaming.py: st01 emits only exact windows
        and at least 90% of them (append mode withholds the still-open
        tail); st02 agrees on over 95% of emitted sessions; st03 keeps
        exactly the distinct events; st04's last update per user has the
        batch count. Then stop the queries."""
        exp = self._expected() if self.handles else {}
        rows_out = {}
        for q, h in self.handles:
            self.attempted += 1
            out = self.spark.sql(f"SELECT * FROM perfbench_{q}").toPandas()
            rows_out[q] = len(out)
            if q == "st01":
                got = {(w, t): (int(n), v) for w, t, n, v in
                       zip(out["window_start"], out["event_type"], out["n_events"], out["total_value"])}
                ok = bool(got) and all(exp[q].get(k) == v for k, v in got.items()) \
                    and len(got) >= 0.9 * len(exp[q])
            elif q == "st02":
                got = {(int(u), t): int(n) for u, t, n in
                       zip(out["user_id"], out["session_start"], out["n_events"])}
                ok = bool(got) and sum(exp[q].get(k) == v for k, v in got.items()) / len(got) > 0.95
            elif q == "st03":
                ok = len(out) == exp[q]
            else:
                last = {int(u): int(n) for u, n in out.groupby("user_id")["n_events"].max().items()}
                ok = last == exp[q]
            if not ok:
                self.failures.append({"pass": None, "lane": q, "error": "MismatchVsBatch"})
            h.stop()
        return {"queries": list(STREAM_QUERIES), "parts_landed": len(self.landed),
                "parts_per_pass": self.per_pass, "cold_parts": self.cold_parts,
                "output_rows": rows_out}


def latency_summary(samples: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (None when the run holds too few samples for one)."""
    n = len(samples)
    out = {"n": n, "p50_s": statistics.median(samples) if samples else None}
    if n > 10:
        s = sorted(samples)
        k = n - 10  # 1-based rank with exactly ten samples above it
        out.update(tail_percentile=round(100.0 * k / n, 1), tail_s=s[k - 1])
    else:
        out.update(tail_percentile=None, tail_s=None)
    return out
