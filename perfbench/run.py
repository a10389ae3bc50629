"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run:

1. generates the workload's inputs from ``--seed`` under its own run
   directory ``.perfbench/<workload>-seed<seed>-trace<t>/`` (recreated
   every run, together with the Spark local, temp, artifact, checkpoint
   and warehouse dirs, so no run sees another's caches);
2. starts the engine's session (``session.get_spark``) at
   ``local[<usable cores>]`` and runs a first trivial job: ``setup_s``;
3. runs one cold pass, then as many warm passes as fill ``--seconds``
   at the workload's nominal pass time (at least two);
4. checks every lane or query of every pass, outside the timed sections
   (the dedup lanes against their DuckDB twins, computed in a child
   process after the session has stopped);
5. prints the record as one JSON line, then the result line last.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` switches on
Spark's event log, job groups and source spans, runs its warm passes in
plain-traced-traced-plain blocks, and prints the per-layer metrics of
the traced passes plus the tracing overhead (traced minus plain).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "etl_sql_and_pyspark_developement__spark"
WORKLOADS = ("corpus_dedup", "stream_ingest")
# bench.py's load guard: a fixed CPU probe and its committed envelope.
CAL_ENVELOPE_S = 0.2

sys.path.insert(0, HERE)
import gen  # noqa: E402
import workloads  # noqa: E402
from tracing import Attribution, EventLog, Tracer  # noqa: E402


class RssSampler(threading.Thread):
    """Resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc. Paused while
    outputs are checked, so only the workload's own passes count."""

    def __init__(self, interval_s: float = 0.1):
        super().__init__(daemon=True)
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []  # (epoch s, bytes)
        self.peak_bytes = 0
        self.peak_by_process: dict[str, int] = {}  # MB per command at the peak
        self.active = threading.Event()
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def descendants(root: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
                children.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def _rss(self, pids: list[int]) -> dict[int, int]:
        out = {}
        for pid in pids:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    out[pid] = int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return out

    @staticmethod
    def _command(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                args = f.read().split(b"\0")
        except OSError:
            return "?"
        return "java" if args[0].endswith(b"java") else (
            "pyspark worker" if b"pyspark.daemon" in args else "python")

    def run(self) -> None:
        pids, refreshed = [os.getpid()], 0.0
        while not self._halt.is_set():
            if self.active.is_set():
                if time.monotonic() - refreshed > 1.0:
                    pids, refreshed = self.descendants(os.getpid()), time.monotonic()
                rss = self._rss(pids)
                self.samples.append((time.time(), sum(rss.values())))
                if sum(rss.values()) > self.peak_bytes:
                    self.peak_bytes = sum(rss.values())
                    by: dict[str, int] = {}
                    for pid, b in rss.items():
                        name = self._command(pid)
                        by[name] = by.get(name, 0) + b // 2**20
                    self.peak_by_process = by
            self._halt.wait(self.interval_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)

    def median_within(self, intervals: list[tuple[float, float]]) -> float:
        vals = [b for t, b in self.samples if any(s <= t <= e for s, e in intervals)]
        return statistics.median(vals) if vals else 0.0

    @contextlib.contextmanager
    def paused(self):
        self.active.clear()
        try:
            yield
        finally:
            self.active.set()


def _isolate(run_dir: str, cores: int) -> dict[str, str]:
    """Fresh, run-owned dirs for everything the engine, Spark, the JVM
    and Python would otherwise put in shared temp locations."""
    dirs = {k: os.path.join(run_dir, k) for k in
            ("inputs", "local", "tmp", "artifacts", "warehouse", "eventlog", "stream")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "SPARK_GRAFT_ARTIFACT_DIR": dirs["artifacts"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CPUS": str(cores),
        "TMPDIR": dirs["tmp"],
        # Both JVMs (the launcher and the driver): temp files in the run
        # dir, and no hsperfdata files in the system temp dir.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    })
    # The engine's own default driver heap, whatever the caller's shell says.
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    tempfile.tempdir = None
    return dirs


def _log(msg: str) -> None:
    print(f"# perfbench +{time.perf_counter() - T_PROCESS:.1f}s {msg}", file=sys.stderr, flush=True)


def _oracles_in_child(dirs: dict) -> dict:
    """The dedup lanes' DuckDB references, computed in a child process
    after the session has stopped, so DuckDB's work and memory touch
    neither the session's setup nor its passes."""
    out = os.path.join(dirs["tmp"], "oracles.json")
    code = ("import json, sys; sys.path.insert(0, sys.argv[1]); import workloads; "
            "json.dump(workloads.dedup_oracles(sys.argv[2], sys.argv[3]), open(sys.argv[4], 'w'))")
    subprocess.run([sys.executable, "-c", code, HERE, ROOT, dirs["inputs"], out],
                   check=True, timeout=120, stdout=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def _calibration(spark) -> float:
    """bench.py's probe: best of three 20M-row sums, after one warm-up."""
    def once() -> float:
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr("sum(id * 2 + 1) AS s").collect()
        return time.perf_counter() - t0

    once()
    return min(once() for _ in range(3))


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM and its Python workers, and
    wait until every one of those processes has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    pids = RssSampler.descendants(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a hung JVM is killed, not left behind
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}") and _alive(p)]
        if pids:
            time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def warm_pass_count(seconds: float, nominal_pass_s: float, trace: bool) -> int:
    """How many warm passes fill ``seconds`` at the workload's nominal
    pass time: at least two, and in traced runs whole blocks of four,
    at least one. The count is fixed before the run rather than taken
    from the clock: the warm passes speed up over a run, so a slow
    machine stopping after fewer passes would report a higher median for
    a second reason, and one more pass would move the median by a step."""
    n = max(2, round(seconds / nominal_pass_s))
    return 4 * max(1, -(-n // 4)) if trace else n


def _plan_passes(runner, trace: bool, seconds: float) -> list:
    """Cold pass, then a fixed number of warm passes (``warm_pass_count``).
    Traced runs make their warm passes in blocks of four,
    plain-traced-traced-plain: traced and plain then sit at the same mean
    pass position, so a drift over the run cancels out of traced minus
    plain."""
    passes = [runner.run_pass(0, "cold", trace)]
    _log(f"cold pass {passes[0].wall_s:.2f}s")
    for no in range(1, 1 + warm_pass_count(seconds, runner.nominal_pass_s, trace)):
        if runner.exhausted:
            break
        traced = trace and no % 4 in (2, 3)
        p = runner.run_pass(no, "warm", traced)
        passes.append(p)
        _log(f"warm pass {no} ({'traced' if traced else 'plain'}) {p.wall_s:.2f}s")
    return passes


def _provenance(spark, cores_label, manifest, gen_s) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cores_measured": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark_graft_cpus_label": cores_label,
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "inputs": manifest,
        "input_generation_s": gen_s,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(gen.SIZES), default="default")
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"engine package {PKG!r} not found under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    cores_label = os.environ.get("SPARK_GRAFT_CPUS")
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = _isolate(run_dir, cores)
    loadavg_start = os.getloadavg()[0]
    ticks_start = _cpu_ticks()

    t_gen = time.perf_counter()
    manifest = gen.generate(args.workload, args.seed, dirs["inputs"], args.size)
    gen_s = time.perf_counter() - t_gen
    _log(f"inputs ready in {gen_s:.2f}s")

    sampler = RssSampler()
    sampler.start()
    sampler.active.set()
    # setup_s: from here (inputs ready) to a session that has run a job.
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    from etl_sql_and_pyspark_developement__spark.session import get_spark

    extra = {"spark.sql.warehouse.dir": dirs["warehouse"]}
    if trace:
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + dirs["eventlog"],
                      "spark.eventLog.compress": "false"})
    t_start = time.perf_counter()
    spark = get_spark("perfbench", cpus=cores, extra_conf=extra)
    t_session = time.perf_counter()
    spark.range(1).count()
    t_ready = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    _log(f"session ready, setup {t_ready - t_setup:.2f}s")
    setup = {"setup_s": t_ready - t_setup, "import_s": t_start - t_setup,
             "session.start_s": t_session - t_start, "session.first_job_s": t_ready - t_session,
             "process_to_ready_s": t_ready - T_PROCESS - gen_s}

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(run_id, trace)
    tracer.attach(spark)
    if args.workload == "corpus_dedup":
        runner = workloads.CorpusDedup(spark, ROOT, dirs["inputs"], manifest, args.seed,
                                       tracer, sampler.paused)
    else:
        runner = workloads.StreamIngest(spark, dirs["inputs"], manifest, tracer, sampler.paused,
                                        dirs["stream"], gen.SIZES[args.size]["per_pass"],
                                        gen.SIZES[args.size]["cold_parts"])
    passes = _plan_passes(runner, trace, args.seconds)
    sampler.active.clear()
    sampler.stop()
    _log("passes done")
    ticks_end = _cpu_ticks()
    workload_info = runner.finish()
    _log("outputs checked")
    calibration_s = _calibration(spark)
    provenance = _provenance(spark, cores_label, manifest, gen_s)
    _stop_jvm(spark)
    _log("session stopped")
    if args.workload == "corpus_dedup":
        runner.compare(_oracles_in_child(dirs))
        _log("outputs compared with the DuckDB twins")

    cold = passes[0]
    warm = [p for p in passes[1:] if not p.traced]
    lat = workloads.latency_summary([x for p in warm for x in p.latencies])
    warm_pass_s = statistics.median(p.wall_s for p in warm)
    e2e = {
        "setup_s": (setup["setup_s"], "s"),
        "cold_pass_s": (cold.wall_s, "s"),
        "warm_pass_s": (warm_pass_s, "s"),
        "latency_p50_s": (lat["p50_s"], "s"),
        "warm_rss_mb": (sampler.median_within(
            [(r.start, r.start + r.wall_s) for p in warm for r in p.lanes]) / 2**20, "MB"),
    }
    failed = sum(f.get("count", 1) for f in runner.failures)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "run_id": run_id,
        "setup": setup,
        "passes": [{"no": p.no, "kind": p.kind, "traced": p.traced, "wall_s": p.wall_s,
                    "lanes": [{"lane": r.lane, "construct_s": r.construct_s,
                               "action_s": r.action_s, "wall_s": r.wall_s, "error": r.error}
                              for r in p.lanes],
                    "latencies_s": p.latencies, "output_rows": p.rows,
                    "untimed_s": p.untimed_s} for p in passes],
        "latency": lat,
        # Not a result metric: the rows per pass are fixed by the input size,
        # so this is warm_pass_s seen through a constant.
        "input_rows_per_s": statistics.median(p.input_rows / p.wall_s for p in warm),
        "failed_frac": failed / max(runner.attempted, 1),
        "failures": runner.failures,
        "load_guard": {"calibration_s": calibration_s,
                       "calibration_envelope_s": CAL_ENVELOPE_S,
                       "loaded_box": calibration_s > CAL_ENVELOPE_S,
                       "loadavg_1m_start": loadavg_start,
                       "loadavg_1m_end": os.getloadavg()[0],
                       # share of CPU time the hypervisor gave to others
                       "steal_frac": (ticks_end[0] - ticks_start[0])
                       / max(ticks_end[1] - ticks_start[1], 1)},
        "provenance": provenance,
        "workload_info": workload_info,
        "peak_rss_mb": sampler.peak_bytes / 2**20,
        "peak_rss_mb_by_process": sampler.peak_by_process,
    }

    if trace:
        metrics = _layer_metrics(dirs, tracer, passes, cores, setup, record)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    record["metrics"] = metrics
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for d in ("inputs", "local", "tmp", "artifacts", "warehouse", "eventlog", "stream"):
        shutil.rmtree(dirs[d], ignore_errors=True)
    print(json.dumps(record, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": runner.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


LAYER_UNITS = {"_s": "s", "_ms": "ms", "_bytes": "bytes", "_ratio": "ratio", "_yield": "ratio"}


def _unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _layer_metrics(dirs, tracer, passes, cores, setup, record) -> dict:
    """Per-layer metrics: means per traced warm pass, the cold pass's
    source work, the session split, and the tracing overhead."""
    log = EventLog(dirs["eventlog"])
    attr = Attribution(log, tracer, passes, cores)
    with open(os.path.join(os.path.dirname(dirs["eventlog"]), "spans.jsonl"), "w") as f:
        for span in attr.span_records(passes):
            f.write(json.dumps(span, default=str) + "\n")
    rows = {p.no: p.rows for p in passes}
    traced = [p for p in passes[1:] if p.traced]
    plain = [p for p in passes[1:] if not p.traced]
    per_pass = [attr.pass_metrics(p, rows[p.no]) for p in traced]
    out = {k: statistics.fmean(m[k] for m in per_pass) for k in per_pass[0]}
    # Artifacts are built once, in the cold pass; warm passes only reuse them.
    cold = attr.pass_metrics(passes[0], rows[0])
    lane_wall = statistics.fmean(sum(r.wall_s for r in p.lanes) for p in traced)
    out.update({
        "session.start_s": setup["session.start_s"],
        "session.first_job_s": setup["session.first_job_s"],
        "sources.cold_read_s": cold["sources.read_s"],
        "sources.cold_infer_jobs": cold["sources.infer_jobs"],
        "sources.artifact_builds": cold["sources.artifact_builds"],
        "trace.lane_wall_s": lane_wall,
        "trace.warm_pass_s": statistics.median(p.wall_s for p in traced),
        "trace.overhead_warm_pass_s": statistics.median(p.wall_s for p in traced)
        - statistics.median(p.wall_s for p in plain),
        "trace.overhead_latency_p50_s":
            statistics.median(x for p in traced for x in p.latencies)
            - statistics.median(x for p in plain for x in p.latencies),
    })
    # The tracer's construct and action spans of a lane must add up to the
    # lane's wall time, which the runner measures on its own clock.
    spans = defaultdict(float)
    for s in tracer.spans:
        if s["layer"] == "plans":
            spans[(s["pass_no"], s["lane"])] += s["end"] - s["start"]
    errors = [(abs(spans[(p.no, r.lane)] - r.wall_s), r.wall_s)
              for p in traced for r in p.lanes if r.error is None]
    record["additivity"] = {
        "lanes": len(errors),
        "max_error_s": max(e for e, _ in errors),
        "max_error_share": max(e / w for e, w in errors),
        "construct_plus_action_s": out["plans.construct_s"] + out["plans.action_s"],
        "lane_wall_s": lane_wall,
    }
    return {k: {"value": v, "unit": _unit(k)} for k, v in sorted(out.items())}


if __name__ == "__main__":
    sys.exit(main())
