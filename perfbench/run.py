"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 10 --trace 0

Run from the repository root: the benchmark imports ``better_cdc_spark``
(and ``tools.check`` for the query oracles) from the working directory
and drives the engine only through its public entry points:
``streaming.pipeline.CDCStreamPipeline`` for the CDC workloads and
``queries.load_all()`` for the query mix. Every input is generated from
``--seed``; every file the run writes lives under ``.perfbench_run/`` in
the working directory and is removed at exit. Traced runs leave their
spans and per-layer metrics in ``.perfbench_out/``.

With ``--trace 0`` the result carries the end-to-end metrics. With
``--trace 1`` the run measures the workload three times: untraced, traced
(spans, and the Spark event log on after a session restart), untraced
again after another restart. It reports the per-layer metrics of the
traced measurement plus the tracing overhead.
See ``perfbench/README.md`` for what each metric means on each workload.
"""

from __future__ import annotations

import argparse
import bisect
import datetime as dt
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

CPUS = len(os.sched_getaffinity(0))
HEAP = "3g"
SESSION_STARTS = 3
MIN_DRAINS = 2
WARM_BATCHES = 2
ALLOWLIST = ["public.orders", "public.accounts"]

# cdc_drain: 4 segments x 2,500 ops per micro-batch, 3 micro-batches a drain
DRAIN = dict(segments=12, ops_per_segment=2500, files_per_trigger=4)
# cdc_replay: 16 interleaved transactions of ~400 ops, each spanning one or
# two micro-batches of 10,000 rows; a slot restart every half micro-batch,
# so more than a third of the admitted rows are redeliveries
REPLAY = dict(segments=7, rows_per_segment=2500, open_txs=16, tx_ops=400,
              reconnect_every=2, files_per_trigger=4)
# query_mix: registry tables at this scale (lineitem ~30k rows)
QUERY_SF = 0.005
QUERIES = {
    "qc01": "qc01_cdc_normalize",
    "q30": "q30_grouped_agg_tpch_q1",
    "qh08": "qh08_market_share",
    "q81c": "q81c_streaming_ohlc",
    "q96d": "q96d_semdedup",
    "q96e": "q96e_tfidf_cosine",
    "q99q": "q99q_ahash_near_dup",
}

END_TO_END = {
    "setup_s": "s", "ops_per_cpu_s": "ops/cpu-s", "epoch_cpu_s_p50": "cpu-s",
    "epoch_cpu_s_tail": "cpu-s", "peak_rss_mib": "MiB",
}
CDC_LAYERS = {
    "decode.s": "s", "decode.rows": "count", "decode.bytes": "bytes",
    "pending.s": "s", "pending.write_s": "s", "pending.rows_carried": "count",
    "pending.dup_rows_dropped": "count",
    "normalize.s": "s", "normalize.rows_out": "count",
    "sink.span_s": "s", "sink.write_s": "s", "sink.dedup_bytes_read": "bytes",
    "sink.rows_written": "count", "sink.useful_ratio": "ratio", "sink.useful_base": "count",
    "trigger.s": "s", "trigger.latest_offset_s": "s", "trigger.wal_commit_s": "s",
    "epoch.count": "count", "epoch.jobs": "count", "epoch.tasks": "count",
    "epoch.executor_run_s": "s", "epoch.gc_s": "s", "epoch.shuffle_bytes": "bytes",
    "epoch.spill_bytes": "bytes", "epoch.untraced_s": "s",
}
QUERY_LAYER_KEYS = {
    "wall_s": "s", "build_s": "s", "exec_s": "s", "jobs": "count",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s", "python_bytes": "bytes",
}
TRACE_KEYS = {"trace.overhead_s": "s", "trace.overhead_ratio": "ratio", "trace.count_s": "s"}


def per_layer_units() -> dict[str, str]:
    units = dict(CDC_LAYERS)
    for q in QUERIES:
        units.update({f"{q}.{k}": u for k, u in QUERY_LAYER_KEYS.items()})
    units.update(TRACE_KEYS)
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- statistics -------------------------------------------------------------


def pct(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest of p99/p95/p90 with at least ten
    samples beyond it; p75 when there are too few samples for that."""
    n = len(values)
    for p in (99.0, 95.0, 90.0):
        if n * (1 - p / 100) >= 10:
            return pct(values, p), p
    return pct(values, 75.0), 75.0


# -- process environment and session ---------------------------------------


class ProcSampler:
    """Every 0.05 s: peak RSS of this process plus its JVM child, and the
    CPU time of this process and all its descendants (JVM, Python
    workers), so any interval's CPU seconds can be read back.

    A second series leaves out the JVM's JIT compiler threads ("engine"
    CPU). They run on cores the engine leaves idle, so their share of an
    interval depends on how far compilation has got, not on the engine."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self) -> None:
        self.peak_kib = 0
        self.times: list[float] = []
        self.cpu: list[float] = []
        self.engine: list[float] = []
        self._is_jit: dict[str, bool] = {}  # thread id -> is a JIT compiler
        self._jit_ticks: dict[str, int] = {}  # last seen, kept after exit
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kib(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    @staticmethod
    def _children(pid: int) -> list[int]:
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                return [int(x) for x in f.read().split()]
        except OSError:
            return []

    @staticmethod
    def _stat_ticks(path: str, fields: slice) -> int:
        try:
            with open(path) as f:
                return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])
        except OSError:
            return 0

    def _cpu_ticks(self, pid: int) -> int:
        """utime + stime + reaped children's, over the whole process tree;
        records the JIT compiler threads' share on the way."""
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return 0
        for tid in tids:
            if tid not in self._is_jit:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        self._is_jit[tid] = f.read().startswith(self.JIT_THREADS)
                except OSError:
                    continue
            if self._is_jit[tid]:
                ticks = self._stat_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
                self._jit_ticks[tid] = max(ticks, self._jit_ticks.get(tid, 0))
        return self._stat_ticks(f"/proc/{pid}/stat", slice(11, 15)) + sum(
            self._cpu_ticks(c) for c in self._children(pid)
        )

    def sample(self) -> None:
        me = os.getpid()
        rss = self._rss_kib(me) + sum(self._rss_kib(c) for c in self._children(me))
        hz = os.sysconf("SC_CLK_TCK")
        with self._lock:
            ticks = self._cpu_ticks(me)
            self.times.append(time.time())
            self.cpu.append(ticks / hz)
            self.engine.append((ticks - sum(self._jit_ticks.values())) / hz)
            self.peak_kib = max(self.peak_kib, rss)

    def cpu_at(self, t: float, engine: bool = False) -> float:
        """CPU seconds used by time ``t``, interpolated between samples."""
        if not self.times or self.times[-1] < t:
            self.sample()
        with self._lock:
            ys = self.engine if engine else self.cpu
            i = bisect.bisect_left(self.times, t)
            if i == 0:
                return ys[0]
            if i == len(self.times):
                return ys[-1]
            t0, t1, c0, c1 = self.times[i - 1], self.times[i], ys[i - 1], ys[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0)

    def cpu_between(self, t0: float, t1: float, engine: bool = False) -> float:
        return self.cpu_at(t1, engine) - self.cpu_at(t0, engine)

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Bench:
    """Run-scoped state: directories, the Spark session, the clock."""

    def __init__(self, root: str, args) -> None:
        self.root = root
        self.args = args
        self.run_dir = os.path.join(
            root, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}"
        )
        self.eventlog_dir = os.path.join(self.run_dir, "eventlog")
        self.spark = None
        self.sampler = ProcSampler()
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (tmp, self.eventlog_dir, os.path.join(self.run_dir, "local")):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        import tempfile

        tempfile.tempdir = tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_DRIVER_MEMORY"] = HEAP
        os.environ.pop("BCS_RELIABLE_CKPT", None)
        confs = {
            # a fixed, pre-touched heap: otherwise peak RSS follows when the
            # collector happens to grow or reuse heap regions, run to run.
            # C1 only: the C2 compiler keeps compiling for minutes after
            # launch, and its CPU time, half of a micro-batch's, fell
            # through every measured section by an amount that varied
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(self.run_dir, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.eventLog.enabled": "false",
            "spark.eventLog.dir": "file:" + self.eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            "--conf " + shlex.quote(f"{k}={v}") for k, v in confs.items()
        ) + " pyspark-shell"

    def start_session(self, event_log: bool = False) -> float:
        """(Re)start the Spark session; returns its start time in seconds.

        The event log is off at JVM launch; a restart turns it on or off
        through the JVM system property a new SparkConf reads."""
        from better_cdc_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark._jvm.java.lang.System.setProperty(
                "spark.eventLog.enabled", "true" if event_log else "false"
            )
            self.spark.stop()
        self.spark = get_spark("perfbench", cpus=self.args.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def setup_sessions(self) -> float:
        """Median of SESSION_STARTS session starts (the first launches the JVM)."""
        starts = [self.start_session() for _ in range(SESSION_STARTS)]
        log(f"session starts {[round(s, 3) for s in starts]}")
        return statistics.median(starts)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def close(self) -> None:
        """Stop Spark, end its JVM and wait for it, then remove the run dir."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                SparkContext._gateway = SparkContext._jvm = None
                gateway.shutdown()
                # the JVM exits when its stdin closes; its Python workers with it
                gateway.proc.stdin.close()
                gateway.proc.wait(timeout=120)
            shutil.rmtree(self.run_dir, ignore_errors=True)
        parent = os.path.dirname(self.run_dir)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def unit_figures(sampler: ProcSampler, ops: int, sections: list, units: list) -> dict:
    """End-to-end figures of a measured section: ``sections`` are the (start,
    end) intervals that did the ``ops``, ``units`` those of its units of
    work (micro-batches, or query passes). The full CPU figures are the
    reported ones; wall and engine-CPU figures are logged and kept in the
    traced run's output."""
    walls = [e - s for s, e in units]
    cpus = [sampler.cpu_between(s, e) for s, e in units]
    cpu_tail, p = tail(cpus)
    figs = {
        "ops_per_cpu_s": ops / sum(sampler.cpu_between(s, e) for s, e in sections),
        "epoch_cpu_s_p50": pct(cpus, 50), "epoch_cpu_s_tail": cpu_tail,
        "epoch_engine_cpu_s_p50": pct([sampler.cpu_between(s, e, True) for s, e in units], 50),
        "ops_per_s": ops / sum(e - s for s, e in sections),
        "epoch_s_p50": pct(walls, 50), "epoch_s_tail": tail(walls)[0],
    }
    log(f"{len(units)} units, tail=p{p:g}: "
        + ", ".join(f"{k} {v:.4g}" for k, v in figs.items()))
    log(f"unit cpu-s {[round(c, 2) for c in cpus]}")
    return figs


# -- CDC workloads ------------------------------------------------------------


class Drain:
    """One pipeline run over a source dir, with what it left behind."""

    def __init__(self, pipe, t0: float, t1: float, progress: list) -> None:
        self.pipe, self.t0, self.t1 = pipe, t0, t1
        self.progress = [p for p in progress if p.numInputRows > 0]

    def epochs(self) -> list[tuple[float, float]]:
        """(start, end) of each micro-batch: the trigger's start time and
        its ``triggerExecution`` duration, from the progress feed."""
        out = []
        for p in self.progress:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            out.append((start, start + p.durationMs["triggerExecution"] / 1000))
        return out


def run_pipeline(b: Bench, src: str, work: str, files_per_trigger: int,
                 tracer=None, group: str = "") -> Drain:
    from better_cdc_spark.streaming.pipeline import CDCStreamPipeline

    pipe = CDCStreamPipeline(
        b.spark, src, work, allowlist=ALLOWLIST, max_files_per_trigger=files_per_trigger
    )
    if tracer is not None:
        tracer.wrap_epochs(pipe, group)
    t0 = time.time()
    q = pipe.start()
    try:
        q.processAllAvailable()
        t1 = time.time()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination()
    d = Drain(pipe, t0, t1, progress)
    log(f"drain {t1 - t0:.3f}s, epochs {[round(e - s, 3) for s, e in d.epochs()]}, rows {[p.numInputRows for p in d.progress]}")
    return d


def reference_ids(b: Bench, log_dir: str) -> set[str]:
    """event_ids of normalize_changelog run in batch over a whole log."""
    from better_cdc_spark.cdc.normalize import normalize_changelog
    from better_cdc_spark.schemas import CHANGE_LOG_SCHEMA

    log_df = b.spark.read.schema(CHANGE_LOG_SCHEMA).json(log_dir)
    env = normalize_changelog(log_df, database="testdb", allowlist=ALLOWLIST)
    return set(env.select("event_id").toPandas()["event_id"])


def check_drain(b: Bench, d: Drain, ref: set[str]) -> int:
    """Failed ops of one drain: missing, extra and duplicated sink events
    and rows left in the pending store."""
    ids = b.spark.read.parquet(d.pipe.sink_dir).select("event_id").toPandas()["event_id"]
    dups = len(ids) - ids.nunique()
    got = set(ids)
    missing, extra = len(ref - got), len(got - ref)
    pending = d.pipe.pending().count()
    if dups or missing or extra or pending:
        log(f"CHECK FAILED: missing={missing} extra={extra} dup={dups} pending={pending}")
    return missing + extra + dups + pending


class BacklogWorkload:
    """cdc_drain / cdc_replay: repeated closed drains of one pre-written
    backlog, each into a fresh pipeline work dir."""

    files_per_trigger: int

    def __init__(self, b: Bench) -> None:
        self.b = b
        self.src = b.path("source")
        self.ref_dir = b.path("reference")
        self.n_drains = 0
        self.ref: set[str] | None = None

    def drain(self, tracer=None) -> Drain:
        self.n_drains += 1
        group = f"d{self.n_drains}"
        return run_pipeline(self.b, self.src, self.b.path("work", group),
                            self.files_per_trigger, tracer, group)

    def generate(self) -> None:
        segments, original = self.backlog()
        os.makedirs(self.ref_dir, exist_ok=True)
        with open(os.path.join(self.ref_dir, "log.json"), "wb") as f:
            f.write(gen.dumps(original))
        gen.admit_backlog(segments, self.src, self.b.path("staging"), time.time())
        self.warm_src = self.b.path("warm_source")
        gen.admit_backlog(segments[: WARM_BATCHES * self.files_per_trigger], self.warm_src,
                          self.b.path("warm_staging"), time.time())
        # admitted data ops, redelivered copies included: the work a drain does
        self.n_ops = sum(r["action"] in "IUD" for s in segments for r in s)

    def warm_up(self) -> None:
        """A drain of the backlog's first WARM_BATCHES micro-batches: the
        first runs on a cold JIT and takes several times as long."""
        run_pipeline(self.b, self.warm_src, self.b.path("work", "warm"), self.files_per_trigger)

    def measure(self, seconds: float, tracer=None) -> list[Drain]:
        """Whole drains until ``seconds`` have passed, and at least
        MIN_DRAINS, so a slow host does not halve the sample."""
        drains, t_end = [], time.time() + seconds
        while time.time() < t_end or len(drains) < MIN_DRAINS:
            drains.append(self.drain(tracer))
        return drains

    def figures(self, drains: list[Drain]) -> tuple[dict, int, int]:
        if self.ref is None:
            self.ref = reference_ids(self.b, self.ref_dir)
        failed = sum(check_drain(self.b, d, self.ref) for d in drains)
        ops = self.n_ops * len(drains)
        figs = unit_figures(
            self.b.sampler, ops, [(d.t0, d.t1) for d in drains],
            [e for d in drains for e in d.epochs()],
        )
        return figs, ops, failed


class DrainWorkload(BacklogWorkload):
    files_per_trigger = DRAIN["files_per_trigger"]

    def backlog(self):
        segments = gen.drain_segments(self.b.args.seed, DRAIN["segments"], DRAIN["ops_per_segment"])
        return segments, [r for s in segments for r in s]


class ReplayWorkload(BacklogWorkload):
    files_per_trigger = REPLAY["files_per_trigger"]

    def backlog(self):
        delivered, original, _ = gen.replay_segments(
            self.b.args.seed, REPLAY["segments"], REPLAY["rows_per_segment"],
            REPLAY["open_txs"], REPLAY["tx_ops"], REPLAY["reconnect_every"],
        )
        return delivered, original


# -- query mix ------------------------------------------------------------------


def timed_full_result(df) -> None:
    """The timed action: run the whole plan, keep nothing (never count())."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Pass:
    """One pass of the mix: per query (build s, noop-write s, ok), and the
    pass's start and end."""

    queries: dict[str, tuple[float, float, bool]]
    t0: float
    t1: float


class QueryMix:
    """query_mix: passes over seven registry queries, each timed to its full result."""

    def __init__(self, b: Bench) -> None:
        self.b = b
        self.sf_dir = b.path("data", "sf")
        self.bad: set[str] = set()

    def generate(self) -> None:
        gen.query_tables(self.b.args.seed, QUERY_SF, self.sf_dir)
        from better_cdc_spark.queries import load_all

        self.registry = load_all()

    def warm_up(self) -> None:
        """First pass: collect each full result and compare it with its
        DuckDB oracle (outside any timed section)."""
        from tools.check import compare, duck_connect

        con = duck_connect(self.sf_dir)
        for short, name in QUERIES.items():
            spec = self.registry[name]
            t0 = time.perf_counter()
            try:
                got = spec.fn(self.b.spark, self.sf_dir).toPandas()
                t1 = time.perf_counter()
                problems = compare(name, got, con.execute(spec.oracle).df())
                log(f"checked {name}: spark {t1 - t0:.2f}s, oracle {time.perf_counter() - t1:.2f}s")
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                self.bad.add(short)
                log(f"CHECK FAILED {name}: {problems}")
        con.close()

    def run_pass(self, tracer=None, group: str = "") -> Pass:
        out, start = {}, time.time()
        for short, name in QUERIES.items():
            fn = self.registry[name].fn
            ok = True
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df = fn(self.b.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    timed_full_result(df)
                else:
                    with tracer.span("query", f"{group}:{short}"):
                        with tracer.span(f"{short}.build"):
                            df = fn(self.b.spark, self.sf_dir)
                        t1 = time.perf_counter()
                        with tracer.span(f"{short}.exec"):
                            timed_full_result(df)
            except Exception:
                log(traceback.format_exc())
                ok, t1 = False, time.perf_counter()
            out[short] = (t1 - t0, time.perf_counter() - t1, ok)
        log("pass " + ", ".join(f"{k} {b + e:.3f}s" for k, (b, e, _) in out.items()))
        return Pass(out, start, time.time())

    def measure(self, seconds: float, tracer=None) -> list[Pass]:
        """Whole passes until ``seconds`` have passed."""
        passes, t_end = [], time.time() + seconds
        while time.time() < t_end:
            passes.append(self.run_pass(tracer, f"p{len(passes)}"))
        return passes

    def figures(self, passes: list[Pass]) -> tuple[dict, int, int]:
        """The mix's unit is a pass: its seven queries, each to its full
        result. A median over one pass's seven different queries would
        rest on one or two of them, so the figures are per pass."""
        failed = sum(
            (not ok) or short in self.bad
            for p in passes for short, (_, _, ok) in p.queries.items()
        )
        intervals = [(p.t0, p.t1) for p in passes]
        ops = len(QUERIES) * len(passes)
        return unit_figures(self.b.sampler, ops, intervals, intervals), ops, failed


WORKLOADS = {
    "cdc_drain": DrainWorkload,
    "cdc_replay": ReplayWorkload,
    "query_mix": QueryMix,
}


# -- per-layer figures from spans, progress and the event log ------------------


def attribute(jobs, tracer, top: str) -> dict[str, list]:
    """group -> jobs: by the ``name#group`` job description the spans set,
    else by which top-level span's interval holds the job's submission."""
    tops = [s for s in tracer.spans if s.name == top]
    groups = {s.group for s in tops}
    out: dict[str, list] = {}
    for j in jobs:
        g = j.description.rsplit("#", 1)[-1] if "#" in j.description else None
        if g not in groups:
            t = j.submit_ms / 1000
            g = next((s.group for s in tops if s.start <= t <= s.end), None)
        if g is not None:
            out.setdefault(g, []).append(j)
    return out


def layer_jobs(jobs, prefix: str):
    return [j for j in jobs if j.description.startswith(prefix + "#")]


def cdc_layers(tracer, jobs, drains: list[Drain]) -> dict[str, float]:
    epochs = [s for s in tracer.spans if s.name == "epoch"]
    n = max(len(epochs), 1)

    def span_s(*names: str) -> float:
        return sum(s.s for s in tracer.spans if s.name in names) / n

    def job_sum(prefix: str, key: str) -> int:
        return eventlog.totals(layer_jobs(jobs, prefix))[key]

    progress = [p for d in drains for p in d.progress]
    rows_in = sum(p.numInputRows for p in progress)
    # the merge job's input records are the checkpointed batch plus the
    # carried pending rows
    carried = job_sum("pending.merge", "input_records") - rows_in
    after = tracer.counts.get("pending.rows_after_dedup", 0)
    env_rows = tracer.counts.get("normalize.rows_out", 0)
    written = job_sum("sink.write", "output_records")
    # the engine's jobs only: the tracer's own row counts are trace.count_s
    ep_jobs = [
        j for js in attribute(jobs, tracer, "epoch").values() for j in js
        if not j.description.startswith("trace.count#")
    ]
    tot = eventlog.totals(ep_jobs)

    def dur(key: str) -> float:
        return sum(p.durationMs.get(key, 0) for p in progress) / 1000 / max(len(progress), 1)

    return {
        "decode.s": span_s("decode"),
        "decode.rows": rows_in / n,
        "decode.bytes": job_sum("decode", "input_bytes") / n,
        "pending.s": span_s("pending.read", "pending.merge", "pending.write"),
        "pending.write_s": span_s("pending.write"),
        "pending.rows_carried": carried / n,
        "pending.dup_rows_dropped": (rows_in + carried - after) / n,
        "normalize.s": span_s("normalize"),
        "normalize.rows_out": env_rows / n,
        "sink.span_s": span_s("sink.span"),
        "sink.write_s": span_s("sink.read", "sink.write"),
        "sink.dedup_bytes_read": job_sum("sink.write", "scan_bytes") / n,
        "sink.rows_written": written / n,
        "sink.useful_ratio": written / env_rows if env_rows else 0.0,
        "sink.useful_base": env_rows,
        "trigger.s": dur("triggerExecution") - dur("addBatch"),
        "trigger.latest_offset_s": dur("latestOffset"),
        "trigger.wal_commit_s": dur("walCommit") + dur("commitOffsets"),
        "epoch.count": len(epochs),
        "epoch.jobs": tot["jobs"] / n,
        "epoch.tasks": tot["tasks"] / n,
        "epoch.executor_run_s": tot["executor_run_ms"] / 1000 / n,
        "epoch.gc_s": tot["gc_ms"] / 1000 / n,
        "epoch.shuffle_bytes": (tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"]) / n,
        "epoch.spill_bytes": tot["spill_bytes"] / n,
        "epoch.untraced_s": sum(tracer.self_time(s) for s in epochs) / n,
    }


def query_layers(tracer, jobs, passes: list[Pass]) -> dict[str, float]:
    by_query = attribute(jobs, tracer, "query")
    out = {}
    for short in QUERIES:
        runs = [p.queries[short] for p in passes]
        n = max(len(runs), 1)
        js = [j for g, v in by_query.items() if g.endswith(":" + short) for j in v]
        tot = eventlog.totals(js)
        out.update({
            f"{short}.wall_s": sum(b + e for b, e, _ in runs) / n,
            f"{short}.build_s": sum(b for b, _, _ in runs) / n,
            f"{short}.exec_s": sum(e for _, e, _ in runs) / n,
            f"{short}.jobs": tot["jobs"] / n,
            f"{short}.shuffle_bytes": (tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"]) / n,
            f"{short}.spill_bytes": tot["spill_bytes"] / n,
            f"{short}.gc_s": tot["gc_ms"] / 1000 / n,
            f"{short}.python_bytes": tot["python_bytes"] / n,
        })
    return out


# -- driver -----------------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    })


def run(b: Bench) -> str:
    args = b.args
    w = WORKLOADS[args.workload](b)
    session_s = b.setup_sessions()
    t0 = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    w.warm_up()
    warm_s = time.perf_counter() - t0
    log(f"setup: session {session_s:.3f}s, inputs {gen_s:.3f}s, warm-up {warm_s:.3f}s")
    h0 = host_cpu_ticks()
    untraced = w.measure(args.seconds)
    dh = [y - x for x, y in zip(h0, host_cpu_ticks())]
    # CPU time stolen from this VM by the hypervisor: it sets the wall figures
    log(f"host steal {dh[7] / sum(dh):.4f} while measuring")
    b.sampler.sample()
    figs, attempted, failed = w.figures(untraced)
    figs.update(setup_s=session_s + gen_s + warm_s, peak_rss_mib=b.sampler.peak_kib / 1024)
    if not args.trace:
        return result_line(failed == 0, attempted, failed, figs, END_TO_END)

    # traced measurement with the event log on, bracketed by untraced ones
    # with it off, so the overhead counts both spans and event log
    b.start_session(event_log=True)
    tracer = spans.Tracer(b.spark)
    if not isinstance(w, QueryMix):
        tracer.install_cdc()
    try:
        traced = w.measure(args.seconds, tracer)
    finally:
        tracer.uninstall()
    t_figs, t_att, t_failed = w.figures(traced)
    b.start_session(event_log=False)  # also closes the event log
    jobs = eventlog.read_jobs(b.eventlog_dir)
    after, a_att, a_failed = w.figures(w.measure(args.seconds))
    # engine CPU: the JIT's compile work falls across the sections
    key = "epoch_engine_cpu_s_p50"
    base = (figs[key] + after[key]) / 2
    layers = {
        "trace.overhead_s": t_figs[key] - base,
        "trace.overhead_ratio": (t_figs[key] - base) / base,
        "trace.count_s": sum(s.s for s in tracer.spans if s.name == "trace.count")
        / max(sum(s.name == "epoch" for s in tracer.spans), 1),
    }
    if isinstance(w, QueryMix):
        layers.update(query_layers(tracer, jobs, traced))
    else:
        layers.update(cdc_layers(tracer, jobs, traced))
    out_dir = os.path.join(b.root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed,
            "untraced": figs, "traced": t_figs, "untraced_after": after,
            "per_layer": layers, "spans": tracer.to_json(),
            "jobs": [vars(j) for j in jobs],
        }, f, indent=1, default=str)
    failed += t_failed + a_failed
    attempted += t_att + a_att
    return result_line(failed == 0, attempted, failed, layers, per_layer_units())


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=CPUS,
                   help="Spark local[N] cores (default: every core this process may use)")
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "better_cdc_spark", "streaming", "pipeline.py")):
        print(f"perfbench: no better_cdc_spark package under {root}; "
              "run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    b = Bench(root, args)
    try:
        with b.sampler:
            line = run(b)
    finally:
        b.close()
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
