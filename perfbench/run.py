#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client, one operation in
flight, one process, a session sized from the host.

    python3 perfbench/run.py --workload sf0.1 --seed 1 --seconds 5 --trace 0

Workloads (see README.md in this directory for why each exists):
  sf0.1        the batch set on the sf0.1 fixture (regenerated by gen.py)
  x10          the same batch set on that fixture replicated ten times
  stream       q_stream_replay run to completion
  player-crud  a seeded command/read mix against a fresh PlayerStore

The sf0.1 tables are generated once per checkout, untimed. Set-up (session
start, the workload's fixture or split build, and a warm-up) is timed as
``setup_s``. Then whole passes over the workload's operations run until
``--seconds`` have passed; after each pass, outside its timing, every
output of the pass is checked. With ``--trace 1`` the same number of seconds
is run again traced, then once more untraced as the base of the tracing
overhead, and the per-layer metrics replace the end-to-end ones. The last
line of stdout is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
STATE = BENCH / ".state"
sys.path[:0] = [str(BENCH), str(REPO)]

import metrics as M  # noqa: E402  (the benchmark's own modules)
from layers import RssSampler, SparkProbe, Tracer  # noqa: E402

# bench.py's 13 headline queries, kept for continuity with its history,
# plus a distributed-rank query, a graph query with lineage barriers and
# a driver-side construction loop, and the minhash near-dedup pipeline.
BATCH_SET = (
    "q_replay_projection", "q_agg_groupby", "q_join_sortmerge", "q_join_broadcast",
    "q_win_running", "q_topk", "q_udtf_explode", "q_dedup_exact", "q_text_tfidf",
    "q_sim_topk", "q_tpch_q3_shape", "q_tpch_q5_shape", "q_pipeline_curate",
    "q_win_ntile", "q_graph_bfs", "q_dedup_near_minhash",
)
STREAM_QUERY = "q_stream_replay"

# Reported every run. Only those in END_TO_END are steady enough across
# runs to bound; peak RSS follows the JVM's garbage collections, the tail
# needs more operations than one run of most workloads makes, and the
# others exist for one workload only (the ``extra`` of each workload).
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s", "session.tune_s": "s",
    "construct_s": "s", "construct.jobs": "count",
    "catalog.table_s": "s", "catalog.scans": "count",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "exec_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.busy_ratio": "ratio", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_read_bytes": "B", "exec.spill_bytes": "B",
    "exec.input_bytes": "B", "exec.output_rows": "count", "exec.python_rows": "count",
    "ckpt.barriers": "count", "ckpt.bytes": "B",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.commit_offsets_ms": "ms", "stream.state_rows": "count",
    "stream.state_bytes": "B", "stream.processed_rows_per_s": "1/s", "stream.split_s": "s",
    "player.create_s": "s", "player.update_s": "s", "player.delete_s": "s",
    "player.get_s": "s", "player.find_all_s": "s", "player.jobs_per_op": "count",
    "player.log_files": "count",
    "trace.overhead_ratio": "ratio",
    **{f"{q}.{m}": u for q in BATCH_SET for m, u in
       (("construct_s", "s"), ("plan_ms", "ms"), ("exec_s", "s"))},
}


# ---------------------------------------------------------------- host

def size_host() -> dict:
    """Cores from the CPU affinity mask and a driver heap of 40% of
    physical memory, exported through the engine's deployment overrides
    before the session exists. Spark's scratch, checkpoints and the JVMs'
    temp files go under the benchmark's state directory."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    heap_gb = max(1, int(mem_kb / 2**20 * 0.4))
    tmp = STATE / "tmp"
    for d in (tmp, STATE / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_gb}g",
        "SPARK_GRAFT_CKPT_DIR": str(STATE / "ckpt"),
        "SPARK_LOCAL_DIRS": str(STATE / "spark-local"),
        "TMPDIR": str(tmp),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "{jvm_opts}" '
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    return {"cores": cores, "mem_gb": round(mem_kb / 2**20, 1), "heap": f"{heap_gb}g"}


def revision() -> str:
    """The git revision when run from a clone, else a digest of the
    engine's sources (a plain checkout has no .git)."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        import hashlib

        h = hashlib.sha256()
        for p in sorted((REPO / "pokertracker_cassandra_st_spark").rglob("*.py")):
            h.update(p.read_bytes())
        return "src-" + h.hexdigest()[:12]


# ------------------------------------------------------------ fixtures

def build_fixture(name: str) -> str:
    """The named fixture's directory. The sf0.1 tables never change, so
    ``gen.py`` writes them once per checkout (into a side directory that
    is renamed when complete); x10 is rebuilt from them on every call."""
    import gen

    base = STATE / "data"
    sf = base / "sf0.1"
    if not sf.is_dir():
        partial = base / "sf0.1.partial"
        shutil.rmtree(partial, ignore_errors=True)
        gen.build(str(partial))
        partial.rename(sf)
    if name == "sf0.1":
        return str(sf)
    sys.path.insert(0, str(REPO / "tools"))
    import scale_check

    scale_check.SRC = str(sf)
    shutil.rmtree(base / "x10", ignore_errors=True)
    return scale_check.build(str(base / "x10"), 10)


def load_expected() -> dict:
    with open(BENCH / "expected.json") as f:
        return json.load(f)


# ------------------------------------------------------------ the run

class Run:
    """State of one benchmark process: the session, the seeded RNG, the
    operation counters and, in the traced phase, the tracer and probe."""

    def __init__(self, spark, seed: int) -> None:
        self.spark = spark
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.deferred: list = []  # checks an operation left for after its pass
        self.tracer: Tracer | None = None
        self.probe: SparkProbe | None = None
        self.layer: dict[str, list[float]] = {}  # per-layer samples, traced phase

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", file=sys.stderr, flush=True)

    def attempt(self, call) -> float | None:
        """Run one operation; its latency, or None when it failed."""
        self.attempted += 1
        try:
            return call()
        except Exception as exc:  # noqa: BLE001 — a failed operation is a result
            self.fail(f"{type(exc).__name__}: {exc}")
            return None

    def note(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)


class WrongAnswer(Exception):
    """An operation completed but its answer disagrees with the model."""


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def check_outputs(run: Run, fixture: str, outputs: dict, threads: int = 1) -> None:
    """One correctness check per query: collect the DataFrame each
    ``outputs[q]()`` returns, on ``threads`` threads, and compare its hash
    with the one pinned for ``q`` on ``fixture``."""

    def collect(q):
        try:
            return q, M.frame_hash(outputs[q]().toPandas())
        except Exception as exc:  # noqa: BLE001 — a failing query is a result
            return q, exc

    expected = load_expected().get(fixture, {})
    with ThreadPoolExecutor(threads) as pool:
        for q, got in pool.map(collect, outputs):
            run.attempted += 1
            if isinstance(got, Exception):
                run.fail(f"{fixture}/{q}: {type(got).__name__}: {got}")
            elif got != expected.get(q):
                run.fail(f"{fixture}/{q}: result hash {got[:12]} != pinned {str(expected.get(q))[:12]}")


def invoke(run: Run, q: str, sf: str):
    """One query invocation: construct, then execute to the noop sink.
    Returns its latency and the DataFrame. Traced, it is split into
    construct -> plan -> execute spans with the Spark counters of each
    part."""
    from pokertracker_cassandra_st_spark.registry import REGISTRY
    from pokertracker_cassandra_st_spark.session import tune

    fn = REGISTRY[q].fn
    t, p = run.tracer, run.probe
    if t is None:
        t0 = time.perf_counter()
        df = fn(run.spark, sf)
        _noop(df)
        return time.perf_counter() - t0, df
    op = f"{q}-{len(t.spans)}"
    with t.span("session.tune", op) as s:
        tune(run.spark)
    run.note("session.tune_s", s["end"] - s["start"])
    blocks0, execs0 = p.rdd_blocks(), p.executions()
    with t.span("invoke", op, query=q) as inv:
        p.set_group(f"{op}:construct")
        with t.span("construct", op) as c:
            df = fn(run.spark, sf)
        with t.span("plan", op) as pl:
            phases = p.plan_phases(df)
        p.set_group(f"{op}:execute")
        with t.span("execute", op) as e:
            _noop(df)
    p.settle()
    ex = p.job_stats(f"{op}:execute")
    out_rows, py_rows = p.sql_rows(execs0)
    barriers = {k: v for k, v in p.rdd_blocks().items() if k not in blocks0}
    sample = {
        "construct_s": c["end"] - c["start"], "construct.jobs": len(p.jobs(f"{op}:construct")),
        "catalog.scans": p.parquet_relations(df),
        **{f"plan.{k}_ms": v for k, v in phases.items()},
        "exec_s": e["end"] - e["start"], "exec.jobs": ex["jobs"], "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"], "exec.failed_tasks": ex["failed_tasks"],
        "exec.run_s": ex["run_ms"] / 1000, "exec.gc_s": ex["gc_ms"] / 1000,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
        "exec.spill_bytes": ex["spill_bytes"], "exec.input_bytes": ex["input_bytes"],
        "exec.output_rows": out_rows, "exec.python_rows": py_rows,
        "ckpt.barriers": len(barriers), "ckpt.bytes": sum(barriers.values()),
    }
    pl.update(phases)
    e.update(sample)
    for k, v in sample.items():
        run.note(k, v)
    run.note(f"{q}.construct_s", sample["construct_s"])
    run.note(f"{q}.plan_ms", sum(phases.values()))
    run.note(f"{q}.exec_s", sample["exec_s"])
    return inv["end"] - inv["start"], df


class BatchWorkload:
    """One operation = one query invocation, from ``fn(spark, sf_dir)``
    until the noop sink completes. A pass runs the batch set once, in an
    order the seed permutes; after an untraced pass its DataFrames are
    collected again and checked against the pins."""

    def __init__(self, fixture: str) -> None:
        self.fixture = fixture
        # The warm-up pass and the checks run one query per core at sf0.1:
        # one query alone keeps the cores about a third busy. x10's
        # heaviest queries need the heap to themselves.
        self.threads = len(os.sched_getaffinity(0)) if fixture == "sf0.1" else 1

    def setup(self, run: Run) -> None:
        from pokertracker_cassandra_st_spark.registry import REGISTRY

        self.sf = build_fixture(self.fixture)
        names = list(BATCH_SET)
        run.rng.shuffle(names)

        def warm(q):
            try:
                _noop(REGISTRY[q].fn(run.spark, self.sf))
                return None
            except Exception as exc:  # noqa: BLE001 — a failing query is a result
                return exc

        with ThreadPoolExecutor(self.threads) as pool:
            for q, exc in zip(names, pool.map(warm, names)):
                if exc is not None:
                    run.attempted += 1
                    run.fail(f"{self.fixture}/{q} warm-up: {type(exc).__name__}: {exc}")

    def ops(self, run: Run):
        names = list(BATCH_SET)
        run.rng.shuffle(names)
        outputs = {}
        for q in names:
            yield "query", lambda q=q: self._query(run, q, outputs)
        if run.tracer is None:
            run.deferred.append(lambda: check_outputs(run, self.fixture, outputs, self.threads))

    def _query(self, run: Run, q: str, outputs: dict) -> float:
        latency, df = invoke(run, q, self.sf)
        outputs[q] = lambda: df
        return latency

    def trace_done(self, run: Run) -> None:
        from pokertracker_cassandra_st_spark import catalog

        for name in catalog.TABLES:
            for _ in range(3):
                t0 = time.perf_counter()
                catalog.table(run.spark, self.sf, name)
                run.note("catalog.table_s", time.perf_counter() - t0)

    def extra(self, samples) -> dict:
        return {}


class StreamWorkload:
    """One operation = one ``q_stream_replay`` run to completion: the
    events in 4 micro-batches through an ``applyInPandasWithState`` fold,
    then the projection over the memory sink to the noop sink.

    There is no warm-up replay: the first replay of a session is the one
    timed. Rebuilding the read model from the log in a fresh process is
    what a query service does when it starts, and a second replay per run
    would not fit the benchmark's time budget. Each replay's output is
    checked after it is timed; the sink holds it, so the check runs no
    stream."""

    fixture = "sf0.1"

    def setup(self, run: Run) -> None:
        from pokertracker_cassandra_st_spark.streaming import runner

        self.sf = build_fixture(self.fixture)
        # the split cache and the checkpoints live in the benchmark's state
        scratch = STATE / "stream"
        shutil.rmtree(scratch, ignore_errors=True)
        runner.SCRATCH = str(scratch)
        t0 = time.perf_counter()
        runner.stream_events(run.spark, self.sf, n_files=4)  # builds the split cache
        self.split_s = time.perf_counter() - t0
        self.listener = None

    def ops(self, run: Run):
        yield "replay", lambda: self._replay(run)

    def _replay(self, run: Run) -> float:
        if run.tracer is None:
            latency, df = invoke(run, STREAM_QUERY, self.sf)
            run.deferred.append(lambda: check_outputs(run, self.fixture, {STREAM_QUERY: lambda: df}))
            return latency
        if self.listener is None:
            self.listener = _progress_listener()
            run.spark.streams.addListener(self.listener)
        progress = self.listener.progress
        progress.clear()
        latency, _ = invoke(run, STREAM_QUERY, self.sf)
        run.probe.settle()
        run.note("stream.batches", len(progress))
        for key in ("trigger_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
                    "processed_rows_per_s"):
            vals = [p[key] for p in progress if p[key] is not None]
            run.note(f"stream.{key}", statistics.median(vals) if vals else 0)
        last = progress[-1] if progress else {}
        run.note("stream.state_rows", last.get("state_rows", 0))
        run.note("stream.state_bytes", last.get("state_bytes", 0))
        return latency

    def trace_done(self, run: Run) -> None:
        if self.listener is not None:
            run.spark.streams.removeListener(self.listener)
        run.note("stream.split_s", self.split_s)

    def extra(self, samples) -> dict:
        events = 100_000  # rows of the sf0.1 events table
        return {"events_per_s": (M.ratio(events, statistics.median(s for _, s in samples)), "1/s")}


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            d, ops = p.durationMs, p.stateOperators
            self.progress.append({
                "trigger_ms": d.get("triggerExecution"), "add_batch_ms": d.get("addBatch"),
                "wal_commit_ms": d.get("walCommit"), "commit_offsets_ms": d.get("commitOffsets"),
                "processed_rows_per_s": p.processedRowsPerSecond if p.numInputRows else None,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


class PlayerWorkload:
    """One operation = one command or read against ``PlayerStore``. A
    pass is a fresh event log and the seeded mix of ``metrics.PASS_MIX``;
    every answer is checked against an in-memory model. Set-up runs each
    kind of operation on a log of its own as warm-up (``metrics.WARM_UP``),
    so the first call of each kind is not the one timed."""

    def setup(self, run: Run) -> None:
        self.dir = STATE / "player"
        for _kind, call in self.ops(run, M.WARM_UP):
            run.attempt(call)

    def ops(self, run: Run, schedule=None):
        from pokertracker_cassandra_st_spark.player_api import PlayerStore

        shutil.rmtree(self.dir, ignore_errors=True)
        store, model = PlayerStore(run.spark, str(self.dir)), M.PlayerModel()
        for kind in schedule or M.player_schedule(run.rng):
            op = M.next_player_op(run.rng, model, kind)
            yield kind, lambda op=op: self._call(run, store, model, op)
        if run.tracer is not None:
            run.note("player.log_files", len(glob.glob(f"{store.path}/*.parquet")))
        shutil.rmtree(self.dir, ignore_errors=True)

    def _call(self, run: Run, store, model, op) -> float:
        kind, t = op[0], run.tracer
        if t is None:
            t0 = time.perf_counter()
            result = M.apply_player_op(store, op)
            latency = time.perf_counter() - t0
        else:
            from pokertracker_cassandra_st_spark.session import tune

            name = f"player-{len(t.spans)}"
            with t.span("session.tune", name) as s:
                tune(run.spark)
            run.note("session.tune_s", s["end"] - s["start"])
            run.probe.set_group(name)
            with t.span("invoke", name, query=kind) as sp:
                result = M.apply_player_op(store, op)
            latency = sp["end"] - sp["start"]
            run.probe.settle()
            run.note(f"player.{kind}_s", latency)
            run.note("player.jobs_per_op", len(run.probe.jobs(name)))
        if not M.check_player_op(model, op, result):
            raise WrongAnswer(f"{op} returned {result!r}")
        return latency

    def trace_done(self, run: Run) -> None:
        pass

    def extra(self, samples: list[tuple[str, float]]) -> dict:
        writes = [s for k, s in samples if k in M.WRITES]
        reads = [s for k, s in samples if k in M.READS]
        return {"write_p50_s": (statistics.median(writes), "s"),
                "read_p50_s": (statistics.median(reads), "s")}


WORKLOADS = {
    "sf0.1": lambda: BatchWorkload("sf0.1"),
    "x10": lambda: BatchWorkload("x10"),
    "stream": StreamWorkload,
    "player-crud": PlayerWorkload,
}


# ------------------------------------------------------- measurement

def measure(run: Run, wl, seconds: float) -> tuple[list[tuple[str, float]], list[float]]:
    """Whole passes until ``seconds`` have passed (at least one). Returns
    (kind, latency) per successful operation and the wall of each pass."""
    samples, walls = [], []
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        for kind, call in wl.ops(run):
            latency = run.attempt(call)
            if latency is not None:
                samples.append((kind, latency))
        walls.append(time.perf_counter() - t0)
        for check in run.deferred:  # outside the timed pass
            check()
        run.deferred.clear()
        if time.perf_counter() - t_start >= seconds:
            return samples, walls


# Per-layer counts and times that add up over a pass; reported per pass.
PASS_TOTALS = {
    "construct_s", "construct.jobs", "catalog.scans", "plan.analysis_ms",
    "plan.optimization_ms", "plan.planning_ms", "exec_s", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.failed_tasks", "exec.gc_s", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_bytes", "exec.output_rows",
    "exec.python_rows", "ckpt.barriers", "ckpt.bytes",
}


def per_layer(run: Run, passes: int, cores: int, traced_wall: float, wall: float) -> dict:
    """Reduce the traced samples: pass totals averaged over the traced
    passes, ratios from their bases, everything else as a median. A layer
    the workload does not reach reads 0."""
    got = run.layer
    out = {}
    for name in PER_LAYER:
        vals = got.get(name, [])
        if name in PASS_TOTALS:
            out[name] = sum(vals) / passes
        elif name == "player.jobs_per_op":
            out[name] = sum(vals) / len(vals) if vals else 0
        else:
            out[name] = statistics.median(vals) if vals else 0
    exec_s = sum(got.get("exec_s", []))
    out["exec.busy_ratio"] = M.ratio(sum(got["exec.run_s"]), exec_s * cores) if exec_s else 0
    out["trace.overhead_ratio"] = M.ratio(traced_wall, wall)
    return out


def end_to_end(setup_s: float, samples, walls) -> dict:
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        "op_p50_s": statistics.median(s for _, s in samples),
    }


def shutdown(spark, pids: set[int]) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started (the JVM, its Python daemon and workers) to end."""
    import signal

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    others = pids - {os.getpid()}
    deadline = time.monotonic() + 30
    while (alive := {p for p in others if os.path.exists(f"/proc/{p}")}) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    host = size_host()
    try:
        import pyspark
        from pokertracker_cassandra_st_spark.registry import get_queries
        from pokertracker_cassandra_st_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    build_fixture("sf0.1")  # the inputs, generated once per checkout
    sampler = RssSampler().start()
    t0 = time.perf_counter()
    get_queries()
    t_session = time.perf_counter()
    spark = get_spark("perfbench")
    start_s = time.perf_counter() - t_session
    run = Run(spark, args.seed)
    wl = WORKLOADS[args.workload]()
    wl.setup(run)
    setup_s = time.perf_counter() - t0
    samples, walls = measure(run, wl, args.seconds)

    trace_path = None
    if args.trace:
        run.tracer, run.probe = Tracer(), SparkProbe(spark)
        _, traced_walls = measure(run, wl, args.seconds)
        wl.trace_done(run)
        tracer, run.tracer = run.tracer, None
        # the overhead's base: untraced passes as warm as the traced ones
        _, base_walls = measure(run, wl, args.seconds)
        run.note("session.start_s", start_s)
        trace_path = STATE / "trace" / f"{args.workload}-seed{args.seed}.jsonl"
        tracer.write_jsonl(str(trace_path))
    peak_mb = sampler.stop()

    sc = spark.sparkContext
    env = {
        "master": sc.master, "defaultParallelism": sc.defaultParallelism,
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "cores": host["cores"], "mem_gb": host["mem_gb"],
        "heap": spark.conf.get("spark.driver.memory"),
        "pyspark": pyspark.__version__, "revision": revision(),
    }
    shutdown(spark, sampler.seen)

    failed = len(run.failures)
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    print("# " + json.dumps(env))
    print(f"# passes={len(walls)} operations={len(samples)} attempted={run.attempted} "
          f"failed={failed} verdict={'CORRECT' if not failed else 'WRONG'}")
    e2e = end_to_end(setup_s, samples, walls)
    for name, value in e2e.items():
        print(f"{name} {value:.6g} {END_TO_END[name]}")
    tail = M.tail([s for _, s in samples])
    if tail is None:
        print(f"op_tail_s n/a (n={len(samples)}; a tail needs more than {2 * M.TAIL_BEYOND} operations)")
    else:
        print(f"op_tail_s {tail[0]:.6g} s (p{tail[1]:.4g}, n={tail[2]})")
    extra = {"fail_ratio": (M.ratio(failed, run.attempted), "ratio"),
             "peak_rss_mb": (peak_mb, "MB"), **wl.extra(samples)}
    for name, (value, unit) in extra.items():
        print(f"{name} {value:.6g} {unit}")
    if args.trace:
        layer = per_layer(run, len(traced_walls), host["cores"],
                          statistics.median(traced_walls), statistics.median(base_walls))
        for name, value in layer.items():
            print(f"{name} {value:.6g} {PER_LAYER[name]}")
        print(f"# spans: {trace_path}")
        chosen = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        chosen = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": chosen}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
