"""End-to-end benchmark of the PySpark analytics engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One fresh process, one closed-loop
client: the next query (or the next stream file) is issued only after
the previous one has finished. The engine is driven only through its
public surfaces (``__spark_entry__.queries()``, ``session.get_session``,
``streaming.frequent_stream``, ``sources.readers``) on
``local[<nproc>]`` with the engine's own session defaults. The seed sets
the query order within each pass and the stream's file cut points; no
result depends on it.

Prints one JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The full artifact (environment, per-query
detail, spans) is written to ``--artifact``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import tracing  # noqa: E402

WORKLOADS = {
    "paper_core": {
        "data": "sf0.01",
        "queries": [
            "c6_exact_outliers", "c7_approx_outliers_summary",
            "o2_smallest_cells_topk", "c3_mrfft_radius",
            "c8_fft_radius_outliers", "c5_radius_fixed_centers",
            "t4_true_frequent_items", "t5_reservoir_report",
            "t6_sticky_report",
        ],
    },
    "stream_hw3": {"data": "sf0.1", "stream": True},
}
MIN_PASSES = 3
STREAM_FILES = 100
STREAM_WARMUP = 12
MIN_TIMED_BATCHES = 10
# A timed round is clean when the hypervisor stole less than this share of
# host CPU time while it ran; a run on a contended host may go on for up
# to EXTRA_S past --seconds to collect enough clean rounds.
STEAL_MAX = 0.03
EXTRA_S = 10.0
COMMIT_TIMEOUT_S = 60.0
EXCEPTION_CHECK_S = 0.1

E2E_UNITS = {"setup_s": "s", "round_s": "s", "query_geomean_s": "s"}
# Measured and kept in the artifact's ``detail.also_measured``, but not
# end-to-end metrics: a run has too few rounds for a p90 with ten samples
# beyond it, throughput restates the round latency, and the JVM grows its
# heap at different moments in identical runs (see results/README.md).
ALSO_MEASURED_UNITS = {"batch_p90_s": "s", "rows_per_s": "1/s",
                       "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "session.start_s": "s",
    "operators.build_s": "s", "operators.eager_jobs": "count",
    "operators.build_self_s": "s",
    "exec.collect_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_frac": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB",
    "shuffle.write_records": "count", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "sources.input_mb": "MB", "sources.input_records": "count",
    "functions.python_nodes": "count", "functions.python_run_s": "s",
    "functions.python_mb_sent": "MB", "functions.python_rows_out": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.log_commit_s": "s", "streaming.planning_s": "s",
    "streaming.poll_wait_s": "s", "streaming.sink_collect_s": "s",
    "streaming.sink_fold_s": "s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.state_commit_s": "s",
}


def process_start_perf() -> float:
    """``time.perf_counter()`` reading at the moment this process was
    created (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.perf_counter() - max(age, 0.0)


def proc_stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first,
    then the parent pid), or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def running(pid: int) -> bool:
    fields = proc_stat(pid)
    return fields is not None and fields[0] != "Z"


def descendants(root: int) -> list[int]:
    """Live processes below ``root`` in the process tree."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        fields = proc_stat(d) if d.isdigit() else None
        if fields is not None and fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for kid in kids.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def stop_engine(spark, timeout: float = 60.0) -> None:
    """Stop Spark, close the JVM gateway's stdin (it exits on EOF) and
    wait until the JVM and every process it started have ended."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)
    deadline = time.time() + timeout
    while any(running(p) for p in started) and time.time() < deadline:
        time.sleep(0.05)


class MemSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver Python, JVM, Python workers), sampled from /proc. Processes
    under ``PSS_BELOW`` resident count their proportional set size, so
    pages the forked Python workers share with their daemon count once;
    larger ones (the JVM) count their resident set, which is cheaper to
    read and, for a process that shares little, nearly the same."""

    PSS_BELOW = 512 * 2**20

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def rss(self, pid: int) -> int:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * self._page
        if rss >= self.PSS_BELOW:
            return rss
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
        return rss

    def sample_tree(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                total += self.rss(pid)
            except (OSError, ValueError, IndexError):
                pass  # the process ended between listing and reading
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self.sample_tree())

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.peak = max(self.peak, self.sample_tree())


def cpu_times() -> list[int]:
    """Host-wide jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def result_hash(rows, columns: list[str]) -> str:
    """Order-insensitive value hash: columns sorted by name, rows sorted."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    norm = sorted((tuple(r[i] for i in order) for r in rows), key=repr)
    return hashlib.sha256(repr(norm).encode()).hexdigest()


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``xs``."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class Bench:
    """State of one benchmark run."""

    def __init__(self, args, t_proc: float) -> None:
        self.args = args
        self.t_proc = t_proc
        self.spec = WORKLOADS[args.workload]
        self.scale = args.scale or self.spec["data"]
        self.data_dir = os.path.join(BENCH, "data", self.scale)
        self.work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
        self.spans = tracing.Spans() if args.trace else None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
        self.detail: dict = {}

    # -- failures ---------------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    # -- environment ------------------------------------------------------

    def env(self, spark, seed: int) -> dict:
        sc = spark.sparkContext
        conf = spark.conf
        commit = None
        if os.path.isdir(os.path.join(ROOT, ".git")):
            out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                 capture_output=True, text=True, check=False)
            commit = out.stdout.strip() or None
        return {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory", None),
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "nproc": len(os.sched_getaffinity(0)),
            "git_commit": commit,
            "seed": seed,
            "scale": self.scale,
        }


def host_cpu(start: list[int]) -> dict[str, float]:
    """Share of host CPU time busy and stolen by the hypervisor since
    ``start``: a run on a contended host shows here."""
    spent = [end - begin for begin, end in zip(start, cpu_times())]
    total = max(sum(spent), 1)
    return {"busy_frac": 1 - (spent[3] + spent[4]) / total,
            "steal_frac": spent[7] / total}


class TimedRegion:
    """The timed region of a run and the host CPU steal during each round.

    It lasts ``seconds`` and at least ``need`` rounds. When fewer than
    ``need`` rounds are clean (see ``STEAL_MAX``), it runs on for up to
    ``EXTRA_S`` more. The metrics use the clean rounds, or the ``need``
    rounds with the least steal when there are still too few."""

    def __init__(self, seconds: float, need: int) -> None:
        self.seconds, self.need = seconds, need
        self.t0 = time.perf_counter()
        self.cpu0 = cpu_times()
        self.steal: list[float] = []
        self._round_cpu = self.cpu0

    def more(self) -> bool:
        elapsed = time.perf_counter() - self.t0
        if len(self.steal) < self.need or elapsed < self.seconds:
            return True
        return (len(self.clean()) < self.need
                and elapsed < self.seconds + EXTRA_S)

    def start_round(self) -> None:
        self._round_cpu = cpu_times()

    def end_round(self) -> None:
        self.steal.append(host_cpu(self._round_cpu)["steal_frac"])

    def clean(self) -> list[int]:
        return [i for i, s in enumerate(self.steal) if s < STEAL_MAX]

    def kept(self) -> list[int]:
        clean = self.clean()
        if len(clean) >= self.need:
            return clean
        least = sorted(range(len(self.steal)), key=self.steal.__getitem__)
        return sorted(least[:self.need])

    def summary(self) -> dict:
        """Call when the region ends; goes to the artifact's detail."""
        return {"wall_s": time.perf_counter() - self.t0,
                "host_cpu": host_cpu(self.cpu0), "steal_max": STEAL_MAX,
                "round_steal_frac": self.steal, "kept_rounds": self.kept()}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------


def run_batch(b: Bench, spark, entry) -> dict:
    names = b.spec["queries"]
    registry = entry.queries()
    with open(os.path.join(BENCH, "expected.json")) as f:
        expected = json.load(f)[b.scale]
    store = tracing.StatusStore(spark) if b.spans is not None else None
    rng = random.Random(b.args.seed)
    sc = spark.sparkContext
    run_span = b.spans.add("run", "run", time.time(), 0.0) if b.spans else None
    lat: dict[str, dict[int, float]] = {n: {} for n in names}
    per_query_layer: dict[str, dict[str, list[float]]] = {n: {} for n in names}
    pass_times: list[float] = []
    rows_out = 0

    def invoke(name: str, pass_span, timed: int | None) -> float:
        """Run one query; ``timed`` is the timed pass's index, or None."""
        nonlocal rows_out
        b.attempted += 1
        group = f"{name}#{b.attempted}"
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            df = registry[name](spark, b.data_dir)
            t1 = time.time()
            rows = df.collect()
            t2 = time.time()
        except Exception as e:  # noqa: BLE001 — a failed query is a failed op
            b.fail(f"{name}: {type(e).__name__}: {e}")
            return time.time() - t0
        got = result_hash(rows, df.columns)
        if got != expected[name]["sha256"]:
            b.fail(f"{name}: result hash {got[:12]} != expected "
                   f"{expected[name]['sha256'][:12]} ({len(rows)} rows)")
        if timed is not None:
            lat[name][timed] = t2 - t0
            rows_out += len(rows)
        if b.spans is not None:
            layer = trace_query(b, store, group, name, pass_span, t0, t1, t2)
            if timed is not None:
                for k, v in layer.items():
                    per_query_layer[name].setdefault(k, []).append(v)
        return t2 - t0

    def one_pass(i: int, timed: int | None) -> float:
        order = list(names)
        rng.shuffle(order)
        ps = (b.spans.add(f"pass {i}", "pass", time.time(), 0.0, run_span,
                          timed=timed is not None) if b.spans else None)
        total = sum(invoke(n, ps, timed) for n in order)
        if b.spans:
            b.spans.close(ps, time.time())
        return total

    one_pass(0, None)  # untimed warm-up: JIT, codegen, Python workers
    region = TimedRegion(b.args.seconds, MIN_PASSES)
    setup_s = region.t0 - b.t_proc
    while region.more():
        region.start_round()
        pass_times.append(one_pass(len(pass_times) + 1, len(pass_times)))
        region.end_round()
    timed_s = sum(pass_times)
    b.detail["timed"] = region.summary()
    if b.spans:
        b.spans.close(run_span, time.time())

    kept = region.kept()
    medians = {n: statistics.median(v[k] for k in kept)
               for n, v in lat.items() if all(k in v for k in kept)}
    b.detail["queries"] = {
        n: {"median_s": medians.get(n),
            "samples_s": [v.get(k) for k in range(len(pass_times))]}
        for n, v in lat.items()
    }
    if len(medians) != len(names):
        return {"setup_s": setup_s}
    geo = math.exp(sum(math.log(v) for v in medians.values()) / len(medians))
    e2e = {
        "setup_s": setup_s,
        "round_s": sum(medians.values()),
        "query_geomean_s": geo,
        "rows_per_s": rows_out / timed_s,
    }
    b.detail["passes_s"] = pass_times
    if b.spans is not None:
        finish_batch_layers(b, per_query_layer, len(pass_times), sc)
    return e2e


def trace_query(b: Bench, store, group, name, pass_span, t0, t1, t2) -> dict:
    """Record query/build/collect/job/stage spans for one invocation and
    return its layer totals."""
    spans = b.spans
    q = spans.add(name, "query", t0, t2, pass_span, group=group)
    build = spans.add("build", "build", t0, t1, q)
    collect = spans.add("collect", "collect", t1, t2, q)
    store.settle()
    jobs = [j for j in store.jobs() if j.get("jobGroup") == group]
    stages = store.stages()

    # A job that finished before the registry call returned was started
    # by it (an eager action inside plan building); Spark's stamps are
    # whole milliseconds.
    def in_build(job_end: float) -> bool:
        return job_end <= t1 + 0.001

    def place(js, je):
        return (build, t0, t1) if in_build(je) else (collect, t1, t2)

    used = tracing.job_spans(spans, jobs, stages, place)
    eager = [j for j in jobs
             if in_build(tracing.spark_time(j.get("completionTime")) or t2)]
    ivals = [(tracing.spark_time(j["submissionTime"]),
              tracing.spark_time(j.get("completionTime")) or t2) for j in jobs]
    eager_ivals = [(tracing.spark_time(j["submissionTime"]),
                    tracing.spark_time(j["completionTime"])) for j in eager]
    st = tracing.stage_totals(used)
    py = tracing.python_nodes(store.new_sql(), {j["jobId"] for j in jobs})
    return {
        "operators.build_s": t1 - t0,
        "operators.eager_jobs": len(eager),
        "operators.build_self_s": (t1 - t0) - tracing.union_len(eager_ivals, t0, t1),
        "exec.collect_s": t2 - t1,
        "sched.jobs": len(jobs),
        "sched.stages": st["stages"],
        "sched.tasks": st["tasks"],
        "sched.gap_s": (t2 - t0) - tracing.union_len(ivals, t0, t2),
        "span_s": t2 - t0,
        **stage_layer(st),
        "functions.python_nodes": len(py),
        "functions.python_run_s": sum(n["run_s"] for n in py),
        "functions.python_mb_sent": sum(n["mb_sent"] for n in py),
        "functions.python_rows_out": sum(n["rows_out"] for n in py),
    }


def stage_layer(st: dict) -> dict:
    return {
        "executor.run_s": st["run_s"], "executor.cpu_s": st["cpu_s"],
        "executor.gc_s": st["gc_s"],
        "shuffle.write_mb": st["write_mb"], "shuffle.read_mb": st["read_mb"],
        "shuffle.write_records": st["write_records"],
        "shuffle.fetch_wait_s": st["fetch_wait_s"],
        "shuffle.spill_mb": st["spill_mb"],
        "sources.input_mb": st["input_mb"],
        "sources.input_records": st["input_records"],
    }


def finish_batch_layers(b, per_query_layer, passes, sc) -> None:
    """Per-pass layer totals: each query's metrics summed over the timed
    passes, divided by the number of passes."""
    totals: dict[str, float] = {}
    for metrics in per_query_layer.values():
        for k, vals in metrics.items():
            totals[k] = totals.get(k, 0.0) + sum(vals) / passes
    for k in b.layer:
        if k in totals:
            b.layer[k] = totals[k]
    slots = sc.defaultParallelism
    b.layer["executor.busy_frac"] = totals["executor.run_s"] / (
        slots * totals["span_s"])
    b.detail["layers_by_query"] = {
        n: {k: sum(v) / passes for k, v in m.items()}
        for n, m in per_query_layer.items()
    }


# ---------------------------------------------------------------------------
# streaming workload (HW3 on Structured Streaming)
# ---------------------------------------------------------------------------


def stage_stream_files(b: Bench) -> tuple[list[str], list[int], list[int], list[int]]:
    """Cut the events into about ``STREAM_FILES`` (seq, item) parquet
    files; the seed picks the cut points. Returns the files, the end
    offset of each file, and seq and item."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(b.data_dir, "events.parquet"),
                       columns=["event_id", "user_id"]).sort_by("event_id")
    seq = [e + 1 for e in ev["event_id"].to_pylist()]
    item = ev["user_id"].to_pylist()
    rng = random.Random(b.args.seed)
    size = -(-len(seq) // STREAM_FILES)
    stage = os.path.join(b.work, "stage")
    os.makedirs(stage)
    files, ends, lo = [], [], 0
    while lo < len(seq):
        hi = min(len(seq), lo + rng.randint(size * 4 // 5, size * 6 // 5))
        path = os.path.join(stage, f"part-{len(files):05d}.parquet")
        pq.write_table(pa.table({"seq": pa.array(seq[lo:hi], pa.int64()),
                                 "item": pa.array(item[lo:hi], pa.int64())}),
                       path)
        files.append(path)
        ends.append(hi)
        lo = hi
    return files, ends, seq, item


def run_stream(b: Bench, spark, entry) -> dict:
    from big_data_computing__spark.streaming import frequent_stream as fs

    files, ends, seq, item = stage_stream_files(b)
    src = os.path.join(b.work, "src")
    os.makedirs(src)
    cks = [os.path.join(b.work, "ck_counts"), os.path.join(b.work, "ck_fold")]
    state = fs.SamplerState(n=len(seq), phi=entry.PHI, epsilon=entry.EPSILON,
                            delta=entry.DELTA, seed=entry.SEED)
    folds: dict[int, tuple[float, float, float, int]] = {}

    def fold(batch_df, batch_id):
        ta = time.time()
        rows = [(r["seq"], r["item"]) for r in batch_df.collect()]
        tb = time.time()
        state.update(rows)
        folds[batch_id] = (ta, tb, time.time(), len(rows))

    items = (spark.readStream.schema(fs.ITEM_SCHEMA)
             .option("maxFilesPerTrigger", 1).parquet(src))
    queries = [
        fs.exact_counts_query(items, cks[0], "exact_counts"),
        items.writeStream.foreachBatch(fold)
        .option("checkpointLocation", cks[1]).start(),
    ]
    marks: list[tuple[float, float]] = []

    def push(i: int) -> bool:
        """Land file i and wait until both queries have committed it."""
        b.attempted += 1
        t0 = time.time()
        os.rename(files[i], os.path.join(src, os.path.basename(files[i])))
        done = [os.path.join(ck, "commits", str(i)) for ck in cks]
        checked = t0
        while not all(os.path.exists(p) for p in done):
            now = time.time()
            # a failed query never commits; asking the JVM costs a
            # gateway round trip, so only every EXCEPTION_CHECK_S
            if now - checked > EXCEPTION_CHECK_S:
                checked = now
                for q in queries:
                    if q.exception() is not None:
                        b.fail(f"batch {i}: {q.exception()}")
                        return False
            if now - t0 > COMMIT_TIMEOUT_S:
                b.fail(f"batch {i}: no commit in {COMMIT_TIMEOUT_S:.0f} s")
                return False
            time.sleep(0.002)
        marks.append((t0, time.time()))
        return True

    try:
        n_warm = min(STREAM_WARMUP, len(files) - MIN_TIMED_BATCHES)
        ok = all(push(i) for i in range(n_warm))
        region = TimedRegion(b.args.seconds, MIN_TIMED_BATCHES)
        setup_s = region.t0 - b.t_proc
        i = n_warm
        while ok and i < len(files) and region.more():
            region.start_round()
            ok = push(i)
            region.end_round()
            i += 1
        b.detail["timed"] = region.summary()
    finally:
        for q in queries:
            q.stop()
            q.awaitTermination(60)
    # read after stop: the last batch reports its progress after its commit
    progress = [data_triggers(q.recentProgress) for q in queries]

    committed = len(marks)
    lat = [e - s for s, e in marks[n_warm:]]
    kept = [k for k in region.kept() if k < len(lat)]
    # each query's own latency per batch: its trigger's execution time
    trig = [[p[n_warm + k]["durationMs"]["triggerExecution"] / 1e3
             for k in kept if n_warm + k in p] for p in progress]
    b.detail.update(batches_s=lat, trigger_s=trig, files=len(files),
                    committed=committed)
    if committed:
        check_stream_parity(b, spark, entry, state, seq[:ends[committed - 1]],
                            item[:ends[committed - 1]], len(seq))
    if b.spans is not None and lat:
        trace_stream(b, spark, marks, n_warm, progress, folds)
    if not kept or not all(trig):
        return {"setup_s": setup_s}
    timed_rows = ends[committed - 1] - (ends[n_warm - 1] if n_warm else 0)
    medians = [statistics.median(t) for t in trig]
    return {
        "setup_s": setup_s,
        "round_s": statistics.median(lat[k] for k in kept),
        "query_geomean_s": math.exp(sum(map(math.log, medians)) / len(medians)),
        "batch_p90_s": quantile(lat, 0.9),
        "rows_per_s": timed_rows / b.detail["timed"]["wall_s"],
    }


def data_triggers(progress) -> dict[int, dict]:
    """A streaming query's progress reports by batch id, for the triggers
    that read data (idle triggers report too)."""
    return {p["batchId"]: p for p in progress if p["numInputRows"] > 0}


def check_stream_parity(b, spark, entry, state, seq, item, n_total) -> None:
    """Stream-equals-batch on the committed prefix: the state-store counts
    against a plain count, and the foreachBatch samplers against the
    batch t4/t5/t6 operators over the same prefix."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from big_data_computing__spark.operators import frequent as fr
    from big_data_computing__spark.sources import readers

    prefix_dir = os.path.join(b.work, "prefix")
    os.makedirs(prefix_dir)
    pq.write_table(pa.table({"event_id": pa.array([s - 1 for s in seq], pa.int64()),
                             "user_id": pa.array(item, pa.int64())}),
                   os.path.join(prefix_dir, "events.parquet"))
    registry = entry.queries()
    truth = set(state.true_frequent())
    counts: dict[int, int] = {}
    for it in item:
        counts[it] = counts.get(it, 0) + 1

    def stream_counts():
        return {r["item"]: r["count"]
                for r in spark.sql("SELECT item, count FROM exact_counts").collect()}

    def sticky():
        stream = readers.event_stream_table(spark, prefix_dir)
        return {(r["item"], r["est_cnt"], r["flag"]) for r in fr.sticky_report(
            stream, n_total, entry.PHI, entry.EPSILON, entry.DELTA,
            entry.SEED).collect()}

    checks = {
        "processed": (lambda: state.processed, len(seq)),
        "exact_counts": (stream_counts, counts),
        "t4_true_frequent_items": (
            lambda: {r["item"] for r in registry["t4_true_frequent_items"](
                spark, prefix_dir).collect()}, truth),
        "t5_reservoir_report": (
            lambda: {(r["item"], r["flag"]) for r in registry["t5_reservoir_report"](
                spark, prefix_dir).collect()},
            {(i, "+" if i in truth else "-") for i in state.reservoir_items()}),
        "t6_sticky_report": (
            sticky,
            {(i, c, "+" if i in truth else "-") for i, c in state.sticky_frequent()}),
    }
    for name, (batch, want) in checks.items():
        b.attempted += 1
        try:
            got = batch()
        except Exception as e:  # noqa: BLE001 — a failed check is a failed op
            b.fail(f"parity {name}: {type(e).__name__}: {e}")
            continue
        if got != want:
            b.fail(f"parity {name}: stream and batch differ")
    b.detail["parity_prefix_rows"] = len(seq)


def trace_stream(b, spark, marks, n_warm, progress, folds) -> None:
    """Batch, trigger and sink spans from the queries' progress reports;
    per-batch layer means over the timed batches; scheduler and executor
    totals over the jobs that ran while the timed batches did."""
    spans = b.spans
    run = spans.add("run", "run", marks[0][0], marks[-1][1])
    acc: dict[str, float] = {}
    timed = list(range(n_warm, len(marks)))
    for i, (t0, t1) in enumerate(marks):
        bs = spans.add(f"batch {i}", "batch", t0, t1, run, timed=i >= n_warm)
        slowest = 0.0
        row: dict[str, float] = {}
        for qname, prog in zip(("exact_counts", "fold"), progress):
            p = prog.get(i)
            if p is None:
                continue
            d = {k: v / 1e3 for k, v in p["durationMs"].items()}
            ts = min(max(tracing.spark_time(p["timestamp"]), t0), t1)
            te = min(ts + d.get("triggerExecution", 0.0), t1)
            tid = spans.add(f"trigger {qname}", "trigger", ts, te, bs)
            slowest = max(slowest, d.get("triggerExecution", 0.0))
            for k, m in (("streaming.trigger_s", "triggerExecution"),
                         ("streaming.add_batch_s", "addBatch"),
                         ("streaming.log_commit_s", "walCommit"),
                         ("streaming.log_commit_s", "commitOffsets"),
                         ("streaming.planning_s", "queryPlanning")):
                row[k] = row.get(k, 0.0) + d.get(m, 0.0)
            for op in p.get("stateOperators", []):
                row["streaming.state_commit_s"] = (
                    row.get("streaming.state_commit_s", 0.0) + op["commitTimeMs"] / 1e3)
                b.layer["streaming.state_rows"] = op["numRowsTotal"]
                b.layer["streaming.state_mb"] = op["memoryUsedBytes"] / tracing.MB
            if qname == "fold" and i in folds:
                ta, tb, tc, _ = folds[i]
                ta, tb, tc = (min(max(x, ts), te) for x in (ta, tb, tc))
                spans.add("sink collect", "sink", ta, tb, tid)
                spans.add("sink fold", "sink", tb, tc, tid)
                row["streaming.sink_collect_s"] = tb - ta
                row["streaming.sink_fold_s"] = tc - tb
        row["streaming.poll_wait_s"] = (t1 - t0) - slowest
        if i >= n_warm:
            for k, v in row.items():
                acc[k] = acc.get(k, 0.0) + v
    for k, v in acc.items():
        b.layer[k] = v / max(len(timed), 1)

    store = tracing.StatusStore(spark)
    store.settle()
    lo, hi = marks[n_warm][0], marks[-1][1]
    jobs = [j for j in store.jobs()
            if lo <= tracing.spark_time(j["submissionTime"]) <= hi]
    stages = store.stages()
    used = [stages[s] for j in jobs for s in j["stageIds"] if s in stages]
    st = tracing.stage_totals(used)
    n = max(len(timed), 1)
    for k, v in stage_layer(st).items():
        b.layer[k] = v / n
    b.layer["sched.jobs"] = len(jobs) / n
    b.layer["sched.stages"] = st["stages"] / n
    b.layer["sched.tasks"] = st["tasks"] / n
    b.layer["executor.busy_frac"] = st["run_s"] / (
        spark.sparkContext.defaultParallelism * (hi - lo))
    ivals = [(tracing.spark_time(j["submissionTime"]),
              tracing.spark_time(j.get("completionTime")) or hi) for j in jobs]
    b.layer["sched.gap_s"] = ((hi - lo) - tracing.union_len(ivals, lo, hi)) / n
    py = tracing.python_nodes(store.new_sql(), {j["jobId"] for j in jobs})
    b.layer["functions.python_nodes"] = len(py) / n
    b.layer["functions.python_run_s"] = sum(x["run_s"] for x in py) / n
    b.layer["functions.python_mb_sent"] = sum(x["mb_sent"] for x in py) / n
    b.layer["functions.python_rows_out"] = sum(x["rows_out"] for x in py) / n


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--artifact", help="where to write the full run record "
                    "(default .perfbench/out/<workload>-s<seed>-t<trace>.json)")
    ap.add_argument("--scale", help="data set under perfbench/data "
                    "(default: the workload's own)")
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Process environment for the engine: the checkout on the Python
    workers' path, local[<nproc>], and scratch space inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def main(argv=None) -> int:
    t_proc = process_start_perf()
    args = parse_args(argv)
    b = Bench(args, t_proc)
    if not os.path.isdir(b.data_dir):
        print(f"missing data set {b.data_dir}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from big_data_computing__spark.session import get_session

    shutil.rmtree(b.work, ignore_errors=True)
    configure_env(b.work)
    load_start = loadavg()
    cpu_start = cpu_times()
    mem = MemSampler()
    mem.start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_session()
        b.layer["session.start_s"] = time.perf_counter() - t0
        env = b.env(spark, args.seed)
        run = run_stream if b.spec.get("stream") else run_batch
        e2e = run(b, spark, entry)
    finally:
        mem.stop()
        if spark is not None:
            stop_engine(spark)
        shutil.rmtree(b.work, ignore_errors=True)
    e2e["peak_rss_mb"] = mem.peak / tracing.MB
    b.detail["also_measured"] = {
        k: {"value": e2e.pop(k), "unit": u}
        for k, u in ALSO_MEASURED_UNITS.items() if k in e2e}
    env["loadavg_start"] = load_start
    env["loadavg_end"] = loadavg()
    env["host_cpu"] = host_cpu(cpu_start)
    complete = set(E2E_UNITS) <= set(e2e)
    correct = b.failed == 0 and complete
    if not complete:
        b.errors.append("some end-to-end metrics could not be computed")
    if args.trace:
        metrics = {k: {"value": b.layer[k], "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items() if k in e2e}
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env, "correct": correct,
        "attempted": b.attempted, "failed": b.failed, "errors": b.errors,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in e2e.items()},
        "per_layer": ({k: {"value": b.layer[k], "unit": u}
                       for k, u in LAYER_UNITS.items()} if args.trace else None),
        "detail": b.detail,
        "spans": b.spans.with_self_time() if b.spans else None,
    }
    out = args.artifact or os.path.join(
        ROOT, ".perfbench", "out",
        f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        json.dump(artifact, f, indent=1)
    for e in b.errors:
        print(f"error: {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": b.attempted,
                      "failed": b.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
