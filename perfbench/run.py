"""Layer benchmark for ``ds_mapreduce_spark``: one workload per run.

    python3 perfbench/run.py --workload relational_sql --seed 1 --seconds 24 --trace 0

Each run generates its input tables from ``--seed`` (``datagen.py``),
starts a session through ``session.get_spark`` at ``local[<cores>]``,
loads the registry, and makes one warm-up pass that also collects every
result. Each timed pass puts the workload's queries and streaming twins
``copies`` times on one queue in a seed-shuffled order, and the
workload's client threads (``workloads.CLIENTS``) take them off it, each
ending in a ``noop`` write. The pass count is ``--seconds`` over the
workload's nominal pass time, so every run of a workload makes the same
number of passes. Results are checked after the timed window.

``--trace 0`` prints the end-to-end metrics: item wall (each item's
median time over its runs, summed over the items), process-tree CPU per
copy of the pass (this process, the JVM and Python workers, without the
JVM's JIT compiler threads; median over the passes), and set-up time
(process start to the first timed pass, the warm-up pass included).
``--trace 1`` alternates untraced and traced passes, prints the
per-layer metrics (spans around each layer call, Spark's status stores,
the streaming progress listener) and writes the spans to
``.perfbench_work/trace-<workload>-<seed>.json``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Everything the run writes stays under ``.perfbench_work/`` of
the checkout that holds this file.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import deque  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import (  # noqa: E402
    CLIENTS, DIGESTED, FEED_FILES, PASS_SECONDS, SF, TWINS, WORKLOAD_SF, WORKLOADS)


#: status-store totals reported per traced pass (``probes.StatusStore``)
LAYER_METRICS = (
    "plans.build_jobs", "sources.input_rows", "sources.input_mb", "sources.scan_s",
    "operators.stages", "operators.tasks", "operators.task_busy_s", "operators.jvm_cpu_s",
    "operators.codegen_s", "operators.gc_s", "operators.arrow_out_mb", "operators.arrow_in_mb",
    "operators.shuffle_write_mb", "operators.shuffle_read_mb", "operators.fetch_wait_s",
    "operators.spill_mb",
)
COUNTS = ("plans.build_jobs", "sources.input_rows", "operators.stages", "operators.tasks")


def log(*a) -> None:
    print("perfbench:", *a, file=sys.stderr, flush=True)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    ``work``, and let workers import the engine from any cwd."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # every JVM, the launcher's too; without -UsePerfData each writes to /tmp/hsperfdata_*
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    sys.path.insert(0, ROOT)


def dir_size(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args, work: str) -> None:
        from probes import BatchLog, ProcessTree
        from spans import Tracer

        self.args = args
        self.work = work
        self.items = WORKLOADS[args.workload]
        self.clients, self.copies = CLIENTS[args.workload]
        self.streaming = [n for n in self.items if n in TWINS]
        self.twins: dict = {}
        self.tree = ProcessTree()
        self.tracer = Tracer()
        self.batches = BatchLog()
        self.stream_query: dict[int, str] = {}  # streaming.run span id -> streaming query id
        self.pool = None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    # ---- set-up -------------------------------------------------------
    def setup(self) -> None:
        import datagen

        a = self.args
        tables = datagen.make_tables(a.sf, a.seed)
        self.n_docs = tables["documents"].num_rows
        self.data_dir = os.path.join(self.work, "data")
        datagen.write_tables(tables, self.data_dir)
        self.feeds = {}
        for i, (twin, (table, _)) in enumerate(TWINS.items()):
            if twin in self.streaming:
                self.feeds[twin] = os.path.join(self.work, "feeds", twin)
                datagen.write_feed(tables[table], self.feeds[twin], FEED_FILES, a.seed * 100 + i)

        t = time.perf_counter()
        from ds_mapreduce_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        from ds_mapreduce_spark.plans.registry import load_all

        self.registry = load_all()
        self.layer["plans.load_s"] = time.perf_counter() - t
        if self.streaming:
            from ds_mapreduce_spark.streaming import jobs

            self.twins = {name: getattr(jobs, name) for name in self.streaming}
            self.spark.streams.addListener(self.batches.listener())
        if a.trace:
            from probes import StatusStore

            self.store = StatusStore(self.spark)
        # the client threads live for the whole run, and so do the JVM
        # threads PySpark pins to them
        self.pool = ThreadPoolExecutor(self.clients, thread_name_prefix="client")

    # ---- one query or twin ---------------------------------------------
    def run_item(self, name: str, tag: str, run_dir: str, collect: bool, parent: int | None):
        sc, span = self.spark.sparkContext, self.tracer.span
        sc.setJobGroup(f"{tag}:{name}:build", name)
        with span("query", name, parent):
            if name in self.twins:
                ckpt = os.path.join(run_dir, "ckpt")
                with span("streaming.run", name) as sid:
                    df = self.twins[name](self.spark, self.feeds[name],
                                          os.path.join(run_dir, "state"), ckpt)
                if sid is not None:
                    with open(os.path.join(ckpt, "metadata")) as f:
                        self.stream_query[sid] = json.load(f)["id"]
            else:
                with span("plans.build", name):
                    df = self.registry[name].fn(self.spark, self.data_dir)
            if self.tracer.enabled:
                with span("plans.optimize", name):
                    df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"{tag}:{name}:exec", name)
            with span("operators.execute", name):
                if collect:
                    return df.collect(), df.columns
                df.write.format("noop").mode("overwrite").save()
        return None

    def run_client(self, tag: str, queue: deque, collect: bool, parent: int | None) -> list[tuple]:
        """One client: takes (item, copy) off the shared queue until it is
        empty; returns (item, seconds, output, failed) per item run."""
        done = []
        while True:
            try:
                name, k = queue.popleft()
            except IndexError:
                return done
            run_dir = os.path.join(self.work, "passes", tag, f"{name}-{k}")
            t = time.perf_counter()
            try:
                out, failed = self.run_item(name, tag, run_dir, collect, parent), False
            except Exception:  # a failed query counts, the pass goes on
                out, failed = None, True
                log(f"{name} failed in pass {tag}:\n{traceback.format_exc()}")
            done.append((name, time.perf_counter() - t, out, failed))

    def run_pass(self, tag: str, copies: int, collect: bool = False) -> dict:
        """Runs every item ``copies`` times: the clients share one queue
        in a seed-shuffled order. Returns the pass record (timed part
        first, then the readings taken outside the timed window); sums
        over the pass are divided by ``copies``."""
        todo = [(name, k) for k in range(copies) for name in self.items]
        random.Random(f"{self.args.seed}:{tag}").shuffle(todo)
        queue = deque(todo)
        cpu0 = self.tree.reading()
        sampler0 = self.tree.sampler_cpu()
        wall0 = time.time()
        t0 = time.perf_counter()
        with self.tracer.span("pass", tag) as pid:
            futures = [self.pool.submit(self.run_client, tag, queue, collect, pid)
                       for _ in range(self.clients)]
            done = [d for f in futures for d in f.result()]
        wall = time.perf_counter() - t0
        wall1 = time.time()
        sampler = self.tree.sampler_cpu() - sampler0
        per = 1 / copies
        rec = {
            "tag": tag, "traced": self.tracer.enabled, "wall_s": wall * per,
            "item_wall": [(name, s) for name, s, _, _ in done],
            "cpu_s": (self.tree.cpu_since(cpu0) - sampler) * per,
            "python_cpu_s": self.tree.cpu_since(cpu0, ("python",)) * per,
            "outputs": {name: out for name, _, out, _ in done if out is not None},
            "wall_window": (wall0, wall1), "window": (t0, t0 + wall), "per": per,
        }
        self.attempted += len(done)
        self.failed += sum(failed for *_, failed in done)
        pass_dir = os.path.join(self.work, "passes", tag)
        if self.streaming:
            states = [os.path.join(pass_dir, f"{n}-{k}", "state")
                      for k in range(copies) for n in self.streaming]
            rec["state_mb"] = sum(dir_size(d) for d in states) / 2**20 * per
            rec["state_versions"] = sum(
                1 for d in states if os.path.isdir(d) for v in os.listdir(d) if v.startswith("v")) * per
        rec["checkpoint_blocks"] = self.drop_cached() * per
        rec["jit_cpu_s"] = self.tree.cpu_since(cpu0, ("jit",)) * per
        log(f"pass {tag}: wall {wall:.3f} s, cpu {rec['cpu_s']:.3f} s, python "
            f"{rec['python_cpu_s']:.3f} s, jit {rec['jit_cpu_s']:.3f} s (per copy of each item)")
        shutil.rmtree(pass_dir, ignore_errors=True)
        return rec

    def drop_cached(self) -> int:
        sc = self.spark.sparkContext
        blocks = sum(i.numCachedPartitions() for i in sc._jsc.sc().getRDDStorageInfo())
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        return blocks

    # ---- the run --------------------------------------------------------
    def run(self) -> dict:
        a = self.args
        self.tree.start()
        self.setup()
        warm = self.run_pass("warm", 1, collect=True)
        setup_s = time.perf_counter() - T0

        # A fixed number of passes, not a deadline: the JVM keeps compiling
        # for many passes, so runs compare only at equal pass counts.
        passes = []
        for i in range(max(2, round(a.seconds / PASS_SECONDS[a.workload]))):
            self.tracer.enabled = bool(a.trace) and i % 2 == 1
            rec = self.run_pass(f"p{i}", self.copies)
            if self.tracer.enabled:
                self.read_layers(rec)
            passes.append(rec)
            self.tracer.enabled = False

        self.check(warm["outputs"])
        plain = [p for p in passes if not p["traced"]]
        metrics = {
            "wall_s": (self.item_latency(plain), "s"),
            "cpu_s": (median([p["cpu_s"] for p in plain]), "s"),
            "setup_s": (setup_s, "s"),
        }
        if a.trace:
            metrics = self.layer_metrics(passes, plain)
        return metrics

    def item_latency(self, passes: list[dict]) -> float:
        """Each item's median time over all its runs in ``passes``, summed
        over the items: a slow moment of the host costs one run of one
        item, not a whole pass."""
        return sum(median([s for p in passes for n, s in p["item_wall"] if n == name])
                   for name in self.items)

    # ---- per-layer readings (traced passes) -----------------------------
    def read_layers(self, rec: dict) -> None:
        """Status-store totals and streaming spans of one traced pass."""
        self.batches.settle()
        batches = self.batches.since(*rec["wall_window"])
        groups = {f"{rec['tag']}:{n}:{phase}" for n in self.items for phase in ("build", "exec")}
        # micro-batch jobs carry their streaming query's run id as job group
        totals = self.store.group_totals(groups | {b["run"] for b in batches})
        agg: dict[str, float] = {}
        for tot in totals.values():
            for k, v in tot.items():
                agg[k] = agg.get(k, 0.0) + v
        agg["plans.build_jobs"] = sum(t["plans.jobs"] for g, t in totals.items() if g.endswith(":build"))
        rec["layers"] = {k: v * rec["per"] for k, v in agg.items()}
        # each micro-batch becomes a span under the streaming.run span of its query
        offset = time.time() - time.perf_counter()
        for s in self.in_pass(rec, "streaming.run"):
            prev = s["start"]
            for b in sorted(batches, key=lambda b: b["start_wall"]):
                start = b["start_wall"] - offset
                if b["query"] == self.stream_query.get(s["id"]) and s["start"] <= start <= s["end"]:
                    lo = max(prev, start)
                    prev = min(s["end"], lo + b["duration_s"])
                    self.tracer.add("streaming.batch", s["key"], lo, prev, s["id"])

    def in_pass(self, rec: dict, name: str) -> list[dict]:
        lo, hi = rec["window"]
        return [s for s in self.tracer.spans if s["name"] == name and lo <= s["start"] <= hi]

    def layer_metrics(self, passes: list[dict], plain: list[dict]) -> dict:
        from spans import self_times

        traced = [p for p in passes if p["traced"]]
        selfs = self_times(self.tracer.spans)

        def traced_median(total_of) -> float:
            return median([total_of(p) for p in traced])

        def span_total(name: str, self_only: bool = False) -> float:
            return traced_median(lambda p: p["per"] * sum(
                selfs[s["id"]] if self_only else s["end"] - s["start"] for s in self.in_pass(p, name)))

        m: dict[str, tuple[float, str]] = {
            "memory.peak_rss_mb": (self.tree.peak_rss / 2**20, "MiB"),
            "session.start_s": (self.layer["session.start_s"], "s"),
            "plans.load_s": (self.layer["plans.load_s"], "s"),
        }
        for name in ("plans.build", "plans.optimize", "operators.execute", "streaming.run"):
            m[f"{name}_s"] = (span_total(name), "s")
            m[f"{name}_self_s"] = (span_total(name, self_only=True), "s")
        m["query.self_s"] = (span_total("query", self_only=True), "s")
        m["streaming.batch_s"] = (span_total("streaming.batch"), "s")
        for name in LAYER_METRICS:
            unit = "count" if name in COUNTS else "MiB" if name.endswith("_mb") else "s"
            m[name] = (traced_median(lambda p: p["layers"].get(name, 0.0)), unit)
        cores = len(os.sched_getaffinity(0))
        m["operators.slot_util"] = (traced_median(
            lambda p: p["layers"].get("operators.task_busy_s", 0.0) / (p["wall_s"] * cores)), "ratio")
        m["plans.checkpoint_blocks"] = (median([p["checkpoint_blocks"] for p in passes]), "count")
        m["jvm.jit_cpu_s"] = (median([p["jit_cpu_s"] for p in plain]), "s")
        m["operators.python_cpu_s"] = (median([p["python_cpu_s"] for p in plain]), "s")
        m["operators.python_cpu_share"] = (median(
            [p["python_cpu_s"] / p["cpu_s"] for p in plain if p["cpu_s"] > 0]), "ratio")
        # streaming: per copy of a pass, and micro-batch durations pooled over all timed passes
        per_pass = [self.batches.since(*p["wall_window"]) for p in passes]
        durs = sorted(b["duration_s"] for bs in per_pass for b in bs)
        m["streaming.batches"] = (median([len(bs) * p["per"] for p, bs in zip(passes, per_pass)]), "count")
        m["streaming.input_rows"] = (median(
            [sum(b["input_rows"] for b in bs) * p["per"] for p, bs in zip(passes, per_pass)]), "count")
        m["streaming.microbatch_p50_s"] = (median(durs), "s")
        m["streaming.microbatch_p90_s"] = (
            statistics.quantiles(durs, n=10)[8] if len(durs) >= 2 else median(durs), "s")
        m["streaming.state_mb"] = (median([p.get("state_mb", 0.0) for p in passes]), "MiB")
        m["streaming.state_versions"] = (median([p.get("state_versions", 0) for p in passes]), "count")
        m["trace.untraced_wall_s"] = (self.item_latency(plain), "s")
        m["trace.traced_wall_s"] = (self.item_latency(traced), "s")
        m["trace.overhead_s"] = (m["trace.traced_wall_s"][0] - m["trace.untraced_wall_s"][0], "s")
        return m

    # ---- correctness ------------------------------------------------------
    def check(self, outputs: dict) -> None:
        """Compare the warm-up pass's results; a mismatch counts as failed."""
        import check
        from ds_mapreduce_spark.sources.catalog import TABLES

        con = check.duck(self.data_dir, TABLES)
        digests = check.load_digests() if set(DIGESTED) & set(self.items) else {}
        for name in self.items:
            out = outputs.get(name)
            if out is None:
                continue  # its failure is already counted
            rows, cols = out
            if name in self.twins:
                ok = check.matches_oracle(con, self.registry[TWINS[name][1]].oracle, rows, cols)
            elif name in DIGESTED:
                want = digests.get(check.digest_key(name, self.n_docs))
                ok = want is not None and check.digest(rows, cols) == want
            elif self.registry[name].oracle is None:
                ok = len(rows) > 0
            else:
                ok = check.matches_oracle(con, self.registry[name].oracle, rows, cols)
            if not ok:
                self.failed += 1
                log(f"{name}: result does not match its reference")

    def close(self) -> None:
        """Stop the client threads, the session, the JVM and its Python
        workers, and wait for them."""
        if self.pool is not None:
            self.pool.shutdown()
        spark = getattr(self, "spark", None)
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.tree.stop()
        self.tree.wait_descendants()


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, help="table scale factor (default: the workload's)")
    args = p.parse_args()
    if args.sf is None:
        args.sf = WORKLOAD_SF.get(args.workload, SF)
    if not os.path.isfile(os.path.join(ROOT, "ds_mapreduce_spark", "__init__.py")):
        log(f"no ds_mapreduce_spark package next to {HERE}")
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    bench = Bench(args, work)
    try:
        metrics = bench.run()
        if args.trace:
            path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
            bench.tracer.write(path)
            log(f"spans written to {path}")
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
