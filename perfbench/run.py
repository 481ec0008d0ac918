"""sparkfs benchmark: closed-loop workloads over registered queries.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. One client (this process, one Spark
session on ``local[<cores>]``) runs one registered query at a time: an
op is ``fn(spark, data_dir)`` plus collecting its rows to this process.
Inputs are synthetic tables (``datagen.py``, fixed data seed) written
to a scratch directory under ``perfbench/.runs/``; ``--seed`` sets the
order of the ops inside every pass. Every op result is checked against
its DuckDB oracle, outside the timed span.

Set-up (session start, registry import, an untimed warm-up that runs
every op once or twice) is timed on its own; generating inputs and oracle
digests is the benchmark's own work, done first and not counted. Then
whole passes run until ``--seconds`` of op time are measured. With
``--trace 1`` passes alternate untraced and traced, and the per-layer
figures come from the traced ones (see ``layers.py``).

The last line of stdout is one JSON object with keys ``correct``,
``attempted``, ``failed`` and ``metrics``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before
it records the environment and the sample count of every metric.
Progress and failures go to stderr.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS_DIR = os.path.join(HERE, ".runs")
SCALE = 0.01  # 60k lineitem, 10k events, 500 documents, 500 embeddings
DATA_SEED = 42

WORKLOADS = {
    # Scan/join/aggregate plans plus the audit findings pipeline: no
    # persists, no table writes, no streaming.
    "relational_mix": (
        "pricing_summary",
        "shipping_priority",
        "events_hourly",
        "suppliers_sole_late",
        "orders_lateral_topk",
        "findings_pipeline_ranked",
    ),
    # Near-duplicate curation (hashing, dedup/similarity operators,
    # tracked persists, Python workers) plus the ingest side: a TxTable
    # merge/delete lifecycle and a windowed stream into a memory sink.
    "dedup_curation": (
        "doc_minhash_incremental",
        "doc_near_dup_jaccard_pruned",
        "embedding_near_dup_lsh",
        "events_txtable_mor_dml",
        "events_stream_tumbling",
    ),
}
ALL_OPS = tuple(op for ops in WORKLOADS.values() for op in ops)
WARMUP_THREADS = 3
# Warm-up rounds before the timed passes. relational_mix ops are short
# and planning-bound, still on the steep part of the JIT warming curve
# after one round; a second round does not steady dedup_curation, whose
# ops are bound by task execution, and costs it ~8 s of set-up.
WARMUP_ROUNDS = {"relational_mix": 2, "dedup_curation": 1}


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def frame_hash(pdf) -> tuple[int, str]:
    """Row count and order-insensitive hash of a result's column names
    and values, with the canonical row form the oracle tests use."""
    from tests.oracle_utils import canon_rows

    h = hashlib.sha256()
    h.update("\x1f".join(sorted(pdf.columns)).encode())
    h.update(b"\x1d")
    canon = canon_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return len(canon), h.hexdigest()


def expected_digests(data_dir: str, ops) -> dict[str, tuple[int, str]]:
    """oracle_digests() in a child process that has ended before Spark
    starts, so DuckDB's memory never counts toward the peak RSS."""
    code = (
        "import json, sys, run; "
        "print(json.dumps(run.oracle_digests(sys.argv[1], sys.argv[2:])))"
    )
    # PYTHONPATH, set by pin_environment(), makes run.py importable.
    out = subprocess.run(
        [sys.executable, "-c", code, data_dir, *ops], check=True, stdout=subprocess.PIPE, text=True
    ).stdout
    return {op: tuple(d) for op, d in json.loads(out.splitlines()[-1]).items()}


def oracle_digests(data_dir: str, ops) -> dict[str, tuple[int, str]]:
    import duckdb
    from datagen import TABLES

    from filesystemagent_spark.queries import registry

    reg = registry()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        return {op: frame_hash(con.sql(reg[op].oracle).fetchdf()) for op in ops}
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(base, f)).st_size
            except OSError:
                pass
    return total


def clear_dir(path: str) -> None:
    for name in os.listdir(path):
        p = os.path.join(path, name)
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.unlink(p)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._stop_ev = threading.Event()
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024

    def _tree_rss_kb(self, root: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # fields[1] = ppid, fields[21] = rss in pages
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page_kb
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
        return total

    def reset(self) -> None:
        self.peak_kb = 0

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_ev.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop_ev.wait(self.interval)

    def stop(self) -> None:
        self._stop_ev.set()
        self.join()


def tx_footprint(paths) -> dict[str, int]:
    """Commits (manifest versions) and data files/bytes of the TxTables
    an op touched, read before its staging dir is removed."""
    commits = files = nbytes = 0
    for path in paths:
        mdir = os.path.join(path, "_manifests")
        if os.path.isdir(mdir):
            commits += sum(1 for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json"))
        for base, _dirs, names in os.walk(os.path.join(path, "data")):
            for f in names:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(base, f))
    return {"commits": commits, "files_written": files, "bytes_written": nbytes}


def cached_bytes(spark) -> int:
    return sum(
        info.memSize() + info.diskSize()
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def pin_environment(run_dir: str) -> dict:
    """Size the session to this host and keep every scratch file of the
    run (staging, Spark local dirs, JVM temp files) under ``run_dir``."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    driver_mb = min(2048, total_mb // 4)
    stage = os.path.join(run_dir, "stage")
    local = os.path.join(run_dir, "spark-local")
    for d in (stage, local):
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=stage,
        # The launcher JVM would write hsperfdata under /tmp.
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        # Python workers import engine modules by name.
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = stage
    return {"cores": cores, "driver_mem_mb": driver_mb, "stage": stage, "local": local}


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
            proc.kill()
            proc.wait()


class Bench:
    """One run: set-up, warm-up, measured passes."""

    def __init__(self, args, run_dir: str, scale: float) -> None:
        self.args = args
        self.scale = scale
        self.ops = WORKLOADS[args.workload]
        self.run_dir = run_dir
        self.attempted = 0
        self.failed = 0
        self.rng = random.Random(args.seed)
        # per untraced timed op
        self.spans: dict[str, list[float]] = {op: [] for op in self.ops}
        self.build_s: list[float] = []
        self.collect_s: list[float] = []
        self.bytes_left: list[int] = []
        # per traced op: interval and layer counters
        self.traced_ops: list[dict] = []
        self.tracer = None
        self.progress: list[dict] = []

    def run(self) -> dict:
        import datagen

        args = self.args
        env = pin_environment(self.run_dir)
        self.data_dir = os.path.join(self.run_dir, "data")
        datagen.generate(self.data_dir, DATA_SEED, self.scale)
        self.expected = expected_digests(self.data_dir, self.ops)
        extra_conf = {
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            # JVM temp files under the run dir; no hsperfdata in /tmp.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={env['local']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        self.events_dir = os.path.join(self.run_dir, "eventlog")
        if args.trace:
            os.makedirs(self.events_dir)
            extra_conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.events_dir,
                    "spark.eventLog.compress": "false",
                }
            )

        rss = RssSampler()
        rss.start()
        spark = None
        try:
            t0 = time.perf_counter()
            from filesystemagent_spark.queries import registry

            self.reg = registry()
            t1 = time.perf_counter()
            from filesystemagent_spark.session import get_spark

            spark = self.spark = get_spark("sparkfs-bench", extra_conf=extra_conf)
            spark.sparkContext.setLogLevel("ERROR")
            t2 = time.perf_counter()
            if args.trace:
                import layers

                self.tracer = layers.Tracer()
                self.tracer.install()
                spark.streams.addListener(layers.make_listener(self.progress))
            self.stage_dir = env["stage"]
            self.base_views = {t.name for t in spark.catalog.listTables() if t.isTemporary}

            warm = self.warm_up()
            self.setup = {"registry_import": t1 - t0, "get_spark": t2 - t1, "warmup": warm}
            # Peak memory of the single-client passes, not of the
            # concurrent warm-up (though the JVM keeps heap it grew there).
            rss.reset()

            self.passes: list[float] = []
            self.pass_traced: list[bool] = []
            # Whole passes until --seconds of op time is measured: at least
            # one, and in a traced run untraced, traced, untraced, so that
            # the overhead ratio is not skewed by the session still warming.
            while len(self.passes) < 1 + 2 * args.trace or sum(self.passes) < args.seconds:
                traced = bool(args.trace) and len(self.passes) % 2 == 1
                self.passes.append(sum(self.run_op(op, traced) for op in self.order()))
                self.pass_traced.append(traced)
        finally:
            rss.stop()
            if spark is not None:
                stop_spark(spark)
        self.peak_rss_mb = rss.peak_kb / 1024.0
        if os.listdir(env["stage"]):
            self.failed += 1
            log("FAILED: staging data left after the run")
        self.env = env
        return self.per_layer_metrics() if args.trace else self.end_to_end_metrics()

    def order(self) -> list[str]:
        return self.rng.sample(self.ops, len(self.ops))

    def execute(self, op: str) -> tuple[object, str | None, float, float]:
        """The timed span of one op: (rows, error, build s, collect s)."""
        a = time.perf_counter()
        try:
            df = self.reg[op].fn(self.spark, self.data_dir)
            b = time.perf_counter()
            pdf, err = df.toPandas(), None
        except Exception as e:  # noqa: BLE001 - an op failure is a measurement
            b = time.perf_counter()
            pdf, err = None, f"{type(e).__name__}: {e}"[:300]
        return pdf, err, b - a, time.perf_counter() - b

    def check(self, op: str, pdf, err: str | None) -> None:
        """Count the op and compare its rows with the oracle's."""
        self.attempted += 1
        if err is None:
            got = frame_hash(pdf)
            if got != self.expected[op]:
                err = f"oracle mismatch: rows/hash {got} != {self.expected[op]}"
        if err:
            self.failed += 1
            log(f"FAILED {op}: {err}")

    def cleanup(self) -> int:
        """Isolate the next op, outside every timed span: record and remove
        the op's staging data, drop its temp views and memory sinks and
        release its tracked caches. A leftover the cleanup cannot explain
        (a running stream, a cache still held) fails the op. Returns the
        number of tracked caches released."""
        from filesystemagent_spark.caching import release_tracked_caches, tracked_count

        spark = self.spark
        problem = None
        for q in spark.streams.active:
            q.stop()
            problem = f"streaming query {q.name} left running"
        self.bytes_left.append(dir_bytes(self.stage_dir))
        clear_dir(self.stage_dir)
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name not in self.base_views:
                spark.catalog.dropTempView(t.name)
        released = release_tracked_caches(blocking=True)
        if tracked_count() != 0:
            problem = "tracked caches remain after release"
        if len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) or not (
            spark._jsparkSession.sharedState().cacheManager().isEmpty()
        ):
            problem = "cached data remains in storage"
            spark.catalog.clearCache()
        if problem:
            self.failed += 1
            log(f"FAILED cleanup: {problem}")
        return released

    def warm_up(self) -> float:
        """Untimed warm-up, paid once per session like a user would: every
        op runs WARMUP_ROUNDS times, WARMUP_THREADS ops at a time; returns
        the wall time. Warming is first-touch JVM work (class loading,
        JIT, codegen) that overlaps well across threads (4-core VM: 46 s
        serial vs 31 s on three threads for dedup_curation). A second round
        takes relational_mix's median pass from 9.6 s to 7.5 s for +2 s
        of set-up."""
        from concurrent.futures import ThreadPoolExecutor

        conf = self.spark.conf.getAll
        order = [op for _ in range(WARMUP_ROUNDS[self.args.workload]) for op in self.order()]
        t = time.perf_counter()
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            results = list(pool.map(self.execute, order))
        wall = time.perf_counter() - t
        # Ops that pin a session conf and restore it can interleave here
        # and leave the pinned value behind; start the timed passes from
        # the session's own settings. Confs an op adds stay, as they would.
        for key, value in self.spark.conf.getAll.items():
            if key in conf and conf[key] != value:
                self.spark.conf.set(key, conf[key])
        for op, (pdf, err, _b, _c) in zip(order, results):
            self.check(op, pdf, err)
        self.cleanup()
        self.bytes_left.clear()
        return wall

    def run_op(self, op: str, traced: bool) -> float:
        """Run one op; returns its timed span. Everything after the span
        (oracle check, footprint, cleanup) is untimed."""
        from filesystemagent_spark.caching import tracked_count

        if traced:
            mark = {"op": op, "persists0": tracked_count()}
            self.tracer.op = len(self.traced_ops)
            self.tracer.enabled = True
            mark["t0"] = time.time()
        pdf, err, build, collect = self.execute(op)
        if traced:
            mark["t1"] = time.time()
            self.tracer.enabled = False
            mark["persists"] = tracked_count() - mark["persists0"]
            mark["cached_bytes"] = cached_bytes(self.spark)
            mark.update(tx_footprint(self.tracer.tables))
            self.tracer.tables.clear()
            self.traced_ops.append(mark)
        self.check(op, pdf, err)
        released = self.cleanup()
        if traced:
            mark["released"] = released
        else:
            self.spans[op].append(build + collect)
            self.build_s.append(build)
            self.collect_s.append(collect)
        return build + collect

    def untraced_passes(self) -> list[float]:
        return [p for p, t in zip(self.passes, self.pass_traced) if not t]

    def end_to_end_metrics(self) -> dict:
        passes = self.untraced_passes()
        return {
            "setup_s": _m(sum(self.setup.values()), "s", 1),
            "ops_per_s": _m(len(passes) * len(self.ops) / sum(passes), "1/s", len(passes) * len(self.ops)),
            "peak_rss_mb": _m(self.peak_rss_mb, "MB", 1),
        }

    def per_layer_metrics(self) -> dict:
        import layers

        traced_ops = self.traced_ops
        n = len(traced_ops)
        out = {
            "session.get_spark_s": _m(self.setup["get_spark"], "s", 1),
            "session.registry_import_s": _m(self.setup["registry_import"], "s", 1),
            "session.warmup_s": _m(self.setup["warmup"], "s", 1),
        }
        for op in ALL_OPS:
            # 0 marks an op that is not part of this workload.
            v = self.spans.get(op) or [0.0]
            out[f"queries.{op}.p50_s"] = _m(statistics.median(v), "s", len(self.spans.get(op, ())))
        out["queries.build_s_per_op"] = _m(statistics.fmean(self.build_s), "s", len(self.build_s))
        out["queries.collect_s_per_op"] = _m(statistics.fmean(self.collect_s), "s", len(self.collect_s))

        lt = self.tracer.layer_times()

        def per_op(key, unit="s"):
            return _m(lt.get(key, 0.0) / n, unit, n)

        calls = self.tracer.handle_calls
        out["catalog.table_calls_per_op"] = per_op("catalog.table.calls", "count")
        out["catalog.table_s_per_op"] = per_op("catalog.outer")
        out["catalog.handle_hit_ratio"] = _m(self.tracer.handle_hits / calls if calls else 0.0, "ratio", calls)
        out["operators.build_s_per_op"] = per_op("operators.outer")
        out["normalizers.build_s_per_op"] = per_op("normalizers.outer")
        for layer in layers.LAYERS:
            out[f"{layer}.self_s_per_op"] = per_op(f"{layer}.self")

        wall = sum(o["t1"] - o["t0"] for o in traced_ops)
        ex = layers.parse_eventlog(self.events_dir, [(o["t0"], o["t1"]) for o in traced_ops])
        for name, key, scale, unit in (
            ("jobs", "jobs", 1, "count"),
            ("stages", "stages", 1, "count"),
            ("tasks", "tasks", 1, "count"),
            ("task_time_s", "task_ms", 1e-3, "s"),
            ("cpu_time_s", "cpu_ns", 1e-9, "s"),
            ("gc_time_s", "gc_ms", 1e-3, "s"),
            ("input_bytes", "input", 1, "B"),
            ("shuffle_write_bytes", "sh_write", 1, "B"),
            ("shuffle_read_bytes", "sh_read", 1, "B"),
            ("spill_bytes", "spill", 1, "B"),
        ):
            out[f"exec.{name}_per_op"] = _m(ex[key] * scale / n, unit, n)
        out["exec.driver_gap_s_per_op"] = _m((wall - ex["in_jobs_s"]) / n, "s", n)
        cores = self.env["cores"]
        out["exec.core_busy_ratio"] = _m(ex["task_ms"] / 1000 / (wall * cores), "ratio", n)

        out["caching.persists_per_op"] = _m(sum(o["persists"] for o in traced_ops) / n, "count", n)
        out["caching.released_per_op"] = _m(sum(o["released"] for o in traced_ops) / n, "count", n)
        out["caching.cached_bytes_peak"] = _m(max(o["cached_bytes"] for o in traced_ops), "B", n)

        for meth in layers.TXTABLE_METHODS:
            out[f"txtable.{meth}_s"] = per_op(f"txtable.{meth}")
        for key in ("commits", "files_written", "bytes_written"):
            unit = "B" if key == "bytes_written" else "count"
            out[f"txtable.{key}_per_op"] = _m(sum(o[key] for o in traced_ops) / n, unit, n)
        out["isolation.bytes_written_per_op"] = _m(
            statistics.fmean(self.bytes_left), "B", len(self.bytes_left)
        )

        # Progress events carry the batch's start time; a batch belongs to
        # the traced op whose interval holds it.
        batches = [
            p for p in self.progress if any(o["t0"] <= p["t"] <= o["t1"] for o in traced_ops)
        ]
        nb = len(batches)

        def per_batch(key):
            return _m(sum(p["dur"].get(key, 0) for p in batches) / 1000 / nb if nb else 0.0, "s", nb)

        starts = lt.get("streaming.start.calls", 0)
        out["streaming.batches_per_op"] = _m(nb / n, "count", n)
        out["streaming.query_start_s"] = _m(lt.get("streaming.start", 0.0) / starts if starts else 0.0, "s", starts)
        out["streaming.trigger_s_per_batch"] = per_batch("triggerExecution")
        out["streaming.add_batch_s_per_batch"] = per_batch("addBatch")
        out["streaming.planning_s_per_batch"] = per_batch("queryPlanning")
        out["streaming.wal_commit_s_per_batch"] = per_batch("walCommit")
        out["streaming.state_commit_s_per_batch"] = _m(
            sum(p["state_commit_ms"] for p in batches) / 1000 / nb if nb else 0.0, "s", nb
        )
        out["streaming.state_rows_peak"] = _m(max((p["state_rows"] for p in batches), default=0), "count", nb)

        # untraced / traced ops_per_s == mean traced pass / mean untraced pass
        traced = [p for p, t in zip(self.passes, self.pass_traced) if t]
        untraced = self.untraced_passes()
        out["trace.overhead_ratio"] = _m(statistics.fmean(traced) / statistics.fmean(untraced), "ratio", len(traced))
        return out

    def write_spans(self, path: str) -> None:
        """Every recorded span and traced-op interval, for offline study."""
        spans = [
            dict(zip(("name", "layer", "start", "end", "parent", "op"), rec))
            for rec in self.tracer.spans
        ]
        with open(path, "w") as fh:
            json.dump({"ops": self.traced_ops, "spans": spans}, fh)


def _m(value, unit: str, samples: int) -> dict:
    return {"value": float(value), "unit": unit, "samples": int(samples)}


def main(argv: list[str] | None = None, scale: float = SCALE) -> int:
    """Command-line entry; ``scale`` is for the benchmark's smoke test."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "filesystemagent_spark")):
        log(f"engine package not found under {ROOT}; run from a full checkout")
        return 2
    sys.path[:0] = [ROOT, HERE]

    import pyspark

    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    try:
        bench = Bench(args, run_dir, scale)
        metrics = bench.run()
        if args.trace:
            bench.write_spans(os.path.join(RUNS_DIR, f"spans-{args.workload}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    environment = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": bench.scale,
        "data_seed": DATA_SEED,
        "cores": bench.env["cores"],
        "driver_mem_mb": bench.env["driver_mem_mb"],
        "pyspark": pyspark.__version__,
        "passes": len(bench.passes),
        "ops_per_pass": len(bench.ops),
        "samples": {k: v.pop("samples") for k, v in metrics.items()},
    }
    log("setup:", json.dumps({k: round(v, 3) for k, v in bench.setup.items()}))
    log("passes:", [round(p, 3) for p in bench.passes])
    log("op p50:", json.dumps({op: round(statistics.median(v), 3) for op, v in bench.spans.items()}))
    print(json.dumps({"environment": environment}))
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
