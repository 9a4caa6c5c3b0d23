"""Benchmark of the ingestion engine, end to end and layer by layer.

Usage, from the root of a checkout (the engine package must sit there)::

    python3 perfbench/run.py --workload hourly-prio --seed 1 --seconds 15 --trace 0

Workloads:

* ``hourly-prio``: the reference's scheduled job. Nested Prio documents in
  hour partitions; ``plans.ingestion.run_ingestion`` processes one hourly
  window after another in one warm session, with ECDSA signing and Avro
  containers on.
* ``stream-resume``: the streaming job run on a schedule. Many short
  ``availableNow`` restarts of ``streaming.start_stream_ingestion`` against
  one checkpoint; each restart first adds one increment of newer turn files
  and drains it over several epochs.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and writes
the run's spans to ``.perfbench_out/`` in the checkout. The run log (host
figures, input sizes, per-operation times) goes to standard error.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ENGINE = "exposure_notifications_private_analytics_ingestion_spark"
WORKLOADS = ("hourly-prio", "stream-resume")

# run controls: fewer task slots than the host has cores, an explicit
# driver heap, every scratch byte inside the checkout's own scratch tree
SLOTS = 2
DRIVER_MEM = "2g"
# operations run before timing starts: a session's first operation costs
# 4-5x a warm one, its second 1.1-1.4x, its third about 1.1x
WARMUP_OPS = 3
SAMPLE_S = 0.25  # resident-memory sampling interval

PRIO = {"hours": 16, "docs_per_hour": 1000, "hot_turns_per_hour": 120, "batch_size": 40}
# one new turn file per restart
STREAM = {
    "turns_per_file": 2000,
    "restarts": 24,
    "batch_size": 100,
    "bucket_by": 16,
    "max_files_per_trigger": 1,
}
SIGNING_KEY_ID = "perfbench-p256"

def log(event: str, **fields) -> None:
    print(json.dumps({"event": event, **fields}, default=str), file=sys.stderr, flush=True)


# --- the benchmark's own process tree, read from /proc ---


class ProcTree:
    """CPU time and resident memory of this process and its descendants
    (the Spark JVM and its Python workers). A sampling thread keeps the
    peak of the tree's summed resident memory. The CPU that these readings
    themselves cost this process (``own_cpu_s``: the sampler thread and
    every ``cpu_s`` scan) is left out of ``cpu_s``."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0
        self.samples = 0
        self.own_cpu_s = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._tick = os.sysconf("SC_CLK_TCK")
        self._page = os.sysconf("SC_PAGE_SIZE")

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += children.get(p, [])
        return out

    def cpu_s(self) -> float:
        """utime+stime of every live process in the tree plus the times of
        children they have reaped, so a process that ended still counts;
        less the instruments' own CPU."""
        t = time.thread_time()
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        with self._lock:
            self.own_cpu_s += time.thread_time() - t
            return total / self._tick - self.own_cpu_s

    def rss_bytes(self) -> int:
        """Summed proportional set size (``Pss`` from ``smaps_rollup``), so
        a page a forked Python worker shares with its daemon counts once.
        The JVM shares no pages with the rest of the tree, and reading its
        ``smaps_rollup`` costs ~10 ms and holds its memory-map lock, so
        its resident set size is read from ``statm`` instead."""
        total = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    jvm = fh.read().strip() == "java"
                if jvm:
                    with open(f"/proc/{p}/statm") as fh:
                        total += int(fh.read().split()[1]) * self._page
                    continue
                with open(f"/proc/{p}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _sample(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            t = time.thread_time()
            rss = self.rss_bytes()
            with self._lock:
                self.peak_rss = max(self.peak_rss, rss)
                self.samples += 1
                self.own_cpu_s += time.thread_time() - t

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def _cpu_counters() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def calibration_s() -> float:
    """A fixed pure-Python loop, median of three: the host's noise floor."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc ^= i * 2654435761 & 0xFFFF
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    size = files = 0
    for base, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(base, n))
                files += 1
            except OSError:
                pass
    return size, files


# --- spans ---


class Tracer:
    """Spans (name, start, end, parent) and counts, kept in memory and
    written to one JSON file at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None):
        rec = {"id": f"{name}-{len(self.spans)}", "name": name, "parent": parent,
               "start": time.time()}
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["ms"] = (rec["end"] - rec["start"]) * 1000

    def count(self, name: str, value, parent: str | None = None) -> None:
        self.counts.append({"name": name, "value": value, "parent": parent})

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, fh, indent=1)


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def attempt(op, i: int, what: str):
    """op(i), or None, logged, when it raises: a failed operation."""
    try:
        return op(i)
    except Exception:
        log(f"{what}-failed", op=i, error=traceback.format_exc())
        return None


# --- Spark session ---


def make_scratch(root: str, name: str) -> str:
    """This run's scratch directory in the checkout, and the environment
    that sends every temporary file of Python, Spark and the JVM there."""
    scratch = os.path.join(root, ".perfbench_scratch", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # the short-lived JVM that spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={scratch}/tmp -XX:-UsePerfData"
    return scratch


def start_spark(scratch: str):
    from exposure_notifications_private_analytics_ingestion_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    spark = get_spark(
        app_name="perfbench",
        cores=SLOTS,
        shuffle_partitions=SLOTS,
        extra_conf={
            "spark.local.dir": os.path.join(scratch, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    jvm = spark.sparkContext._jvm
    log("session", java=jvm.System.getProperty("java.version"),
        master=spark.sparkContext.master, spark=spark.version)
    return spark


def stop_spark(spark, tree: ProcTree) -> None:
    """Stop the session, end the JVM and wait until every process the run
    started has exited."""
    from pyspark import SparkContext

    pids = [p for p in tree.pids() if p != tree.root]
    # PySpark keeps the JVM it launched on the class; closing its stdin is
    # what tells the JVM to exit
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# --- hourly-prio ---


def signing_key_pem() -> bytes:
    """A fresh P-256 private key, PEM-encoded."""
    from cryptography.hazmat.primitives import serialization
    from cryptography.hazmat.primitives.asymmetric import ec

    key = ec.generate_private_key(ec.SECP256R1())
    return key.private_bytes(
        serialization.Encoding.PEM,
        serialization.PrivateFormat.PKCS8,
        serialization.NoEncryption(),
    )


def _scan_hours(h: int) -> list[str]:
    return [gen.hour_name(x) for x in sorted(check.scanned_hours(h))]


def traced_window(spark, tracer, h, in_dir, out, opts, parent) -> dict:
    """The batch core composed one public call at a time. Each layer's
    output is persisted and materialised, so each span is that layer's self
    time on top of the layer before it."""
    from pyspark.sql import functions as F

    from exposure_notifications_private_analytics_ingestion_spark.functions.avro_codec import (
        write_batch_containers,
    )
    from exposure_notifications_private_analytics_ingestion_spark.functions.signing import (
        sign_headers,
    )
    from exposure_notifications_private_analytics_ingestion_spark.model.validate import (
        split_valid,
        with_rpit,
    )
    from exposure_notifications_private_analytics_ingestion_spark.operators.batching import (
        dedup_window_chunk,
    )
    from exposure_notifications_private_analytics_ingestion_spark.operators.packets import (
        split_packets,
        turn_uuid,
    )
    from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
        build_headers,
    )

    ms, n = {}, {}
    held = []

    def keep(df):
        df = df.persist()
        held.append(df)
        return df, df.count()

    df = spark.read.parquet(in_dir).filter(F.col("ts_hour").isin(_scan_hours(h))).drop("ts_hour")
    with tracer.span("validate", parent) as s:
        valid, counters = split_valid(df)
        valid, _ = keep(valid)
        n["validate.rows_invalid"] = sum(r["n"] for r in counters.collect())
    ms["validate"] = s["ms"]
    prio = ("bins", "epsilon", "hamming_weight", "prime")
    for f in prio:  # chunk key extended by the Prio parameters
        valid = valid.withColumn(f"_k_{f}", F.col(f"prio_params.{f}"))
    with tracer.span("batching", parent) as s:
        batched = dedup_window_chunk(
            valid, opts.batch_size, opts.window_start_s, opts.duration_s,
            key_cols=["conv_id"] + [f"_k_{f}" for f in prio], dedup_key_cols=["conv_id"],
        ).drop(*[f"_k_{f}" for f in prio])
        batched, n["batching.rows_out"] = keep(batched)
    ms["batching"] = s["ms"]
    n["batching.batches"] = batched.select("batch_id").distinct().count()
    with tracer.span("rpit", parent) as s:
        rpit, _ = keep(with_rpit(batched, turn_uuid(), F.col("prio_params.bins")))
    ms["rpit"] = s["ms"]
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with tracer.span("packets", parent) as s:
        packets, n["packets.rows_out"] = keep(
            split_packets(rpit)
            .withColumn("window_start_s", F.lit(opts.window_start_s))
            .repartition(n_part, "batch_id")
        )
    ms["packets"] = s["ms"]
    with tracer.span("headers", parent) as s:
        headers, n["headers.rows_out"] = keep(build_headers(packets, opts))
    ms["headers"] = s["ms"]
    with tracer.span("signing", parent) as s:
        sigs, _ = keep(sign_headers(headers, opts.signing_key_pem, key_id=opts.signing_key_id))
    ms["signing"] = s["ms"]
    with tracer.span("avro", parent) as s:
        manifest = write_batch_containers(packets, f"{out}/avro", window_start_s=opts.window_start_s)
        files = manifest.select("path").collect()
    ms["avro"] = s["ms"]
    n["avro.files"] = len(files)
    n["avro.bytes"] = sum(os.path.getsize(r["path"]) for r in files)
    legs = ("packets", "batch_headers", "signatures")
    before = sum(dir_stats(f"{out}/{leg}")[0] for leg in legs)
    with tracer.span("triplet", parent) as s:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        for leg, df in zip(legs, (packets, headers, sigs)):
            (
                df.withColumn("window_start_s", F.lit(opts.window_start_s))
                .write.mode("overwrite")
                .partitionBy("window_start_s", "destination")
                .parquet(f"{out}/{leg}")
            )
    ms["triplet"] = s["ms"]
    n["triplet.bytes"] = sum(dir_stats(f"{out}/{leg}")[0] for leg in legs) - before
    for df in held:
        df.unpersist()
    for k, v in n.items():
        tracer.count(k, v, parent)
    return {"ms": ms, "n": n}


def spark_work(sc, group: str) -> dict:
    """Jobs, stages run and tasks run by one job group, from statusTracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def run_hourly_prio(args, scratch, tree, tracer):
    from exposure_notifications_private_analytics_ingestion_spark.plans.ingestion import (
        IngestionOptions,
        run_ingestion,
    )

    in_dir, out = f"{scratch}/documents", f"{scratch}/out"
    t = time.perf_counter()
    rec = gen.write_prio_documents(in_dir, args.seed, **PRIO)
    log("input", seconds=time.perf_counter() - t, **rec.summary())
    pem = signing_key_pem()
    docs_in = rec.docs_per_hour()

    def options(h):
        return IngestionOptions(
            window_start_s=gen.T0_S + h * 3600,
            batch_size=PRIO["batch_size"],
            emit_avro_containers=True,
            signing_key_pem=pem,
            signing_key_id=SIGNING_KEY_ID,
        )

    t_setup = time.perf_counter()
    spark = start_spark(scratch)
    sc = spark.sparkContext
    stats, windows = {}, []

    def window(h):
        """One untraced run_ingestion call (in its own job group when
        tracing): its wall and CPU time, input documents, output bytes."""
        if args.trace:
            sc.setJobGroup(f"window-{h}", f"window-{h}")
        b0 = dir_stats(out)[0]
        c0 = tree.cpu_s()
        t0 = time.perf_counter()
        try:
            stats[h] = run_ingestion(spark, in_dir, out, options(h))
            wall = time.perf_counter() - t0
        finally:
            if args.trace:
                sc.setLocalProperty("spark.jobGroup.id", None)
        cpu = tree.cpu_s() - c0
        windows.append(h)
        return {"wall": wall, "cpu": cpu, "docs": docs_in[h],
                "bytes": dir_stats(out)[0] - b0}

    ops, layer = [], []
    try:
        warm = [attempt(window, h, "warm-up") for h in range(WARMUP_OPS)]
        setup_s = time.perf_counter() - t_setup
        failed = warm.count(None)
        log("warm-up", windows=len(warm), seconds=[w and w["wall"] for w in warm])
        h, timed = WARMUP_OPS, 0.0
        while timed < args.seconds and h < PRIO["hours"]:
            t0 = time.perf_counter()
            r = attempt(window, h, "window")
            if r is None:
                failed += 1
            else:
                ops.append(r)
                log("window", window=h, wall_s=r["wall"])
            if args.trace and r is not None:
                # the same window again, one layer at a time, into its own root
                work = spark_work(sc, f"window-{h}")
                with tracer.span("window", None) as s:
                    s["id"] = f"window-{h}-traced"
                    lt = attempt(lambda h: traced_window(
                        spark, tracer, h, in_dir, f"{scratch}/out-traced", options(h), s["id"]
                    ), h, "traced-window")
                if lt is not None:
                    layer.append({**lt, "work": work, "wall_ms": r["wall"] * 1000, "traced_ms": s["ms"]})
            timed += time.perf_counter() - t0
            h += 1
        result = {"attempted": len(ops) + failed, "failed": failed, "correct": False}
        if not ops:
            return result
        t = time.perf_counter()
        try:
            checked = check.check_prio(rec, out, windows, stats, SIGNING_KEY_ID)
            log("check", ok=True, seconds=time.perf_counter() - t, **checked)
            result["correct"] = True
        except check.CheckFailed as e:
            log("check", ok=False, error=str(e))
    finally:
        stop_spark(spark, tree)
    wall = sum(o["wall"] for o in ops)
    docs = sum(o["docs"] for o in ops)
    result["end_to_end"] = {
        "setup_s": setup_s,
        "docs_per_s": docs / wall,
        "op_p50_ms": _median([o["wall"] for o in ops]) * 1000,
        "cpu_ms_per_kdoc": sum(o["cpu"] for o in ops) * 1000 / (docs / 1000),
        "peak_rss_mb": tree.peak_rss / 2**20,
        "output_bytes_per_doc": sum(o["bytes"] for o in ops) / docs,
    }
    if args.trace and layer:
        per = {}
        for name in ("validate", "batching", "rpit", "packets", "headers", "signing", "avro", "triplet"):
            per[f"{name}.ms"] = _median([x["ms"][name] for x in layer])
        for name in layer[0]["n"]:
            per[name] = _median([x["n"][name] for x in layer])
        for name in ("jobs", "stages", "tasks"):
            per[f"ingestion.{name}"] = _median([x["work"][name] for x in layer])
        per["ingestion.unattributed_ms"] = _median(
            [x["wall_ms"] - sum(x["ms"].values()) for x in layer]
        )
        per["trace.overhead_ms"] = _median([x["traced_ms"] - x["wall_ms"] for x in layer])
        result["per_layer"] = per
        result["trace"] = layer
    return result


# --- stream-resume ---


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _iso_ms(s: str) -> int:
    from datetime import datetime

    return int(datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000)


def run_stream_resume(args, scratch, tree, tracer):
    from exposure_notifications_private_analytics_ingestion_spark.streaming.ingest_stream import (
        StreamOptions,
        closed_batches_stream,
        start_stream_ingestion,
    )

    in_dir, out, ck = f"{scratch}/turns", f"{scratch}/out", f"{scratch}/checkpoint"
    S = STREAM
    t = time.perf_counter()
    rec = gen.turn_rows(args.seed, n_files=S["restarts"], turns_per_file=S["turns_per_file"])
    log("input", seconds=time.perf_counter() - t, **rec.summary())
    opts = StreamOptions(
        batch_size=S["batch_size"],
        bucket_by=S["bucket_by"],
        max_files_per_trigger=S["max_files_per_trigger"],
    )
    turns_in = [int((rec.file_of_row == f).sum()) for f in range(S["restarts"])]

    def drain(query):
        """One availableNow query, from query() to its end: its progress,
        start-call time and wall time."""
        t0 = time.perf_counter()
        w0 = time.time()
        q = query()
        start_ms = (time.perf_counter() - t0) * 1000
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        prog = _progress(q)
        first = prog[0]
        first_end = _iso_ms(first["timestamp"]) + first["durationMs"]["triggerExecution"]
        return {"wall": wall, "start_ms": start_ms, "first_epoch_ms": first_end - w0 * 1000,
                "progress": prog}

    t_setup = time.perf_counter()
    spark = start_spark(scratch)
    pending = []  # files added but not yet drained by a restart that ended
    restarts, noop = [], {}

    def restart(k):
        gen.write_turn_files(rec, in_dir, [k])
        pending.append(k)
        b0, f0 = dir_stats(out)
        c0 = tree.cpu_s()
        r = drain(lambda: start_stream_ingestion(spark, in_dir, out, ck, opts))
        cpu = tree.cpu_s() - c0
        b1, f1 = dir_stats(out)
        # a failed restart leaves its file to the next one
        turns = sum(turns_in[f] for f in pending)
        pending.clear()
        return {**r, "k": k, "cpu": cpu, "turns": turns, "sink_bytes": b1 - b0, "sink_files": f1 - f0}

    try:
        warm = [attempt(restart, k, "warm-up") for k in range(WARMUP_OPS)]
        setup_s = time.perf_counter() - t_setup
        failed = warm.count(None)
        log("warm-up", restarts=len(warm), seconds=[w and w["wall"] for w in warm])
        k, timed = WARMUP_OPS, 0.0
        while timed < args.seconds and k < S["restarts"]:
            t0 = time.perf_counter()
            r = attempt(restart, k, "restart")
            if r is None:
                failed += 1
            else:
                restarts.append(r)
                log("restart", k=k, wall_s=r["wall"], epochs=len(r["progress"]))
            timed += time.perf_counter() - t0
            k += 1
        result = {"attempted": len(restarts) + failed, "failed": failed, "correct": False}
        if not restarts:
            return result
        last = restarts[-1]
        t = time.perf_counter()
        try:
            wm = _iso_ms(last["progress"][-1]["eventTime"]["watermark"])
            checked = check.check_stream(rec, last["k"] + 1, out, wm, S["batch_size"])
            log("check", ok=True, seconds=time.perf_counter() - t, **checked)
            result["correct"] = True
        except check.CheckFailed as e:
            log("check", ok=False, error=str(e))
        if args.trace:
            # the assembler alone: the same restarts over the same files, on
            # their own checkpoint, into a no-op sink; restart k here and
            # restart k above differ only in the sink
            def noop_restart(j):
                gen.write_turn_files(rec, f"{scratch}/turns-noop", [j])
                return drain(lambda: (
                    closed_batches_stream(spark, f"{scratch}/turns-noop", opts)
                    .writeStream.format("noop")
                    .option("checkpointLocation", f"{scratch}/checkpoint-noop")
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                ))["progress"]

            for j in range(last["k"] + 1):
                noop[j] = attempt(noop_restart, j, "noop-restart")
    finally:
        stop_spark(spark, tree)
    wall = sum(r["wall"] for r in restarts)
    turns = sum(r["turns"] for r in restarts)
    result["end_to_end"] = {
        "setup_s": setup_s,
        "docs_per_s": turns / wall,
        "op_p50_ms": _median([r["wall"] for r in restarts]) * 1000,
        "cpu_ms_per_kdoc": sum(r["cpu"] for r in restarts) * 1000 / (turns / 1000),
        "peak_rss_mb": tree.peak_rss / 2**20,
        "output_bytes_per_doc": sum(r["sink_bytes"] for r in restarts) / turns,
    }
    if args.trace:
        epochs = [p for r in restarts for p in r["progress"]]
        data = [p for p in epochs if p["numInputRows"] > 0]
        for r in restarts:
            parent = f"restart-{r['k']}"
            for p in r["progress"]:
                s = _iso_ms(p["timestamp"]) / 1000
                tracer.spans.append({
                    "id": f"epoch-{p['batchId']}", "name": "epoch", "parent": parent,
                    "start": s, "end": s + p["durationMs"]["triggerExecution"] / 1000,
                    "durations_ms": p["durationMs"], "rows": p["numInputRows"],
                })

        def d(p, *keys):
            return sum(p["durationMs"].get(k, 0) for k in keys)

        def so(p, key):
            return p["stateOperators"][0][key] if p["stateOperators"] else 0

        def add_batch(prog):
            """addBatch summed over a restart's epochs: the data epoch and
            the no-data epoch that closes the window."""
            return sum(d(p, "addBatch") for p in prog)

        paired = [r for r in restarts if noop.get(r["k"])]
        per = {
            "source.ms": _median([d(p, "latestOffset", "getBatch") for p in data]),
            "planning.ms": _median([d(p, "queryPlanning") for p in data]),
            "assembler.ms": _median([add_batch(noop[r["k"]]) for r in paired]),
            "sink.ms": _median([add_batch(r["progress"]) - add_batch(noop[r["k"]]) for r in paired]),
            "sink.bytes": _median([r["sink_bytes"] for r in restarts]),
            "sink.files": _median([r["sink_files"] for r in restarts]),
            "commit.ms": _median([d(p, "walCommit", "commitOffsets") for p in data]),
            "state.rows": _median([so(p, "numRowsTotal") for p in data]),
            "state.memory_bytes": _median([so(p, "memoryUsedBytes") for p in data]),
            "state.commit_ms": _median([so(p, "commitTimeMs") for p in data]),
            "state.update_ms": _median([so(p, "allUpdatesTimeMs") for p in data]),
            "state.load_ms": _median([
                r["progress"][0]["stateOperators"][0]["customMetrics"].get("rocksdbLoadLatencyMs", 0)
                for r in restarts if r["progress"][0]["stateOperators"]
            ]),
            "stream.epochs": len(epochs),
            "stream.epoch_ms": _median([d(p, "triggerExecution") for p in data]),
            "stream.rows_per_epoch": _median([p["numInputRows"] for p in data]),
            "stream.late_rows": sum(so(p, "numRowsDroppedByWatermark") for p in epochs),
            "resume.start_ms": _median([r["start_ms"] for r in restarts]),
            "resume.first_epoch_ms": _median([r["first_epoch_ms"] for r in restarts]),
            "resume.epochs": _median([len(r["progress"]) for r in restarts]),
            # the timed restarts carry no instrument: progress is Spark's own
            "trace.overhead_ms": 0.0,
        }
        result["per_layer"] = per
        result["trace"] = [{k: v for k, v in r.items() if k != "progress"} for r in restarts]
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, ENGINE)):
        print(f"perfbench: no {ENGINE}/ in {root}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    scratch = make_scratch(root, f"{args.workload}-{args.seed}")

    import pyspark

    cpu0 = _cpu_counters()
    log(
        "host",
        nproc=os.cpu_count(),
        slots=SLOTS,
        driver_mem=DRIVER_MEM,
        calibration_s=calibration_s(),
        python=platform.python_version(),
        spark=pyspark.__version__,
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
    )
    tree = ProcTree()
    tree.start()
    tracer = Tracer()
    run = run_hourly_prio if args.workload == "hourly-prio" else run_stream_resume
    try:
        result = run(args, scratch, tree, tracer)
    finally:
        tree.stop()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass  # another run still uses it
    cpu1 = _cpu_counters()
    total = cpu1[0] - cpu0[0]
    log("host-end", steal_pct=100 * (cpu1[1] - cpu0[1]) / total if total else 0.0,
        calibration_s=calibration_s())
    log("instruments", own_cpu_s=tree.own_cpu_s, rss_samples=tree.samples)
    kind = "per_layer" if args.trace else "end_to_end"
    if kind not in result:  # no operation succeeded, or no traced one did
        print(json.dumps({"correct": False, "attempted": result["attempted"],
                          "failed": result["failed"], "metrics": {}}))
        return 0
    # metric names and units come from BENCHMARK.json; a layer the
    # workload does not run reads 0
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[kind]
    units = {m["name"]: m["unit"] for m in spec}
    values = {**{k: 0.0 for k in units}, **result[kind]}
    if args.trace:
        tracer.write(
            os.path.join(root, ".perfbench_out", f"trace-{args.workload}-{args.seed}-{os.getpid()}.json"),
            {"workload": args.workload, "seed": args.seed, "per_layer": result["per_layer"],
             "end_to_end_untraced": result["end_to_end"], "operations": result["trace"]},
        )
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
