"""The benchmark's workloads, their correctness gates and their metrics.

Every workload drives the engine's public API with engine defaults
(``apply_batch`` keeps ``dedup="broadcast"``, which is what
``start_replay`` runs) and gives the engine only the parquet files it
generated beforehand with ``fixtures.changelog`` and the run's seed.

- ``replay_webcrawl``: closed loop, one caller, large batches of
  near-unique urls straight through ``apply_batch``: the bulk-ingest
  path where the extract UDF and the delta write dominate.
- ``stream_hot_updates``: open loop. ``start_replay`` tails a WAL
  directory into which segments are renamed on a fixed schedule; few
  hot keys, exact duplicates, late and poisoned rows: the per-commit
  fixed cost, quarantine, dedup and compaction spikes dominate.

After the window each run reads the table once (lookup, count, change
read) to check the read path; a traced run reads three times for the
read layers' medians. Correctness checks run after the window, so the
oracle's queries are never timed. The traced run adds spans, the
extract probe, a compaction and bloom harvest, a streamed replay of
the first batches (the streaming layer on the closed loop) and, on
``replay_webcrawl``, a single-core baseline. DESIGN.md has the
definitions and the reasons.
"""

from __future__ import annotations

import glob
import json
import math
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import traceback
from typing import Any, Callable

import pandas as pd
from pyspark.sql import functions as F

from yadamu___yet_another_data_migration_utility_spark import session
from yadamu___yet_another_data_migration_utility_spark.fixtures.changelog import (
    PAGE_SCHEMA, changelog_df,
)
from yadamu___yet_another_data_migration_utility_spark.functions.extract import (
    extract_text_series,
)
from yadamu___yet_another_data_migration_utility_spark.operators import apply as apply_mod
from yadamu___yet_another_data_migration_utility_spark.sources.fsio import LocalFS
from yadamu___yet_another_data_migration_utility_spark.sources.laketable import LakeTable
from yadamu___yet_another_data_migration_utility_spark.streaming import stream as stream_mod

from perfbench import stats
from perfbench.oracle import Oracle
from perfbench.tracer import Tracer, descendants, inclusive, self_times

SCHEMA = stream_mod.CHANGELOG_SCHEMA

#: replay_webcrawl: events per batch, and the batches applied back to
#: back before the window opens
REPLAY_BATCH = 50_000
REPLAY_WARMUP = 3
#: stream_hot_updates: events per WAL segment, key space, and the
#: fixed offered schedule, about 60% of the capacity measured on a
#: 4-core host
STREAM_SEGMENT = 5_000
STREAM_URLS = 2_000
STREAM_INTERVAL_S = 2.0
STREAM_COMPACT_EVERY = 4
#: segments the stream applies back to back before the window opens
STREAM_WARMUP = 4
#: keys per lookup call, and read rounds after the window in a traced run
LOOKUP_KEYS = 8
PROBE_ROUNDS = 3
#: per-layer metrics read from Spark's internal status store
STATUS_STORE_METRICS = {"merge.executor_run_s", "merge.executor_cpu_s",
                        "merge.shuffle_write_mb"}


class Ctx:
    """State of one benchmark run."""

    def __init__(self, args, root: str, spark, work: str):
        self.args = args
        self.trace = bool(args.trace)
        self.root = root
        self.spark = spark
        self.work = work
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(spark, args.workload)
        self.oracle = Oracle(temp_dir=os.path.join(work, "tmp"))
        self.samples: dict[str, list[float]] = {}
        #: (traced?, seconds) per write, for the tracing overhead
        self.writes: list[tuple[bool, float]] = []
        self.checks: list[Callable[[], None]] = []
        self.layer: dict[str, float] = {}
        self.detail: dict[str, Any] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.events = 0          # events applied in the window
        self.table_events = 0    # events applied to the measured table
        self.window_s = 0.0
        self.table_root = os.path.join(work, "table")
        self._mark = time.perf_counter()
        self.phases: dict[str, float] = {}

    def mark(self, phase: str) -> None:
        """Charge the time since the previous mark to ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = self.phases.get(phase, 0.0) + now - self._mark
        self._mark = now

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def gate(self, ok: bool, msg: str) -> None:
        if not ok:
            self.failures.append(msg)
            print(f"perfbench: GATE FAILED: {msg}", file=sys.stderr)

    def op(self, name: str, fn: Callable[[], Any], batch_id: int | None = None) -> Any:
        """Run one counted operation under a top-level span. A raise
        counts as failed and ends the run."""
        self.attempted += 1
        try:
            with self.tracer.span(f"op.{name}", batch_id=batch_id) as rec:
                out = fn()
                if rec is not None and isinstance(out, dict):
                    rec.update({k: v for k, v in out.items() if k != "rows"})
        except Exception:
            self.failed += 1
            raise
        return out


# -- setup ---------------------------------------------------------------

def host_info() -> dict[str, Any]:
    import duckdb
    import pyarrow
    import pyspark
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"cores": len(os.sched_getaffinity(0)), "mem_bytes": mem,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__, "python": sys.version.split()[0]}


def driver_memory_mb(mem_bytes: int) -> int:
    """An eighth of host RAM, within [1, 4] GiB: the engine pre-touches
    the whole heap at start-up, so it must fit beside the workers."""
    return max(1024, min(4096, mem_bytes // 8 // 2**20))


def start_spark(root: str, work: str, cores: int, mem_mb: int):
    """The engine's own session (``session.get_spark``) with the master
    and driver heap sized from this host, the package on the Python
    workers' path and all scratch inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    return session.get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        extra_conf={"spark.driver.memory": f"{mem_mb}m",
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(work, "warehouse")})


def write_batches(df, out: str, n: int, size: int, one_file: bool = False
                  ) -> list[list[str]]:
    """Write ``df`` (lsn 1..n*size) as ``n`` parquet directories of
    ``size`` consecutive lsns each (exact re-deliveries ride with their
    lsn), in one Spark job. With ``one_file`` each batch is a single
    lsn-sorted file, a WAL segment. Returns each batch's files."""
    df = df.withColumn("_b", F.floor((F.col("lsn") - 1) / size))
    if one_file:
        df = df.repartition("_b").sortWithinPartitions("_b", "lsn")
    df.write.partitionBy("_b").parquet(out)
    files = [sorted(glob.glob(os.path.join(out, f"_b={b}", "*.parquet")))
             for b in range(n)]
    if not all(files):
        raise RuntimeError(f"empty batch among {[len(f) for f in files]}")
    return files


def read_batch(ctx: Ctx, files: list[str]):
    return ctx.spark.read.schema(SCHEMA).parquet(*files)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# -- operations and their checks --------------------------------------------

def engine_state(ctx: Ctx, tbl: LakeTable):
    """The table's snapshot as an Arrow table of the oracle's columns."""
    return tbl.read(ctx.spark).select(
        "url", F.col("_lsn").alias("lsn"),
        F.unix_micros("warc_ts").alias("warc_us"), "lang").toArrow()


def check_state(ctx: Ctx, tbl: LakeTable, upto: int) -> None:
    diffs = ctx.oracle.diff(engine_state(ctx, tbl), upto)
    ctx.gate(not diffs, f"final table differs from the oracle: {diffs}")
    ctx.mark("state_check")


def check_batches(ctx: Ctx, metrics: list) -> None:
    """``check_invariant`` and the oracle's counts for every batch, in
    oracle order."""
    for b, m in enumerate(metrics):
        try:
            m.check_invariant()
        except AssertionError as e:
            ctx.gate(False, f"batch {m.batch_id}: {e}")
        want = ctx.oracle.batch_counts(b)
        got = {k: getattr(m, k) for k in want}
        ctx.gate(got == want, f"batch {m.batch_id} counts {got} != oracle {want}")
        ctx.table_events += m.rows_in


def lookup_keys(ctx: Ctx, upto: int) -> list[str]:
    """Seeded mix of live keys, keys the inputs mention (live or not)
    and keys no input has."""
    urls = ctx.oracle.urls(upto)
    live = ctx.oracle.state(upto)["url"].tolist()
    ks = ctx.rng.sample(live, min(len(live), LOOKUP_KEYS // 2))
    ks += ctx.rng.sample(urls, min(len(urls), LOOKUP_KEYS // 4))
    ks += [f"https://absent{ctx.rng.randrange(10**9)}.example/p/0"
           for _ in range(LOOKUP_KEYS - len(ks))]
    return ks


def do_lookup(ctx: Ctx, tbl: LakeTable, keys: list[str],
              version: int | None = None) -> Callable[[int], None]:
    """One lookup. Returns its check against the oracle after a
    given number of batches; the text of every hit must also be
    byte-identical to the pinned extractor's."""
    rows = ctx.op("lookup", lambda: {"rows": tbl.lookup(ctx.spark, keys, version=version)
                                     .select("url", "_lsn", "text").collect()})["rows"]
    ctx.add("lookup.files_planned", len(
        sum(tbl.plan_files(version=version, keys=keys).values(), [])))

    def check(upto: int) -> None:
        got = sorted((r["url"], r["_lsn"]) for r in rows)
        exp = ctx.oracle.state(upto, keys=keys)
        want = sorted(zip(exp["url"], exp["lsn"].astype(int)))
        ctx.gate(got == want, f"lookup of {keys[:2]}...: {got[:2]} != oracle {want[:2]}")
        html = ctx.oracle.html([(r["url"], r["_lsn"]) for r in rows])
        for r in rows:
            pinned = extract_text_series(
                pd.Series([html.get((r["url"], r["_lsn"]))], dtype=object)).iloc[0]
            ctx.gate(r["text"] == pinned, f"text of {r['url']}@{r['_lsn']} is not "
                     "byte-identical to extract_text_series")
    return check


def do_scan(ctx: Ctx, tbl: LakeTable, version: int | None = None
            ) -> Callable[[int], None]:
    """One full count; returns its check (see ``do_lookup``)."""
    m = tbl.manifest(version)
    ctx.add("scan.delta_files", sum(len(v) for v in m.get("deltas", {}).values()))
    n = ctx.op("scan", lambda: {"rows": tbl.read(ctx.spark, version=version).count()}
               )["rows"]

    def check(upto: int) -> None:
        want = len(ctx.oracle.state(upto))
        ctx.gate(n == want, f"scan counted {n} rows, oracle {want}")
    return check


def do_changes(ctx: Ctx, tbl: LakeTable, since: int, until: int | None
               ) -> Callable[[int, int], None]:
    """One read_changes over ``(since, until]``. Its check takes
    the batches ``[lo, hi)`` that window committed: the upserts must
    be the oracle's net upserts of those batches."""
    rows = ctx.op("changes", lambda: {"rows": tbl.read_changes(ctx.spark, since, until)
                                      .filter(F.col(LakeTable.CHANGE_COL) == "upsert")
                                      .select("url", "_lsn").collect()})["rows"]
    ctx.add("changes.rows", len(rows))

    def check(lo: int, hi: int) -> None:
        exp = ctx.oracle.upserts(lo, hi)
        got = sorted((r["url"], r["_lsn"]) for r in rows)
        want = sorted(zip(exp["url"], exp["lsn"].astype(int)))
        ctx.gate(got == want, f"read_changes({since}, {until}): {len(got)} upserts, "
                 f"oracle {len(want)}")
    return check


def probe_reads(ctx: Ctx, tbl: LakeTable, upto: int, version: int,
                changes_since: int) -> None:
    """Lookups, scans and change reads at ``version``, the commit of
    batch ``upto - 1``; the change reads start after ``changes_since``,
    the commit before it. One round checks the read path; a traced run
    makes ``PROBE_ROUNDS`` for the read layers' medians."""
    ctx.mark("after_window")
    ctx.tracer.phase = "probe"
    for _ in range(PROBE_ROUNDS if ctx.trace else 1):
        lk = do_lookup(ctx, tbl, lookup_keys(ctx, upto), version)
        sc = do_scan(ctx, tbl, version)
        ch = do_changes(ctx, tbl, changes_since, version)
        ctx.checks += [lambda lk=lk: lk(upto), lambda sc=sc: sc(upto),
                       lambda ch=ch: ch(upto - 1, upto)]
    ctx.mark("probe")


def traced_maintenance(ctx: Ctx, tbl: LakeTable, upto: int) -> None:
    """Traced runs: compaction and a bloom harvest, after which scans
    and lookups must still match the oracle."""
    ctx.tracer.phase = "maintenance"
    ctx.op("compact", lambda: {"version": tbl.compact(ctx.spark)})
    ctx.op("blooms", lambda: tbl.harvest_blooms(ctx.spark))
    sc = do_scan(ctx, tbl)
    lk = do_lookup(ctx, tbl, lookup_keys(ctx, upto))
    ctx.checks += [lambda: sc(upto), lambda: lk(upto)]


def closed_loop(ctx: Ctx, tbl: LakeTable, files: list[list[str]], seconds: float,
                first: int) -> list:
    """Apply batches ``first, first+1, ...`` back to back until the
    window has passed (and at least one batch is in) or the inputs run
    out. A batch is due when the previous one returns, so its lag is
    its own latency. Tracing, when on, covers every other batch."""
    metrics = []
    ctx.mark("setup")
    ctx.tracer.phase = "window"
    t_start = time.perf_counter()
    last_end = None
    for b, fl in enumerate(files[first:], start=first):
        if b > first and time.perf_counter() - t_start >= seconds:
            break
        ctx.oracle.add_batch(fl)
        ctx.tracer.on = ctx.trace and b % 2 == 1
        t0 = time.perf_counter()
        if last_end is not None:
            ctx.add("caller_gap", t0 - last_end)
        m = ctx.op("apply", lambda: apply_mod.apply_batch(tbl, read_batch(ctx, fl), b),
                   batch_id=b)
        dt = time.perf_counter() - t0
        ctx.add("batch", dt)
        ctx.add("lag", dt)
        ctx.writes.append((ctx.tracer.on, dt))
        metrics.append(m)
        ctx.events += m.rows_in
        last_end = time.perf_counter()
    ctx.tracer.on = ctx.trace
    ctx.window_s = time.perf_counter() - t_start
    ctx.mark("window")
    return metrics


# -- workloads -------------------------------------------------------------

def replay_webcrawl(ctx: Ctx) -> dict[str, float]:
    seconds = ctx.args.seconds
    # one batch per 2 s of window (a batch took 2.0-2.5 s when this was
    # written); a faster engine runs out early and measures a shorter window
    n_batches = REPLAY_WARMUP + math.ceil(seconds / 2.0)
    t0 = time.perf_counter()
    df = changelog_df(ctx.spark, n_batches * REPLAY_BATCH,
                      n_urls=100 * n_batches * REPLAY_BATCH, seed=ctx.args.seed,
                      hot_fraction=0.02, n_hot=100)
    files = write_batches(df, os.path.join(ctx.work, "in"), n_batches, REPLAY_BATCH)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    # warm-up: the first batches, applied to the measured table untimed
    tbl = LakeTable.create(ctx.table_root, PAGE_SCHEMA, "url")
    metrics = []
    for b, fl in enumerate(files[:REPLAY_WARMUP]):
        ctx.oracle.add_batch(fl)
        metrics.append(apply_mod.apply_batch(tbl, read_batch(ctx, fl), b))
    warm_s = time.perf_counter() - t0
    metrics += closed_loop(ctx, tbl, files, seconds, first=REPLAY_WARMUP)
    check_batches(ctx, metrics)
    ctx.layer["stored_bytes"] = dir_bytes(tbl.root)
    # reads look at the table the warm-up left, the same in every run
    k = REPLAY_WARMUP
    probe_reads(ctx, tbl, k, metrics[k - 1].version, metrics[k - 2].version)
    check_state(ctx, tbl, len(metrics))
    if ctx.trace:
        traced_maintenance(ctx, tbl, len(metrics))
        streamed_replay(ctx, files[:2])
        ctx.detail["local1_baseline"] = local1_baseline(ctx, files)
    return {"gen_s": gen_s, "warmup_s": warm_s}


def stream_hot_updates(ctx: Ctx) -> dict[str, float]:
    seconds = ctx.args.seconds
    n_seg = STREAM_WARMUP + max(2, math.ceil(seconds / STREAM_INTERVAL_S))
    t0 = time.perf_counter()
    df = changelog_df(ctx.spark, n_seg * STREAM_SEGMENT, n_urls=STREAM_URLS,
                      seed=ctx.args.seed, poison_mod=500)
    segs = [fl[0] for fl in write_batches(df, os.path.join(ctx.work, "staging"),
                                          n_seg, STREAM_SEGMENT, one_file=True)]
    gen_s = time.perf_counter() - t0
    wal = os.path.join(ctx.work, "wal")
    os.makedirs(wal)
    landed = [os.path.join(wal, f"{i:05d}.parquet") for i in range(len(segs))]
    for f in landed:
        ctx.oracle.add_batch([f])

    tbl = LakeTable.create(ctx.table_root, PAGE_SCHEMA, "url")
    done: dict[int, tuple[float, Any]] = {}
    cv = threading.Condition()

    def on_metrics(m) -> None:
        with cv:
            done[m.batch_id] = (time.perf_counter(), m)
            cv.notify_all()

    last_mtime = [0]

    def land(i: int) -> None:
        # the file source takes the oldest file first, by millisecond
        # mtime: give each segment a distinct, later one
        os.rename(segs[i], landed[i])
        last_mtime[0] = max(time.time_ns(), last_mtime[0] + 10**7)
        os.utime(landed[i], ns=(last_mtime[0], last_mtime[0]))

    def wait(n: int, timeout: float) -> None:
        with cv:
            cv.wait_for(lambda: len(done) >= n or q.exception() is not None, timeout)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")

    ctx.tracer.on = ctx.trace
    ctx.tracer.batch_filter = lambda b: b % 2 == 1
    t0 = time.perf_counter()
    q = stream_mod.start_replay(
        ctx.spark, tbl, wal, os.path.join(ctx.work, "checkpoint"),
        available_now=False, on_metrics=on_metrics,
        compact_every=STREAM_COMPACT_EVERY)
    due, late, backlog = {}, [], 0
    try:
        # warm-up: the first segments, landed at once and not measured
        for i in range(STREAM_WARMUP):
            land(i)
        wait(STREAM_WARMUP, 120)
        warm_s = time.perf_counter() - t0
        ctx.mark("setup")
        ctx.tracer.phase = "window"
        t_start = time.perf_counter() + 0.5
        for i in range(STREAM_WARMUP, len(segs)):
            due[i] = t_start + (i - STREAM_WARMUP) * STREAM_INTERVAL_S
            time.sleep(max(0.0, due[i] - time.perf_counter()))
            land(i)
            late.append(time.perf_counter() - due[i])
            with cv:
                backlog = max(backlog, i - len(done) + 1)
        wait(len(segs), 60)
        # the last trigger reports its progress after its sink returns
        t_end = time.perf_counter() + 10
        while (sum(p.numInputRows > 0 for p in q.recentProgress) < len(done)
               and time.perf_counter() < t_end):
            time.sleep(0.05)
    finally:
        q.stop()
        q.awaitTermination(30)
    ctx.mark("window")
    ctx.tracer.batch_filter = lambda b: True
    ctx.attempted += len(segs)
    ctx.failed += len(segs) - len(done)
    ctx.gate(sorted(done) == list(range(len(segs))),
             f"applied batches {sorted(done)} != segments 0..{len(segs) - 1}")
    ctx.window_s = max(t for t, _ in done.values()) - t_start
    for b in range(STREAM_WARMUP, len(segs)):
        t, m = done[b]
        ctx.add("lag", t - due[b])
        ctx.writes.append((ctx.trace and b % 2 == 1, t - due[b]))
        ctx.events += m.rows_in
    progress = [p for p in q.recentProgress
                if p.numInputRows > 0 and p.batchId >= STREAM_WARMUP]
    for p in progress:
        ctx.add("batch", p.durationMs["triggerExecution"] / 1e3)
    stream_progress(ctx, progress)
    ctx.layer["stream.backlog_max"] = backlog
    ctx.layer["stream.generator_late_s"] = stats.median(late)
    metrics = [done[b][1] for b in range(len(segs))]
    check_batches(ctx, metrics)
    ctx.layer["stored_bytes"] = dir_bytes(tbl.root)
    n = len(segs)
    probe_reads(ctx, tbl, n, tbl.current_version(), metrics[n - 2].version)
    check_state(ctx, tbl, n)
    if ctx.trace:
        traced_maintenance(ctx, tbl, n)
    return {"gen_s": gen_s, "warmup_s": warm_s}


def stream_progress(ctx: Ctx, progress: list) -> None:
    for key, name in (("triggerExecution", "trigger_s"), ("addBatch", "add_batch_s"),
                      ("walCommit", "wal_commit_s"), ("commitOffsets", "commit_offsets_s"),
                      ("latestOffset", "latest_offset_s")):
        ctx.layer[f"stream.{name}"] = stats.median(
            [p.durationMs.get(key, 0) / 1e3 for p in progress])


def streamed_replay(ctx: Ctx, files: list[list[str]]) -> None:
    """Traced runs of the closed-loop workloads: replay their first
    batches through ``start_replay`` (default trigger, as many files
    per trigger as a batch has) into a fresh table, which must match
    the oracle. This gives the streaming layer's metrics on these
    workloads. Their inputs carry no poison, so the final state does
    not depend on how files group into triggers."""
    ctx.tracer.phase = "streamed_replay"
    wal = os.path.join(ctx.work, "eqwal")
    os.makedirs(wal)
    oracle = Oracle(temp_dir=os.path.join(ctx.work, "tmp"))
    try:
        for fl in files:
            oracle.add_batch(fl)
            for f in fl:  # copied in order: the file source reads oldest first
                shutil.copyfile(f, os.path.join(wal, f"{len(os.listdir(wal)):05d}.parquet"))
        tbl = LakeTable.create(os.path.join(ctx.work, "eqtable"), PAGE_SCHEMA, "url")
        ctx.attempted += 1
        q = stream_mod.start_replay(ctx.spark, tbl, wal, os.path.join(ctx.work, "eqckpt"),
                                    max_files_per_trigger=max(map(len, files)))
        q.awaitTermination(120)
        if q.exception() is not None or q.isActive:
            ctx.failed += 1
            ctx.gate(False, f"streamed replay did not finish: {q.exception()}")
            q.stop()
            return
        stream_progress(ctx, [p for p in q.recentProgress if p.numInputRows > 0])
        diffs = oracle.diff(engine_state(ctx, tbl))
        ctx.gate(not diffs, f"streamed replay differs from the oracle: {diffs}")
    finally:
        oracle.close()
    # a closed loop queues nothing; its generator is the caller itself
    ctx.layer["stream.backlog_max"] = 0
    ctx.layer["stream.generator_late_s"] = stats.median(ctx.samples["caller_gap"])


def local1_baseline(ctx: Ctx, files: list[list[str]]) -> dict[str, Any]:
    """Single-core diagnostic: the same batches applied by a
    ``local[1]`` engine in a child process for a short window."""
    spec = os.path.join(ctx.work, "local1.json")
    with open(spec, "w") as f:
        json.dump({"files": files}, f)
    cmd = [sys.executable, os.path.join(ctx.root, "perfbench", "run.py"),
           "--workload", "replay_webcrawl", "--seed", str(ctx.args.seed),
           "--seconds", str(min(ctx.args.seconds, 6)), "--trace", "0",
           "--baseline-inputs", spec]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=150)
    if out.returncode != 0:
        return {"error": out.stderr[-500:]}
    return json.loads(out.stdout.strip().splitlines()[-1])


def baseline_run(args, root: str) -> None:
    """Child side of ``local1_baseline``: apply the given batches at
    ``local[1]`` and print events per second."""
    work = os.path.join(root, ".bench_work", "local1")
    shutil.rmtree(work, ignore_errors=True)
    spark = start_spark(root, work, 1, 1024)
    try:
        with open(args.baseline_inputs) as f:
            files = json.load(f)["files"]
        ctx = Ctx(args, root, spark, work)
        tbl = LakeTable.create(ctx.table_root, PAGE_SCHEMA, "url")
        apply_mod.apply_batch(tbl, read_batch(ctx, files[0]), 0)  # warm-up
        closed_loop(ctx, tbl, files, args.seconds, first=1)
        print(json.dumps({"cores": 1, "events_per_s": ctx.events / ctx.window_s,
                          "batches": len(ctx.samples["batch"])}))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


WORKLOADS = {
    "replay_webcrawl": replay_webcrawl,
    "stream_hot_updates": stream_hot_updates,
}


# -- per-layer metrics -----------------------------------------------------

def extract_probe(ctx: Ctx) -> None:
    """Driver-side ``extract_text_series`` on a seeded sample of the
    workload's html, and the extract share of an apply: the workload's
    last batch applied with and without extract to fresh tables."""
    files = ctx.oracle.batches[-1]
    html = pd.Series(ctx.oracle.html_sample(len(ctx.oracle.batches) - 1, 2000,
                                            ctx.args.seed), dtype=object)
    took = []
    for _ in range(3):
        t0 = time.perf_counter()
        extract_text_series(html)
        took.append(time.perf_counter() - t0)
    t = stats.median(took)
    ctx.layer["extract.pages_per_s"] = len(html) / t
    ctx.layer["extract.mb_per_s"] = html.map(len).sum() / 2**20 / t
    times: dict[bool, list[float]] = {True: [], False: []}
    for rep in range(2):
        for run_extract in (True, False):
            root = os.path.join(ctx.work, f"xprobe-{rep}-{run_extract}")
            tbl = LakeTable.create(root, PAGE_SCHEMA, "url")
            t0 = time.perf_counter()
            apply_mod.apply_batch(tbl, read_batch(ctx, files), 0, run_extract=run_extract)
            times[run_extract].append(time.perf_counter() - t0)
            shutil.rmtree(root)
    with_x, without = stats.median(times[True]), stats.median(times[False])
    ctx.layer["extract.batch_share"] = (with_x - without) / with_x


def committed_files(tbl: LakeTable, version: int) -> tuple[int, int]:
    """Files a commit added to the manifest, and their bytes."""
    def files(v):
        m = tbl.manifest(v)
        return {f for w in ("buckets", "deltas") for fl in m.get(w, {}).values()
                for f in fl}
    new = files(version) - files(version - 1)
    return len(new), sum(os.path.getsize(os.path.join(tbl.root, f)) for f in new)


def layer_metrics(ctx: Ctx) -> None:
    """Per-layer metrics from the recorded spans, as medians per call.
    Warm-up spans are left out; those of the streamed replay feed only
    the streaming layer."""
    spans = [s for s in ctx.tracer.spans
             if s["phase"] not in ("setup", "streamed_replay")]
    own = self_times(spans)
    count = {f: inclusive(spans, f) for f in ("jobs", "stages", "tasks")}
    tbl = LakeTable(ctx.table_root)
    L = ctx.layer

    def med(vals):
        return stats.median(vals) if vals else 0.0

    def of(op):
        return [s for s in spans if s["op"] == op]

    applies = of("apply_batch")
    L["apply.busy_s"] = med([s["elapsed_sec"] for s in applies])
    L["apply.self_s"] = med([own[s["span_id"]] for s in applies])
    for f in ("jobs", "stages", "tasks"):
        L[f"apply.{f}"] = med([count[f][s["span_id"]] for s in applies])
    res = [s["result"] for s in applies if "result" in s]
    for k, name in (("rows_in", "rows_in"), ("rows_quarantined", "rows_quarantined"),
                    ("rows_deduped", "rows_deduped"), ("rows_merged_in", "rows_merged")):
        L[f"apply.{name}"] = med([r[k] for r in res])
    L["apply.useful_ratio"] = (sum(r["rows_merged_in"] for r in res)
                               / max(1, sum(r["rows_in"] for r in res)))
    under = [descendants(spans, s["span_id"]) for s in applies]
    L["laketable.manifest_reads"] = med([sum(d["op"] == "table.manifest" for d in u)
                                         for u in under])
    L["fsio.calls"] = med([sum(d["op"].startswith("fs.") for d in u) for u in under])
    L["fsio.busy_s"] = med([sum(d["elapsed_sec"] for d in u if d["op"].startswith("fs."))
                            for u in under])

    merges = of("table.merge")
    L["merge.busy_s"] = med([s["elapsed_sec"] for s in merges])
    L["merge.jobs"] = med([count["jobs"][s["span_id"]] for s in merges])
    if merges and "executor_run_s" in merges[0]:
        for name in STATUS_STORE_METRICS:
            tot = inclusive(spans, name.split(".", 1)[1])
            L[name] = med([tot[s["span_id"]] for s in merges])
    written = [committed_files(tbl, s["result"]["version"]) for s in merges
               if s.get("result", {}).get("version")]
    L["merge.files_written"] = med([w[0] for w in written])
    L["merge.bytes_written"] = med([w[1] for w in written])

    for name in ("lookup", "scan", "changes"):
        L[f"{name}.busy_s"] = med([s["elapsed_sec"] for s in of(f"op.{name}")])
    L["lookup.jobs"] = med([count["jobs"][s["span_id"]] for s in of("op.lookup")])
    L["lookup.files_planned"] = med(ctx.samples.get("lookup.files_planned", []))
    L["scan.delta_files"] = med(ctx.samples.get("scan.delta_files", []))
    L["changes.rows"] = med(ctx.samples.get("changes.rows", []))
    # a compaction that finds no bucket over its file limit commits nothing
    compacts = [s for s in of("table.compact") if s.get("returned")]
    L["compact.busy_s"] = med([s["elapsed_sec"] for s in compacts])
    L["compact.buckets_rewritten"] = med([
        tbl.manifest(s["returned"])["summary"]["buckets_rewritten"] for s in compacts])
    L["blooms.busy_s"] = med([s["elapsed_sec"] for s in of("table.harvest_blooms")])
    m = tbl.manifest()
    L["table.live_files"] = sum(len(v) for w in ("buckets", "deltas")
                                for v in m.get(w, {}).values())
    on = [v for traced, v in ctx.writes if traced]
    off = [v for traced, v in ctx.writes if not traced]
    L["trace.overhead_pct"] = (100 * (med(on) / med(off) - 1)) if on and off else 0.0


# -- one run ---------------------------------------------------------------

def run(args, root: str) -> tuple[dict[str, Any], dict[str, Any]]:
    """Set up, run one workload, check it, and return the result line
    and the detail record."""
    host = host_info()
    work = os.path.join(root, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.perf_counter()
    spark = start_spark(root, work, host["cores"], driver_memory_mb(host["mem_bytes"]))
    jvm_s = time.perf_counter() - t0
    ctx = Ctx(args, root, spark, work)
    if ctx.trace:
        ctx.tracer.install(apply_mod, stream_mod, LakeTable, LocalFS)
    setup: dict[str, float] = {}
    try:
        setup = WORKLOADS[args.workload](ctx)
        ctx.mark("after_window")
        for check in ctx.checks:
            check()
        ctx.mark("checks")
        if ctx.trace:
            ctx.tracer.uninstall()
            ctx.tracer.resolve()
            out = os.path.join(root, ".bench_results")
            os.makedirs(out, exist_ok=True)
            ctx.tracer.write_jsonl(os.path.join(
                out, f"{args.workload}-seed{args.seed}-spans.jsonl"))
            layer_metrics(ctx)
            extract_probe(ctx)
            ctx.mark("layers")
    except Exception:
        ctx.failures.append(traceback.format_exc(limit=4))
        print(f"perfbench: run failed\n{traceback.format_exc()}", file=sys.stderr)
    finally:
        ctx.tracer.uninstall()
        ctx.oracle.close()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        ctx.mark("stop")
    setup_s = jvm_s + setup.get("gen_s", 0.0) + setup.get("warmup_s", 0.0)
    correct = not ctx.failures and bool(setup)
    S = ctx.samples
    detail: dict[str, Any] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(ctx.trace), "host": host, "correct": correct,
        "failures": ctx.failures[:10],
        "setup": {"jvm_s": jvm_s, **setup}, "window_s": ctx.window_s,
        "events": ctx.events,
        "samples": {k: S.get(k, []) for k in ("batch", "lag")},
        "tails": {k: stats.tail(S.get(k, [])) or f"n={len(S.get(k, []))} < "
                  f"{2 * stats.TAIL_BEYOND}: no percentile above the median has "
                  f"{stats.TAIL_BEYOND} samples beyond it"
                  for k in ("batch", "lag")},
        "phases_s": ctx.phases, "tracer_notes": ctx.tracer.notes, **ctx.detail,
    }
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if ctx.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec}
    metrics: dict[str, float] = {}
    if correct and not ctx.trace:
        metrics = {
            "setup_s": setup_s,
            "events_per_s": ctx.events / ctx.window_s,
            "batch_p50_s": stats.median(S["batch"]),
            "lag_p50_s": stats.median(S["lag"]),
            "stored_b_per_event": ctx.layer["stored_bytes"] / ctx.table_events,
        }
    elif correct:
        metrics = {k: v for k, v in ctx.layer.items() if k in units}
        metrics.update({"setup.jvm_s": jvm_s, "setup.gen_s": setup["gen_s"],
                        "setup.warmup_s": setup["warmup_s"]})
    # the status store's fields may be missing, with the tracer's note
    optional = STATUS_STORE_METRICS if ctx.tracer.notes else set()
    if correct and not set(units) - optional <= set(metrics) <= set(units):
        correct = False
        detail["correct"] = False
        detail["failures"].append(
            f"metrics {sorted(set(units) - set(metrics))} missing, "
            f"{sorted(set(metrics) - set(units))} not in BENCHMARK.json")
        metrics = {}
    result = {"correct": correct, "attempted": max(1, ctx.attempted),
              "failed": ctx.failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    return result, detail
