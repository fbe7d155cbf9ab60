"""The workloads, the Spark session around them, and the gate.

Each workload drives the engine only through its public drivers
(`replay`, `stream`) and table reads (`read_resolved`,
`read_changes_between`), and checks every result against the
single-threaded oracle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench import inputs as inp
from perfbench.trace import EventLog, NullTracer, Tracer, layer_metrics

#: heap for the one JVM a run starts (pinned and pre-touched by
#: cdc_spark.session); the JVM plus four Python workers fit in a few GB
DRIVER_MEM = "2g"
#: tail_read_mix's work per run is fixed by --seconds through this
#: nominal cost of one closed-loop epoch (land, commit, two reads;
#: measured on a 4-core host), never by the clock, so every run of
#: every commit measures the same epochs
NOMINAL_TAIL_EPOCH_S = 1.5
#: epochs the closed-loop warm-up applies to the workload's own table
#: (the feed's DDL events among them): the timed epochs then read up to
#: 15 deltas and cross the first compaction tick (the 16th commit)
TAIL_CATCHUP = 8
#: fetch_hotkey's snapshot reads, and changelog reads, timed after its
#: replay, interleaved so both kinds sample the whole read phase
READS = 32
#: traced runs time each lazy-operator prefix best of this many times
PREFIX_REPS = 2


@dataclass
class Run:
    """What one workload run measured."""

    events: int = 0
    timed_s: float = 0.0
    apply_cpu_s: float = 0.0
    commit_s: list[float] = field(default_factory=list)
    snapshot_s: list[float] = field(default_factory=list)
    changelog_s: list[float] = field(default_factory=list)
    # CPU seconds of the same operations (cpu_seconds)
    commit_cpu: list[float] = field(default_factory=list)
    snapshot_cpu: list[float] = field(default_factory=list)
    changelog_cpu: list[float] = field(default_factory=list)
    table_bytes_per_row: float = 0.0
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    last_table: str | None = None
    sample_epochs: list[int] = field(default_factory=list)
    deltas_at_read: list[int] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok


# -- session -------------------------------------------------------------------


def start_session(work: str, trace: bool, app: str):
    from cdc_spark.session import get_spark

    os.environ["CDC_SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(app=app, master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def host_calibration(spark) -> float:
    """The repo's pure-CPU probe (bench.py, tools/cpu_probe.py):
    max(xxhash64) over 20M generated rows, no IO, one tiny shuffle;
    median of three JIT-warm samples. Each sample builds a fresh plan:
    re-collecting one DataFrame reuses its finished map stage and times
    almost nothing."""
    from pyspark.sql import functions as F

    cpus = len(os.sched_getaffinity(0))

    def probe(rows: int):
        return spark.range(0, rows, 1, cpus * 2).select(
            F.max(F.xxhash64("id", F.col("id") + 1, F.col("id") * 3)))

    probe(10_000_000).collect()
    samples = []
    for _ in range(3):
        q = probe(20_000_000)
        t0 = time.monotonic()
        q.collect()
        samples.append(time.monotonic() - t0)
    return statistics.median(samples)


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM of the driver, the JVM and every process the JVM
    forked (the Python daemon and its workers)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    seen, todo = set(), [p for p in pids if p]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            todo += children.get(p, [])
    kb = 0
    for p in seen:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds so far of `pids` and every process
    below them (the JVM's Python daemon and workers), reaped children
    included. The kernel leaves out the time the hypervisor gave to
    other guests (steal), which on a shared host stretches wall time by
    up to 2x from one minute to the next."""
    tree: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        tree.setdefault(int(fields[1]), []).append(int(d))
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total, seen, todo = 0, set(), [p for p in pids if p]
    while todo:
        p = todo.pop()
        if p not in seen:
            seen.add(p)
            total += ticks.get(p, 0)
            todo += tree.get(p, [])
    return total / os.sysconf("SC_CLK_TCK")


@contextmanager
def measured(wall: list[float], cpu_s: list[float], cpu):
    """Append the wall and CPU seconds (`cpu()`) of the block."""
    c0, t0 = cpu(), time.monotonic()
    try:
        yield
    finally:
        wall.append(time.monotonic() - t0)
        cpu_s.append(cpu() - c0)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def reset_peak_rss() -> None:
    """Forget the driver's peak so far (input generation and the
    oracle run in this process before the JVM starts)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


# -- digests -------------------------------------------------------------------


def digest(df) -> tuple[int, int, int]:
    """(rows, sum, xor) of a 64-bit hash of every column of every row,
    columns in name order: equal digests mean equal rows, token arrays
    included."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(1 << 40))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).first()
    return int(r["n"]), int(r["s"] or 0), int(r["x"] or 0)


def _row_hash():
    from pyspark.sql import functions as F

    # schema-independent columns only: a changelog window carries the
    # schema of its own version, the final table the latest one
    return F.xxhash64("doc_id", "tokens", "n_tok", "source", "last_lsn")


def snapshot_rows(df) -> dict[str, tuple[int, int]]:
    return {r[0]: (r[1], r[2]) for r in df.select("doc_id", "last_lsn", _row_hash()).collect()}


def changelog_rows(df) -> list[tuple]:
    return [tuple(r) for r in df.select(
        "doc_id", "last_lsn", "_change_type", "_epoch", _row_hash()).collect()]


def expected_digest(spark, path: str) -> tuple[int, int, int]:
    return digest(spark.read.parquet(path))


def table_bytes(path: str) -> int:
    """On-disk bytes of base, deltas and journal."""
    total = 0
    for sub in ("base", "delta", "_journal"):
        for root, _, files in os.walk(os.path.join(path, sub)):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- warm-up ---------------------------------------------------------------------


def warm_up(spark, workload: str, inputs: inp.Inputs, work: str) -> None:
    """Untimed JIT warm-up through the same calls the workload times.
    fetch_hotkey replays a fixed tiny key-only feed. tail_read_mix
    catches its own table up to TAIL_CATCHUP epochs: all but the last in
    one trigger, then the last in a trigger of its own, so the timed
    loop starts on a warm per-trigger path and a table with deltas."""
    from cdc_spark.sinks.target import TargetTable
    from cdc_spark.streaming.pipeline import replay, stream

    if workload == "tail_read_mix":
        live, table_dir, ckpt = _tail_dirs(work)
        eps = sorted(inputs.segments)[:TAIL_CATCHUP]
        for batch in (eps[:-1], eps[-1:]):
            for e in batch:
                _land(inputs.segments[e], live)
            stream(spark, live, table_dir, ckpt)
        table = TargetTable(table_dir)
    else:
        table = replay(spark, inputs.warm, os.path.join(work, "warm_table"),
                       lineage=False, images="fetch")
    digest(table.read_resolved(spark))
    hist = table.history()
    changelog_rows(table.read_changes_between(spark, hist[-2]["version"], hist[-1]["version"]))


# -- workloads -------------------------------------------------------------------


def run_batch(spark, inputs: inp.Inputs, work: str, seconds: float, tr, cpu) -> Run:
    """fetch_hotkey: one whole replay of the feed (its size, not
    --seconds, fixes the work), then READS timed snapshot reads (the
    oracle gate) interleaved with READS changelog reads of the windows
    the last compaction left readable. The CPU of each epoch is the
    CPU the run spent during its `apply_batch` call, the prefetch of
    the next epoch included."""
    from cdc_spark.streaming import pipeline

    want = expected_digest(spark, inputs.expected)
    n_epochs = len(inputs.segments)
    table_dir = os.path.join(work, "table")
    run = Run(last_table=table_dir)
    stats: list[dict] = []
    apply_batch, wall, cpu_s, epoch_wall = pipeline.apply_batch, [], [], []

    def per_epoch(*a, **k):
        with measured(epoch_wall, run.commit_cpu, cpu):
            return apply_batch(*a, **k)

    pipeline.apply_batch = per_epoch
    try:
        with tr.span("replay"), measured(wall, cpu_s, cpu):
            table = pipeline.replay(spark, inputs.binlog, table_dir, lineage=False,
                                    images=inputs.images, stats_out=stats)
    finally:
        pipeline.apply_batch = apply_batch
    run.timed_s, run.apply_cpu_s = wall[0], cpu_s[0]
    with tr.quiet():
        st = table.state()
        hist = table.history()
        # the first read of a new table lists its files; users read a
        # table many times, so the timed reads are the warm ones
        digest(table.read_resolved(spark))
    run.check(st["epochs_applied"] == n_epochs,
              f"{st['epochs_applied']}/{n_epochs} epochs committed")
    run.events = inputs.n_events
    run.commit_s = [r["seconds"] for r in stats if r.get("applied")]
    last_compact = max((h["version"] for h in hist if h["kind"] in ("create", "compact")))
    versions = [h["version"] for h in hist if h["version"] >= last_compact]
    windows = list(zip(versions, versions[1:]))
    for i in range(READS):
        with tr.span("snapshot_read"), measured(run.snapshot_s, run.snapshot_cpu, cpu):
            got = digest(table.read_resolved(spark))
        run.deltas_at_read.append(len(st["delta_epochs"]))
        run.check(got == want, f"snapshot digest {got} != oracle {want}")
        if not windows:
            continue
        lo, hi = windows[i % len(windows)]
        with tr.span("changelog_read"), measured(run.changelog_s, run.changelog_cpu, cpu):
            rows = changelog_rows(table.read_changes_between(spark, lo, hi))
        run.check(bool(rows), f"empty changelog window {lo}->{hi}")
    run.table_bytes_per_row = table_bytes(table_dir) / max(want[0], 1)
    # one sampled epoch: a fetch prefix chain costs seconds per build
    eps = sorted(inputs.segments)
    run.sample_epochs = [eps[len(eps) // 2]]
    return run


def _land(src: list[str], live: str) -> None:
    """Deliver one segment atomically: write beside the feed dir, rename in."""
    for p in src:
        tmp = os.path.join(os.path.dirname(live), "landing.tmp")
        shutil.copy(p, tmp)
        os.rename(tmp, os.path.join(live, os.path.basename(p)))


def _tail_dirs(work: str) -> tuple[str, str, str]:
    """(live feed dir, table, stream checkpoint) of the closed loop."""
    live = os.path.join(work, "live")
    os.makedirs(live, exist_ok=True)
    return live, os.path.join(work, "tail_table"), os.path.join(work, "ckpt")


def run_tail(spark, inputs: inp.Inputs, work: str, seconds: float, tr, cpu) -> Run:
    """tail_read_mix: one closed-loop client on the table the warm-up
    caught up to TAIL_CATCHUP epochs. It times the next epochs (as many
    as --seconds buys at the nominal epoch cost, at least 4, at most the
    rest of the feed). Per epoch it lands one segment into the live feed
    dir, runs one available-now `stream` trigger on the persistent
    checkpoint, then reads the snapshot (count + digest) and the
    changelog window of that commit. A window that a compaction consumed
    is unreadable by design; the client then re-syncs its replica from
    the snapshot."""
    from cdc_spark.sinks.target import TargetTable
    from cdc_spark.streaming.pipeline import stream

    live, table_dir, ckpt = _tail_dirs(work)
    eps = sorted(inputs.segments)
    table = TargetTable(table_dir)
    with tr.quiet():
        prev = table.state()["version"]
        replica = snapshot_rows(table.read_resolved(spark))
    run = Run()
    last = None
    timed = eps[TAIL_CATCHUP:][: max(4, round(seconds / NOMINAL_TAIL_EPOCH_S))]
    for e in timed:
        _land(inputs.segments[e], live)
        with tr.span("stream", e), measured(run.commit_s, run.commit_cpu, cpu):
            stream(spark, live, table_dir, ckpt)
        with tr.quiet():
            st = table.state()
        if not run.check(table.has_epoch(e, st), f"epoch {e} not committed"):
            break
        last = e
        run.events += inputs.epoch_events[e]
        run.apply_cpu_s += run.commit_cpu[-1]
        with tr.span("snapshot_read", e), measured(run.snapshot_s, run.snapshot_cpu, cpu):
            got = digest(table.read_resolved(spark))
        run.deltas_at_read.append(len(st["delta_epochs"]))
        run.check(got[0] == inputs.live_counts[e],
                  f"epoch {e}: snapshot has {got[0]} rows, oracle {inputs.live_counts[e]}")
        cl = 0.0
        if st["kind"] == "compact":
            with tr.quiet():
                replica = snapshot_rows(table.read_resolved(spark))
        else:
            with tr.span("changelog_read", e), measured(run.changelog_s, run.changelog_cpu, cpu):
                rows = changelog_rows(table.read_changes_between(spark, prev, st["version"]))
            cl = run.changelog_s[-1]
            run.check(all(r[3] == e for r in rows), f"epoch {e}: window holds other epochs")
            for doc, lsn, kind, _, h in sorted(rows, key=lambda r: r[1]):
                if kind == "delete":
                    replica.pop(doc, None)
                else:
                    replica[doc] = (lsn, h)
        prev = st["version"]
        run.timed_s += run.commit_s[-1] + run.snapshot_s[-1] + cl
    if last is None:
        return run
    with tr.quiet():
        exp_path = inp.expected_prefix(inputs, last, os.path.join(work, "expected.parquet"))
        want = expected_digest(spark, exp_path)
        run.check(got == want, f"final digest {got} != oracle {want} (through epoch {last})")
        final = snapshot_rows(table.read_resolved(spark))
        run.check(final == replica,
                  f"changelog replica differs from the table on "
                  f"{len(set(final.items()) ^ set(replica.items()))} rows")
        run.table_bytes_per_row = table_bytes(table_dir) / max(want[0], 1)
    done = [x for x in timed if x <= last]
    run.sample_epochs = [done[len(done) // 2], done[1]] if len(done) > 2 else done[:1]
    run.last_table = table_dir
    return run


# -- traced prefixes -----------------------------------------------------------


def time_prefixes(spark, tr: Tracer, inputs: inp.Inputs, run: Run) -> dict:
    """Lazy operators are fused into the write job, so each is timed by
    materializing successive prefixes of the operator chain (each built
    from scratch, eager work included) with a noop write, on a fixed
    sample of the run's epochs, best of PREFIX_REPS. Self time is the
    difference between consecutive prefixes."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from cdc_spark.operators import fetch
    from cdc_spark.operators.dedupe import lww_dedupe
    from cdc_spark.operators.normalize import normalize
    from cdc_spark.sinks.target import TargetTable
    from cdc_spark.sources.binlog import read_changes
    from cdc_spark.streaming.pipeline import lineage_stats

    table = TargetTable(run.last_table)
    sc = spark.sparkContext
    if inputs.images == "carry":
        ops = ["read_changes", "normalize", "lww_dedupe"]
    else:
        ops = ["read_changes", "normalize_fetch", "resolve_cross_key",
               "fetch_winners_auto", "fetch_delta"]

    def build(e: int, op: str, counts: dict):
        batch = read_changes(spark, inputs.segments[e])
        if op == "read_changes":
            return batch
        if inputs.images == "carry":
            ev = normalize(batch)
            return ev if op == "normalize" else lww_dedupe(ev, key="doc_id", order="lsn")
        ev = fetch.normalize_fetch(batch)
        if op == "normalize_fetch":
            return ev
        res = fetch.resolve_cross_key(spark, ev, [], n_pk_change=counts["pkc"])
        if op == "resolve_cross_key":
            return res
        win = fetch.fetch_winners_auto(res, [], n_events=counts["dml"])
        if op == "fetch_winners_auto":
            return win
        return fetch.fetch_delta(spark, win, table.read_resolved(spark),
                                 table.state()["registry"], needy_bound=counts["dml"])

    out = {op: {"s": [], "rows": []} for op in ops}
    for e in run.sample_epochs:
        lin = lineage_stats(read_changes(spark, inputs.segments[e]), pk_change=True).collect()
        counts = {
            "pkc": int(sum(r["n_pk_change"] for r in lin)),
            "dml": int(sum(r["n_insert"] + r["n_update"] + r["n_delete"] for r in lin)),
        }
        best: dict[str, float] = {}
        rows: dict[str, int] = {}
        for rep in range(PREFIX_REPS):
            for op in ops:
                sc.setJobGroup(tr.group(e, f"prefix.{op}.r{rep}"), op)
                obs = Observation(f"prefix-{op}-{e}-{rep}")
                t0 = time.monotonic()
                df = build(e, op, counts)
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite").save()
                dt = time.monotonic() - t0
                best[op] = min(best.get(op, dt), dt)
                rows[op] = int(obs.get["n"])
        for op in ops:
            out[op]["s"].append(best[op])
            out[op]["rows"].append(rows[op])
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out


# -- one run ---------------------------------------------------------------------


def _pct(xs: list[float], q: float) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def execute(workload: str, seed: int, seconds: float, trace: bool, root: str,
            tiny: bool = False, keep: bool = False) -> dict:
    """One benchmark run: inputs (cached), set-up, the timed workload,
    the gate, and, when tracing, the per-layer fold. Returns
    {correct, attempted, failed, metrics: {name: value}, notes}."""
    cache = os.path.join(root, ".perfbench", "cache")
    work = os.path.join(root, ".perfbench", "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(cache, exist_ok=True)
    phases = {}
    t = time.monotonic()
    inputs = inp.prepare(cache, workload, seed, tiny=tiny)
    reset_peak_rss()
    phases["inputs"] = time.monotonic() - t

    t0 = time.monotonic()
    spark = start_session(work, trace, app=f"perfbench-{workload}")
    jvm_start = time.monotonic() - t0
    try:
        t1 = time.monotonic()
        warm_up(spark, workload, inputs, work)
        warm = time.monotonic() - t1
        tr = Tracer(workload, spark.sparkContext) if trace else NullTracer()
        gc0 = gc_seconds(spark)
        steal0, total0 = cpu_jiffies()
        t = time.monotonic()
        tr.install()
        try:
            drive = run_tail if workload == "tail_read_mix" else run_batch
            pids = [os.getpid(), jvm_pid()]
            run = drive(spark, inputs, work, seconds, tr, lambda: cpu_seconds(pids))
        finally:
            tr.uninstall()
        gc_s = gc_seconds(spark) - gc0
        steal1, total1 = cpu_jiffies()
        phases["workload"] = time.monotonic() - t
        phases["jvm_start"], phases["warm_up"] = jvm_start, warm
        t = time.monotonic()
        prefix = time_prefixes(spark, tr, inputs, run) if trace else {}
        phases["prefixes"] = time.monotonic() - t
        t = time.monotonic()
        calibration = host_calibration(spark)
        phases["calibration"] = time.monotonic() - t
        rss = peak_rss_mb([os.getpid(), jvm_pid()])
    finally:
        t = time.monotonic()
        stop_session(spark)
        phases["stop"] = time.monotonic() - t

    def p50(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    def p80(xs: list[float]) -> float:
        return _pct(xs, 0.8) if xs else 0.0

    metrics = {
        "setup_s": jvm_start + warm,
        "apply_cpu_ms_per_event": 1000 * run.apply_cpu_s / max(run.events, 1),
        "commit_cpu_s_p50": p50(run.commit_cpu),
        "commit_cpu_s_p80": p80(run.commit_cpu),
        "snapshot_read_cpu_s_p50": p50(run.snapshot_cpu),
        "snapshot_read_cpu_s_p80": p80(run.snapshot_cpu),
        "changelog_read_cpu_s_p50": p50(run.changelog_cpu),
        "table_bytes_per_live_row": run.table_bytes_per_row,
        "peak_rss_mb": rss,
    }
    # the same operations in wall seconds: what a client waits, but on a
    # shared host it swings with other guests' load (host.steal_share)
    wall = {
        "apply_events_per_s": run.events / run.timed_s if run.timed_s else 0.0,
        "commit_latency_s_p50": p50(run.commit_s),
        "commit_latency_s_p80": p80(run.commit_s),
        "snapshot_read_s_p50": p50(run.snapshot_s),
        "snapshot_read_s_p80": p80(run.snapshot_s),
        "changelog_read_s_p50": p50(run.changelog_s),
    }
    info = {
        "wall": wall,
        "host.calibration_s": calibration,
        "failed_op_share": run.failed / max(run.attempted, 1),
        # CPU time the hypervisor gave to others during the timed phase
        "host.steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "samples": {"commit": len(run.commit_s), "snapshot": len(run.snapshot_s),
                    "changelog": len(run.changelog_s)},
        "commit_s": [round(x, 4) for x in run.commit_s],
        "snapshot_s": [round(x, 4) for x in run.snapshot_s],
        "changelog_s": [round(x, 4) for x in run.changelog_s],
        "cpu_s": {"commit": run.commit_cpu, "snapshot": run.snapshot_cpu,
                  "changelog": run.changelog_cpu},
        "phase_s": {k: round(v, 2) for k, v in phases.items()},
    }
    if trace:
        ev = EventLog(os.path.join(work, "eventlog"))
        layers = layer_metrics(tr, ev, prefix, {
            "target.deltas_at_read": statistics.median(run.deltas_at_read or [0]),
            "session.jvm_start_s": jvm_start,
            "session.warmup_s": warm,
            "session.gc_s": gc_s,
            "host.calibration_s": calibration,
            "trace.apply_events_per_s": wall["apply_events_per_s"],
        })
        out_dir = os.path.join(root, ".perfbench", "out")
        os.makedirs(out_dir, exist_ok=True)
        tr.dump(os.path.join(out_dir, f"{workload}-trace.json"),
                {"prefix": prefix, "layers": layers})
        metrics = layers
    if not keep:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
        "info": info,
        "notes": run.notes,
        "table": run.last_table,
    }
