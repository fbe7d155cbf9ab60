"""Per-layer tracing for the traced benchmark run.

Spans come from timing wrappers that this module installs, for the
duration of the timed phase, on the module and class attributes the
engine's drivers look up at call time (the engine itself is untouched).
Each wrapper records a span (name, start, end, parent, epoch, thread)
and sets the Spark job group `<workload>:e<epoch>:<span>` for its
thread, so the Spark event log can attribute every job, and through it
every task's run time, input bytes and shuffle bytes, to a span. (JVM
GC time comes from the JVM's own collector counters instead.)

Spans and counters stay in memory; `Tracer.dump` writes them once, at
the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict

_EPOCH_IN_PATH = re.compile(r"segment-(\d+)")


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextlib.contextmanager
    def span(self, name, epoch=None):
        yield

    @contextlib.contextmanager
    def quiet(self):
        yield

    def install(self):
        pass

    def uninstall(self):
        pass


class Tracer:
    def __init__(self, workload: str, sc):
        self.workload = workload
        self.sc = sc
        self.spans: list[dict] = []
        self.applied: dict[int, int] = {}  # epoch -> events committed
        self.needy: list[int] = []
        self.delta_bytes: dict[int, int] = {}
        self.compactions: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ids = iter(range(1, 1 << 62))
        self._root: int | None = None
        self._quiet_on = False
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def group(self, epoch, name: str) -> str:
        return f"{self.workload}:e{'' if epoch is None else epoch}:{name}"

    @contextlib.contextmanager
    def span(self, name: str, epoch: int | None = None, jobs: bool = True):
        """Record one span; `jobs=False` for spans that never run a Spark
        job (no job-group round trip to the JVM)."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        if epoch is None and parent is not None:
            epoch = parent["epoch"]
        with self._lock:
            sid = next(self._ids)
        s = {
            "id": sid, "name": name, "epoch": epoch,
            "parent": parent["id"] if parent else self._root,
            "thread": threading.get_ident(),
            "t0": time.monotonic(), "w0": time.time(),
        }
        prev = None
        if jobs:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(self.group(epoch, name), name)
        stack.append(s)
        is_root = parent is None and self._root is None
        if is_root:
            self._root = sid
        try:
            yield s
        finally:
            s["t1"] = time.monotonic()
            s["w1"] = time.time()
            stack.pop()
            if is_root:
                self._root = None
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def quiet(self):
        """Benchmark bookkeeping: wrappers pass straight through, in
        every thread (a `stream` trigger applies its epochs on Spark's
        streaming thread)."""
        self._quiet_on = True
        try:
            yield
        finally:
            self._quiet_on = False

    def _quiet(self) -> bool:
        return self._quiet_on

    # -- wrappers ------------------------------------------------------------

    def _patch(self, owner, attr: str, make):
        orig = getattr(owner, attr)
        wrapped = functools.wraps(orig)(make(orig))
        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from cdc_spark.operators import fetch
        from cdc_spark.sinks.target import TargetTable
        from cdc_spark.streaming import pipeline

        tr = self

        def apply_batch(orig):
            def w(spark, table, batch, epoch, *a, **k):
                if tr._quiet():
                    return orig(spark, table, batch, epoch, *a, **k)
                with tr.span("apply_batch", epoch):
                    res = orig(spark, table, batch, epoch, *a, **k)
                if res.get("applied"):
                    tr.applied[epoch] = int(res.get("n_events") or 0)
                return res
            return w

        def list_segments(orig):
            def w(*a, **k):
                if tr._quiet():
                    return orig(*a, **k)
                with tr.span("list_segments", jobs=False):
                    return orig(*a, **k)
            return w

        def read_changes(orig):
            # no span (a lazy scan plan); remembers which epoch this
            # thread is reading, for the prefetch span that follows
            def w(spark, path, *a, **k):
                first = path if isinstance(path, str) else (path[0] if path else "")
                m = _EPOCH_IN_PATH.search(os.path.basename(first))
                tr._local.epoch_hint = int(m.group(1)) if m else None
                return orig(spark, path, *a, **k)
            return w

        def prepare_fetch_epoch(orig):
            def w(*a, **k):
                if tr._quiet():
                    return orig(*a, **k)
                with tr.span("prepare_fetch_epoch", getattr(tr._local, "epoch_hint", None)):
                    res = orig(*a, **k)
                tr.needy.append(int(res["n_needy"]))
                return res
            return w

        def simple(name, jobs=True):
            def make(orig):
                def w(*a, **k):
                    if tr._quiet():
                        return orig(*a, **k)
                    with tr.span(name, jobs=jobs):
                        return orig(*a, **k)
                return w
            return make

        state_orig = TargetTable.state

        def commit_delta(orig):
            def w(table, df, epoch, *a, **k):
                if tr._quiet():
                    return orig(table, df, epoch, *a, **k)
                st = state_orig(table)
                old_inodes = None
                if len(st["delta_epochs"]) + 1 >= table.compact_every:
                    old_inodes = _inodes(_base_dir(table.path, st))
                with tr.span("commit_delta", epoch) as s:
                    entry = orig(table, df, epoch, *a, **k)
                if entry is None:
                    return entry
                if entry.get("kind") == "compact":
                    new = _base_dir(table.path, entry)
                    rewritten = sum(
                        size for ino, size in _inodes(new).items()
                        if ino not in (old_inodes or {})
                    )
                    tr.compactions.append({
                        "epoch": epoch, "seconds": s["t1"] - s["t0"],
                        "bytes_rewritten": rewritten,
                    })
                else:
                    b = (entry.get("delta_bytes") or {}).get(str(epoch))
                    if b is not None:
                        tr.delta_bytes[epoch] = int(b)
                return entry
            return w

        self._patch(pipeline, "apply_batch", apply_batch)
        self._patch(pipeline, "list_segments", list_segments)
        self._patch(pipeline, "read_changes", read_changes)
        self._patch(fetch, "prepare_fetch_epoch", prepare_fetch_epoch)
        self._patch(fetch, "fetch_delta", simple("fetch_delta"))
        self._patch(TargetTable, "commit_delta", commit_delta)
        self._patch(TargetTable, "state", simple("state", jobs=False))
        self._patch(TargetTable, "read_resolved", simple("read_resolved"))
        self._patch(TargetTable, "read_changes_between", simple("read_changes_between"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({
                "workload": self.workload, "spans": self.spans,
                "applied": self.applied, "needy": self.needy,
                "delta_bytes": self.delta_bytes, "compactions": self.compactions,
                **extra,
            }, f)


def _base_dir(table_path: str, st: dict) -> str | None:
    if not st.get("base_version"):
        return None
    return os.path.join(table_path, "base", f"v{st['base_version']:08d}")


def _inodes(d: str | None) -> dict[int, int]:
    """inode -> size of every file under `d` (clean compaction buckets
    are hard links, so a rewritten file is one with a new inode)."""
    out: dict[int, int] = {}
    if not d or not os.path.isdir(d):
        return out
    for root, _, files in os.walk(d):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[st.st_ino] = st.st_size
    return out


# -- Spark event log ----------------------------------------------------------


class EventLog:
    """Jobs, stages and task metrics from an uncompressed event log."""

    def __init__(self, log_dir: str):
        self.jobs: list[dict] = []  # {id, group, submit_ms, stages}
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # stage -> tasks
        stage_job: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
            with open(path) as f:
                for line in f:
                    if line.startswith('{"Event":"SparkListenerJobStart"'):
                        e = json.loads(line)
                        job = {
                            "id": e["Job ID"],
                            "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                            "submit_ms": e["Submission Time"],
                            "stages": [],
                        }
                        for sid in e["Stage IDs"]:
                            if sid not in stage_job:
                                stage_job[sid] = job["id"]
                                job["stages"].append(sid)
                        self.jobs.append(job)
                    elif line.startswith('{"Event":"SparkListenerTaskEnd"'):
                        e = json.loads(line)
                        m = e.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        self.tasks[e["Stage ID"]].append({
                            "run_ms": m.get("Executor Run Time", 0),
                            "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                                "Shuffle Bytes Written", 0),
                            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get(
                                "Local Bytes Read", 0),
                            "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                        })

    def job_tasks(self, job: dict) -> list[dict]:
        return [t for s in job["stages"] for t in self.tasks.get(s, [])]

    def total(self, jobs: list[dict], key: str) -> int:
        return sum(t[key] for j in jobs for t in self.job_tasks(j))

    def skew(self, jobs: list[dict]) -> float | None:
        """max/median task run time of the heaviest shuffle-reading stage."""
        best, best_sum = None, -1
        for j in jobs:
            for s in j["stages"]:
                ts = self.tasks.get(s, [])
                if not ts or not any(t["shuffle_read"] for t in ts):
                    continue
                tot = sum(t["run_ms"] for t in ts)
                if tot > best_sum:
                    best, best_sum = ts, tot
        if not best:
            return None
        runs = [t["run_ms"] for t in best]
        return max(runs) / max(statistics.median(runs), 1.0)


def _median(xs, default=0.0) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def layer_metrics(tr: Tracer, ev: EventLog, prefix: dict, extra: dict) -> dict:
    """Fold spans, counters, the event log and the prefix timings into
    the per-layer metrics (names as in BENCHMARK.json)."""
    spans = tr.spans
    by_name = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)

    def dur(s):
        return s["t1"] - s["t0"]

    epochs = sorted(tr.applied)
    n_ep = max(len(epochs), 1)
    applies = [s for s in by_name["apply_batch"] if s["epoch"] in tr.applied]
    drives = by_name["replay"] + by_name["stream"]
    compact_epochs = {c["epoch"] for c in tr.compactions}

    # job -> epoch: our own groups carry it; jobs of the streaming
    # machinery (foreign groups) belong to the trigger that submitted them
    ours = f"{tr.workload}:e"

    def job_epoch(j):
        g = j["group"] or ""
        if g.startswith(ours):
            e = g[len(ours):].split(":", 1)[0]
            return int(e) if e else None
        for d in by_name["stream"]:
            if d["w0"] * 1000 <= j["submit_ms"] <= d["w1"] * 1000:
                return d["epoch"]
        return None

    def span_of(j):
        g = j["group"] or ""
        return g.split(":", 2)[2] if g.startswith(ours) else ""

    client = ("snapshot_read", "changelog_read")
    in_drive = [
        j for j in ev.jobs
        if any(d["w0"] * 1000 <= j["submit_ms"] <= d["w1"] * 1000 for d in drives)
        and span_of(j) not in client
    ]
    apply_jobs = defaultdict(list)
    for j in in_drive:
        e = job_epoch(j)
        if e is not None:
            apply_jobs[e].append(j)

    # prefetch: main-thread wait between consecutive apply_batch calls
    # of one driver call, against the time the prefetch thread worked
    gaps = 0.0
    by_parent = defaultdict(list)
    for s in applies:
        by_parent[s["parent"]].append(s)
    for group in by_parent.values():
        group.sort(key=lambda s: s["t0"])
        gaps += sum(b["t0"] - a["t1"] for a, b in zip(group, group[1:]))
    prepares = by_name["prepare_fetch_epoch"]
    prep_s = sum(dur(s) for s in prepares)

    prep_jobs = defaultdict(list)
    for j in ev.jobs:
        if span_of(j) == "prepare_fetch_epoch":
            prep_jobs[job_epoch(j)].append(j)

    def prefix_self(op, before):
        if op not in prefix or before not in prefix:
            return 0.0
        return max(0.0, _median(prefix[op]["s"]) - _median(prefix[before]["s"]))

    def prefix_rows(op, before):
        if op not in prefix or before not in prefix:
            return 0.0
        pairs = zip(prefix[op]["rows"], prefix[before]["rows"])
        return _median([a / b for a, b in pairs if b])

    # first repetition of the lww_dedupe prefix, per sampled epoch
    dedupe_jobs = defaultdict(list)
    for j in ev.jobs:
        if span_of(j) == "prefix.lww_dedupe.r0":
            dedupe_jobs[job_epoch(j)].append(j)

    plain_commits = [s for s in by_name["commit_delta"]
                     if s["epoch"] in tr.applied and s["epoch"] not in compact_epochs]
    plain_bytes = {e: b for e, b in tr.delta_bytes.items() if e in tr.applied}

    return {
        "binlog.scan_s": _median(prefix.get("read_changes", {}).get("s", [])),
        "binlog.bytes_read": _median([
            ev.total(apply_jobs[e], "input") for e in epochs if e not in compact_epochs
        ]),
        "binlog.list_segments_s": sum(dur(s) for s in by_name["list_segments"]) / n_ep,
        "pipeline.apply_batch_s": _median([dur(s) for s in applies]),
        "pipeline.jobs_per_epoch": len(in_drive) / n_ep,
        "pipeline.trigger_overhead_s":
            max(0.0, sum(dur(d) for d in drives) - sum(dur(s) for s in applies)) / n_ep,
        "pipeline.prefetch_hidden_share": (1.0 - gaps / prep_s) if prep_s > 0 else 0.0,
        "normalize.self_s": prefix_self("normalize", "read_changes"),
        "normalize.rows_out_per_in": prefix_rows("normalize", "read_changes"),
        "dedupe.self_s": prefix_self("lww_dedupe", "normalize"),
        "dedupe.winners_per_event": prefix_rows("lww_dedupe", "normalize"),
        "dedupe.shuffle_bytes": _median([ev.total(js, "shuffle_write")
                                         for js in dedupe_jobs.values()]),
        "dedupe.task_skew": _median([ev.skew(js) for js in dedupe_jobs.values()]),
        "fetch.prepare_s": _median([dur(s) for s in prepares]),
        "fetch.resolve_s": prefix_self("resolve_cross_key", "normalize_fetch"),
        "fetch.winners_s": prefix_self("fetch_winners_auto", "resolve_cross_key"),
        "fetch.delta_s": prefix_self("fetch_delta", "fetch_winners_auto"),
        "fetch.needy_keys": _median(tr.needy),
        "fetch.shuffle_bytes": _median([ev.total(js, "shuffle_write")
                                        for js in prep_jobs.values()]),
        "fetch.task_skew": _median([ev.skew(js) for js in prep_jobs.values()]),
        "target.commit_delta_s": _median([dur(s) for s in plain_commits]),
        "target.delta_bytes_per_event": (
            sum(plain_bytes.values()) / max(sum(tr.applied[e] for e in plain_bytes), 1)
        ),
        "target.compaction_s": _median([c["seconds"] for c in tr.compactions]),
        "target.compactions": float(len(tr.compactions)),
        "target.compaction_bytes_rewritten":
            _median([c["bytes_rewritten"] for c in tr.compactions]),
        "target.journal_state_s": sum(dur(s) for s in by_name["state"]) / n_ep,
        **extra,
    }
