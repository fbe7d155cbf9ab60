"""Workload inputs: the binlog the engine sees and the oracle's answer.

Everything here runs before the JVM starts and outside all timing. A
(workload, seed) pair is generated once with `cdc_spark.genlog` (used
as-is, so its output stays byte-identical) and replayed once through the
single-threaded oracle (`cdc_spark/oracle.py`); both land in a cache
directory keyed by workload, seed and size, so a repeated seed reuses
them.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from concurrent.futures import ProcessPoolExecutor
from dataclasses import asdict, dataclass, field
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq

from cdc_spark import oracle
from cdc_spark.genlog import (
    DDL_SCHEDULE_WITH_DROP,
    GenConfig,
    write_binlog,
    write_binlog_keys,
)

#: arrow twin of cdc_spark.schema.SPARK_TYPE, so the oracle's rows hash
#: exactly like the engine's columns
_ARROW_TYPE = {
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "boolean": pa.bool_(),
}
_BASE_ARROW = [
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("last_lsn", pa.int64()),
]


@dataclass(frozen=True)
class Shape:
    """One workload's input shape; `gen` holds GenConfig overrides."""

    images: str  # "carry" (full images) or "fetch" (key-only feed)
    parts: int  # part files per segment
    gen: dict = field(default_factory=dict)

    def config(self, seed: int) -> GenConfig:
        return GenConfig(seed=seed, **self.gen)


#: the shapes the benchmark runs; sizes are set so that one run of each
#: workload, set-up included, stays under a minute on a 4-core host
SHAPES = {
    # CT-shaped key-only feed at Zipf 2.0 with PK changes. No DDL: an
    # epoch with DDL falls back from the prefetch pipeline, and the
    # prefetch is what this workload exercises
    "fetch_hotkey": Shape("fetch", 4, dict(
        n_events=12_000, n_docs=4_000, events_per_epoch=1_200,
        zipf_s=2.0, p_pk_change=0.05, ddl_schedule=(),
    )),
    # GoldenGate-shaped full-image feed (Zipf 1.2, 5% PK changes, 20%
    # deletes) in small epochs, landed by a closed-loop client; 17 epochs
    # cross one inline compaction tick (compact_every=16). The five DDL
    # events of DDL_SCHEDULE_WITH_DROP (add, add, rename, drop, re-add)
    # come at 0.4x their stream fractions, in epochs 1-4 of the warm-up:
    # a DDL epoch costs more than a plain one, and among the 9 timed
    # epochs two of them would sit right at the p80 rank
    "tail_read_mix": Shape("carry", 1, dict(
        n_events=6_800, n_docs=3_000, events_per_epoch=400,
        zipf_s=1.2, p_pk_change=0.05, p_delete=0.20,
        ddl_schedule=tuple((f * 0.4, *rest) for f, *rest in DDL_SCHEDULE_WITH_DROP),
    )),
}

#: tiny twins for the self-test: same code paths, seconds of work
TINY_SHAPES = {
    "fetch_hotkey": Shape("fetch", 2, dict(
        n_events=1_500, n_docs=300, events_per_epoch=500, zipf_s=2.0,
        ddl_schedule=(),
    )),
    "tail_read_mix": Shape("carry", 1, dict(
        n_events=4_000, n_docs=300, events_per_epoch=200,
        ddl_schedule=DDL_SCHEDULE_WITH_DROP,
    )),
}

#: fetch_hotkey's warm-up feed: fixed seed, so set-up does the same
#: work every run (tail_read_mix warms up on its own feed's first epochs)
WARM_FETCH = Shape("fetch", 2, dict(
    n_events=500, n_docs=300, events_per_epoch=250, seed=7, zipf_s=2.0, ddl_schedule=(),
))


@dataclass
class Inputs:
    """A generated feed plus what the oracle says about it."""

    dir: str
    images: str
    n_events: int  # rows in the feed, every epoch
    epoch_events: list[int]  # rows per epoch
    segments: dict[int, list[str]]  # epoch -> part files
    expected: str  # oracle final rows (parquet), full feed
    live_counts: list[int]  # oracle live rows after each epoch (tail_read_mix)
    warm: str | None  # fetch_hotkey's warm-up feed

    @property
    def binlog(self) -> str:
        return os.path.join(self.dir, "binlog")


def _write(shape: Shape, cfg: GenConfig, out: str) -> None:
    if shape.images == "fetch":
        write_binlog_keys(cfg, out, parts=shape.parts)
    else:
        write_binlog(cfg, out, parts=shape.parts)


def feed_segments(binlog: str) -> dict[int, list[str]]:
    from cdc_spark.sources.binlog import list_segments

    return {e: list(ps) for e, ps in sorted(list_segments(binlog).items())}


def oracle_rows_table(state: dict, reg: oracle.Registry) -> pa.Table:
    """The oracle's projected final rows as an arrow table typed like
    the engine's `read_resolved` columns."""
    fields = list(_BASE_ARROW) + [(c["target"], _ARROW_TYPE[c["type"]]) for c in reg.cols]
    rows = oracle.final_rows(state, reg)
    schema = pa.schema(fields)
    return pa.Table.from_pylist(rows, schema=schema)


def _live_rows(paths: list[str], images: str) -> int:
    return len(oracle.replay(paths, images=images)[0])


def live_counts(segs: dict[int, list[str]], images: str) -> list[int]:
    """The oracle's live-row count after each epoch: `oracle.replay` over
    every epoch prefix of the feed, four prefixes at a time (quadratic,
    but the feed is small and the result is cached with it)."""
    eps = sorted(segs)
    prefixes = [[p for e in eps[: i + 1] for p in segs[e]] for i in range(len(eps))]
    with ProcessPoolExecutor(max_workers=4) as pool:
        return list(pool.map(partial(_live_rows, images=images), prefixes))


def _cache_dir(cache_root: str, name: str, shape: Shape, seed: int) -> str:
    tag = hashlib.md5(json.dumps([asdict(shape), seed], sort_keys=True).encode()).hexdigest()
    return os.path.join(cache_root, f"{name}-s{seed}-{tag[:8]}")


def prepare(cache_root: str, workload: str, seed: int, tiny: bool = False) -> Inputs:
    """Generate (or reuse) one workload's feed and oracle answers."""
    shape = (TINY_SHAPES if tiny else SHAPES)[workload]
    d = _cache_dir(cache_root, workload, shape, seed)
    if not os.path.isfile(os.path.join(d, "meta.json")):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _write(shape, shape.config(seed), os.path.join(tmp, "binlog"))
        segs = feed_segments(os.path.join(tmp, "binlog"))
        epoch_events = [sum(pq.ParquetFile(p).metadata.num_rows for p in segs[e])
                        for e in sorted(segs)]
        state, reg = oracle.replay([p for e in sorted(segs) for p in segs[e]],
                                   images=shape.images)
        pq.write_table(oracle_rows_table(state, reg), os.path.join(tmp, "expected.parquet"))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"epoch_events": epoch_events,
                       "live_counts": (live_counts(segs, shape.images)
                                       if workload == "tail_read_mix" else [])}, f)
        os.rename(tmp, d)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    return Inputs(
        dir=d,
        images=shape.images,
        n_events=sum(meta["epoch_events"]),
        epoch_events=meta["epoch_events"],
        segments=feed_segments(os.path.join(d, "binlog")),
        expected=os.path.join(d, "expected.parquet"),
        live_counts=meta["live_counts"],
        warm=_warm_feed(cache_root) if shape.images == "fetch" else None,
    )


def _warm_feed(cache_root: str) -> str:
    d = _cache_dir(cache_root, "warm-fetch", WARM_FETCH, WARM_FETCH.gen["seed"])
    if not os.path.isfile(os.path.join(d, "_manifest.json")):
        shutil.rmtree(d + ".tmp", ignore_errors=True)
        _write(WARM_FETCH, GenConfig(**WARM_FETCH.gen), d + ".tmp")
        os.rename(d + ".tmp", d)
    return d


def expected_prefix(inputs: Inputs, last_epoch: int, out: str) -> str:
    """Write the oracle's rows after epochs 0..last_epoch to `out` (the
    closed loop can stop before the end of its feed); returns `out`."""
    paths = [p for e in sorted(inputs.segments) if e <= last_epoch
             for p in inputs.segments[e]]
    state, reg = oracle.replay(paths, images=inputs.images)
    pq.write_table(oracle_rows_table(state, reg), out)
    return out
