"""Tiny-size self-test of the benchmark itself (a few minutes, 4 cores).

    python3 perfbench/selftest.py

For every workload, on a tiny feed, with tracing off and on, checks
that every metric BENCHMARK.json names is printed, with its unit, and
that BENCHMARK.json and spec.py describe the same metrics. For the
traced runs it checks that the written trace parses and that every
span's and every operator's self time is non-negative. Then it corrupts
one row of a copy of a replayed table and checks that the oracle gate
rejects the copy while passing the original.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import run as cli  # noqa: E402
from perfbench import spec  # noqa: E402

SELF_TIMES = ("binlog.scan_s", "normalize.self_s", "dedupe.self_s", "fetch.resolve_s",
              "fetch.winners_s", "fetch.delta_s")


def check_printed(res: dict, names: list[dict]) -> list[str]:
    line = json.loads(json.dumps(cli.result_line(res, names)))
    errs = [] if set(line) == {"correct", "attempted", "failed", "metrics"} else ["result keys"]
    for m in names:
        got = line["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), float):
            errs.append(f"metric {m['name']} missing or without unit {m['unit']}")
    if not res["correct"]:
        errs.append(f"gate failed: {res['notes']}")
    return errs


def check_trace(path: str, metrics: dict) -> list[str]:
    with open(path) as f:
        t = json.load(f)
    errs = []
    by_id = {s["id"]: s for s in t["spans"]}
    child_s: dict[int, float] = {}
    for s in t["spans"]:
        if s["t1"] < s["t0"]:
            errs.append(f"span {s['name']} ends before it starts")
        p = by_id.get(s["parent"])
        if p is not None and p["thread"] == s["thread"]:
            child_s[p["id"]] = child_s.get(p["id"], 0.0) + s["t1"] - s["t0"]
    for s in t["spans"]:
        if s["t1"] - s["t0"] - child_s.get(s["id"], 0.0) < -1e-3:
            errs.append(f"span {s['name']} (e{s['epoch']}) has negative self time")
    errs += [f"{k} = {metrics[k]} < 0" for k in SELF_TIMES if metrics[k] < 0]
    if not t["spans"]:
        errs.append("trace has no spans")
    return errs


def check_gate_trips(root: str, expected: str, table_dir: str) -> list[str]:
    """Copy a replayed table, change one token of one stored row, and
    require the oracle gate to pass the original and fail the copy."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_spark.sinks.target import TargetTable
    from perfbench.workloads import digest, expected_digest, start_session, stop_session

    bad = table_dir + "-corrupt"
    shutil.copytree(table_dir, bad)
    # the newest delta holds each of its keys' latest row, so a live row
    # there is a row of the resolved table
    newest = sorted(glob.glob(os.path.join(bad, "delta", "epoch=*")))[-1]
    for target in sorted(glob.glob(os.path.join(newest, "*.parquet"))):
        t = pq.read_table(target)
        rows = t.to_pylist()
        live = [i for i, r in enumerate(rows) if not r["deleted"] and r["tokens"]]
        if live:
            break
    rows[live[0]]["tokens"][0] += 1
    pq.write_table(pa.Table.from_pylist(rows, schema=t.schema), target)
    # the checksum sidecar would fail the read before the gate sees a row
    crc = os.path.join(os.path.dirname(target), f".{os.path.basename(target)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    spark = start_session(os.path.join(root, ".perfbench", "work"), False, "perfbench-selftest")
    try:
        want = expected_digest(spark, expected)
        good = digest(TargetTable(table_dir).read_resolved(spark)) == want
        tripped = digest(TargetTable(bad).read_resolved(spark)) != want
    finally:
        stop_session(spark)
    return ([] if good else ["gate rejects an intact table"]) + (
        [] if tripped else ["gate passes a corrupted table"])


def main() -> int:
    why = cli.preflight()
    if why:
        print(f"selftest: {why}")
        return 2
    cli.isolate_scratch()
    from perfbench.workloads import execute

    bench = cli.load_spec()
    errs = []
    if {m["name"] for m in bench["end_to_end"]} != set(spec.END_TO_END):
        errs.append("BENCHMARK.json end_to_end and spec.END_TO_END differ")
    if {m["name"] for m in bench["per_layer"]} != set(spec.PER_LAYER):
        errs.append("BENCHMARK.json per_layer and spec.PER_LAYER differ")
    if {w["name"] for w in bench["workloads"]} != set(spec.ALL):
        errs.append("BENCHMARK.json workloads and spec.ALL differ")
    for w in spec.ALL:
        for trace in (0, 1):
            res = execute(w, 1, 3, bool(trace), ROOT, tiny=True, keep=(w == "fetch_hotkey"))
            names = bench["per_layer"] if trace else bench["end_to_end"]
            e = check_printed(res, names)
            if trace:
                e += check_trace(os.path.join(ROOT, ".perfbench", "out", f"{w}-trace.json"),
                                 res["metrics"])
            elif w == "fetch_hotkey":
                from perfbench.inputs import prepare

                cache = os.path.join(ROOT, ".perfbench", "cache")
                e += check_gate_trips(ROOT, prepare(cache, w, 1, tiny=True).expected,
                                      res["table"])
            print(f"selftest {w} trace={trace}: {'ok' if not e else 'FAIL ' + '; '.join(e)}",
                  flush=True)
            errs += e
    print("selftest: " + ("PASS" if not errs else f"FAIL ({len(errs)} problems)"))
    return 0 if not errs else 1


if __name__ == "__main__":
    sys.exit(main())
