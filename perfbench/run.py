"""CDC engine benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload tail_read_mix --seed 1 --seconds 14 --trace 0

Run from the repository root. The last line of stdout is
{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}:
the end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1 (a separate run; its numbers never feed the
end-to-end ones). The exit code is 0 only when every operation
attempted passed the oracle gate.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def other_spark_jvms() -> list[int]:
    """Pids of running Spark JVMs (driver or submit) on this host."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"java" in cmd.split(b"\0", 1)[0] and b"org.apache.spark" in cmd:
            pids.append(int(d))
    return pids


def preflight() -> str | None:
    """Why the benchmark cannot run here, or None."""
    if not os.path.isdir(os.path.join(ROOT, "cdc_spark")):
        return f"no cdc_spark package under {ROOT}; run from a full checkout"
    # a JVM from a run that just ended may take a moment to exit
    deadline = time.monotonic() + 20
    while other_spark_jvms():
        if time.monotonic() > deadline:
            return (f"another Spark JVM is running (pids {other_spark_jvms()}); "
                    "two JVMs with pinned heaps do not fit this host")
        time.sleep(1)
    return None


def isolate_scratch() -> None:
    """Keep every temporary file of this process, the JVM and the Python
    workers inside the checkout."""
    tmp = os.path.join(ROOT, ".perfbench", "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: the JVM's hsperfdata file goes to /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def result_line(res: dict, names: list[dict]) -> dict:
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
            for m in names
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    why = preflight()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    isolate_scratch()
    sys.path.insert(0, ROOT)
    from perfbench.workloads import execute

    try:
        res = execute(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    except Exception:
        traceback.print_exc()
        return 1
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    for note in res["notes"]:
        print(f"perfbench: FAILED {note}", file=sys.stderr)
    print("info " + json.dumps(res["info"], sort_keys=True))
    print(json.dumps(result_line(res, names)))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
