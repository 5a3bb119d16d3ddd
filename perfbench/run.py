#!/usr/bin/env python3
"""Repository benchmark: one command, oracle-checked workloads.

    python3 perfbench/run.py --workload frontier-steady --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Everything the run writes (Spark conf,
scratch space, event logs, generated inputs, oracle caches and run
records) goes under ``.perfbench_work/`` there. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the ``end_to_end`` metrics of ``BENCHMARK.json``
with the Spark event log off, ``--trace 1`` reports the ``per_layer``
metrics from a traced run. A failed operation or an oracle mismatch
makes the exit code non-zero. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("frontier-steady", "corpus-queries")
# the benchmark's modules a run executes; their digest identifies the run's code
RUN_MODULES = ("run.py", "common.py", "tracing.py", "frontier.py", "corpus.py")

_LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
# benign accumulator-update races on concurrent jobs, logged per task
logger.dag.name = org.apache.spark.scheduler.DAGScheduler
logger.dag.level = off
"""


def prepare_env(run_id: str, trace: bool) -> str | None:
    """Point every scratch path of Python, the JVM and Spark into the
    work dir, and give Spark its own conf dir. Only the traced run's
    conf turns the event log on. Must run before the JVM starts.
    Returns the event-log dir of a traced run."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    conf = os.path.join(WORK, "conf", "traced" if trace else "plain")
    for d in (tmp, local, conf):
        os.makedirs(d, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false",
             f"spark.eventLog.enabled {'true' if trace else 'false'}"]
    evdir = None
    if trace:
        evdir = os.path.join(WORK, "eventlog", run_id)
        os.makedirs(evdir, exist_ok=True)
        lines += [f"spark.eventLog.dir file://{evdir}",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false",
                  # the event-log queue must not drop events of a busy round
                  "spark.scheduler.listenerbus.eventqueue.eventLog.capacity"
                  " 200000"]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write(_LOG4J)
    import tempfile

    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    return evdir


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def host_info(seed: int) -> dict:
    """nproc, memory, seed and the code version the numbers belong to:
    a git commit when the checkout is a repository, and always a digest
    of the engine's Python sources and the benchmark's run modules."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "meilisearchcrawler_spark")
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    paths += [os.path.join(HERE, name) for name in RUN_MODULES]
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        paths += [os.path.join(dirpath, n) for n in sorted(files)
                  if n.endswith(".py")]
    for path in paths:
        with open(path, "rb") as f:
            h.update(os.path.basename(path).encode() + f.read())
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2 ** 20, 1),
            "seed": seed, "git_commit": commit,
            "source_sha256": h.hexdigest()[:16]}


def untraced_reference(workload: str, info: dict) -> list[float]:
    """``op_s`` of this checkout's correct untraced runs of the workload
    on the same code (source digest) and seed: the reference of the
    traced run's A/B report line."""
    rec_dir = os.path.join(WORK, "records")
    out = []
    if os.path.isdir(rec_dir):
        for name in sorted(os.listdir(rec_dir)):
            if name.startswith(f"{workload}_") and "_t0_" in name:
                with open(os.path.join(rec_dir, name)) as f:
                    rec = json.load(f)
                same = all(rec.get("info", {}).get(k) == info[k]
                           for k in ("source_sha256", "seed"))
                if rec.get("correct") and same:
                    out.append(rec["metrics"]["op_s"])
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run unwinds like a failed one: the oracle and input
    # workers are shut down and the JVM is stopped before exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.perf_counter()
    spec = load_spec()
    # the engine and the entry module are imported from the checkout
    # root; without them this fails before any measurement
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import meilisearchcrawler_spark  # noqa: F401
    import __spark_entry__  # noqa: F401

    run_id = f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}_{int(time.time())}"
    evdir = prepare_env(run_id, bool(args.trace))
    info = host_info(args.seed)
    if args.workload == "frontier-steady":
        import frontier as wl
    else:
        import corpus as wl
    import common

    ops = common.Ops()
    try:
        res = wl.run(ops, seed=args.seed, seconds=args.seconds,
                     trace=bool(args.trace), eventlog_dir=evdir, work=WORK,
                     t_start=t_start)
    except Exception:
        # the operation in progress failed; report what was counted
        ops.fail(traceback.format_exc())
        res = {"end_to_end": {}, "per_layer": {}, "report": [],
               "detail": {}}
    finally:
        common.stop_jvm()

    names = [m["name"] for m in
             spec["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in
             spec["end_to_end"] + spec["per_layer"]}
    values = res["per_layer"] if args.trace else res["end_to_end"]
    missing = sorted(set(names) - set(values))
    if missing and not ops.failed:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {n: {"value": values[n], "unit": units[n]}
               for n in names if n in values}
    out = {"correct": ops.failed == 0, "attempted": max(ops.attempted, 1),
           "failed": ops.failed, "metrics": metrics}

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", run_id + ".json"), "w") as f:
        json.dump({**out, "metrics": values, "info": info,
                   "detail": res["detail"]}, f, indent=1, default=str)
    print("# " + json.dumps({"workload": args.workload, **info}))
    if args.trace and "op_s" in res["end_to_end"]:
        ref = untraced_reference(args.workload, info)
        traced = res["end_to_end"]["op_s"]
        if ref:
            ops.notes.append(
                f"trace A/B: op_s {traced:.4f} s traced vs "
                f"{statistics.median(ref):.4f} s untraced (median of {len(ref)} "
                f"run(s) of this code and seed): "
                f"{(traced / statistics.median(ref) - 1) * 100:+.1f}%")
        else:
            ops.notes.append(
                "trace A/B: no untraced run of this code and seed in this "
                "checkout; trace.cost_pct is the in-run estimate")
    for line in res["report"] + ops.notes:
        for part in line.splitlines():
            print("# " + part)
    print(f"# error_rate {ops.failed / out['attempted']:.4f} ratio "
          f"(failed {ops.failed} / attempted {out['attempted']})")
    for n, m in metrics.items():
        print(f"# {n:36s} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps(out), flush=True)
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    import common

    common.adopt_orphans()
    try:
        code = main()
    finally:
        # nothing the run started outlives it, on any path out
        common.reap_children()
    sys.exit(code)
