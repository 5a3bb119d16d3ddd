#!/usr/bin/env python3
"""Self-test of the benchmark harness (about 8 minutes on 4 cores).

    python3 perfbench/selftest.py

Checks, from the repository root:

1. each workload, untraced and traced, exits 0 and prints as its last
   line a result with every ``BENCHMARK.json`` metric of that mode,
   each with its declared unit, ``correct`` true and ``failed`` 0;
2. a corrupted oracle expectation (one row of the cached DuckDB result
   changed) is caught: the run reports ``failed > 0``, a non-zero
   ``error_rate`` and exits non-zero;
3. in a directory holding only ``BENCHMARK.json`` and ``perfbench/``
   the benchmark exits non-zero without printing a result;
4. no run leaves a process behind: each runs in a session of its own,
   and once it has exited no process of that session is left.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SEED = 9001


LEFTOVERS = []


def session_members(sid: int) -> list[str]:
    """``pid comm state`` of every process in session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
        fields = rest.split()
        if int(fields[3]) == sid:
            out.append(f"{pid} {comm} {fields[0]}")
    return out


def bench(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, start_new_session=True)
    out, _ = p.communicate(timeout=600)
    left = session_members(p.pid)
    if left:
        LEFTOVERS.append(f"{workload} trace={trace} in {cwd}: {left}")
    return p.returncode, out.splitlines()


def result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    for workload in [w["name"] for w in spec["workloads"]]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = bench(ROOT, workload, trace)
            res = result(lines)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if code != 0 or not res["correct"] or res["failed"]:
                problems.append(f"{workload} trace={trace}: run failed")
            if got != want:
                problems.append(f"{workload} trace={trace}: metrics/units "
                                f"differ: {sorted(set(got) ^ set(want))}")
            if not any(n.startswith("# error_rate 0.0000") for n in lines):
                problems.append(f"{workload} trace={trace}: error_rate line")

    # corrupt the cached oracle of the corpus workload, then rerun
    sys.path[:0] = [HERE, ROOT]
    import corpus

    cached = corpus.oracle_path(WORK)
    with open(cached) as f:
        good = f.read()
    bad = json.loads(good)
    bad["q25_fingerprint"]["rows"][0][0] = "corrupted"
    try:
        with open(cached, "w") as f:
            json.dump(bad, f)
        code, lines = bench(ROOT, "corpus-queries", 0)
        res = result(lines)
        rate = [n for n in lines if n.startswith("# error_rate ")]
        if code == 0 or res["failed"] == 0 or res["correct"]:
            problems.append("corrupted oracle not detected")
        if not rate or rate[0].startswith("# error_rate 0.0000"):
            problems.append("corrupted oracle: error_rate not above 0")
    finally:
        with open(cached, "w") as f:
            f.write(good)

    bare = os.path.join(WORK, "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        code, lines = bench(bare, "corpus-queries", 0)
        if code == 0 or (lines and lines[-1].startswith("{")):
            problems.append("bare directory run did not fail cleanly")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    problems += [f"process left running: {x}" for x in LEFTOVERS]
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
