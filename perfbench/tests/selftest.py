#!/usr/bin/env python3
"""Self-tests of the vintage-table benchmark.

    python3 perfbench/tests/selftest.py

Builds the benchmark like a run does, runs perfbench.SelfTest (seeded
generation is reproducible, golden mode matches FIXTURES.md's per-file
table, the model follows the stream, names are well formed) and checks
that BENCHMARK.json lists exactly the workloads and metrics the code
reports, with the same units. Exits non-zero on any failure.
"""

import importlib.util
import json
import re
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
spec = importlib.util.spec_from_file_location("perfbench_run", HERE.parent / "run.py")
run = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run)

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def main():
    classpath, _ = run.build()
    work = run.STATE / "work" / "selftest"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        code, out = run.run_java(
            run.java_command(classpath, "perfbench.SelfTest", [], work), timeout=300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        run.fail("perfbench.SelfTest failed", 1)
    reported = {"workload": [], "end_to_end": [], "per_layer": []}
    for line in out.splitlines():
        kind, name, *unit = line.split()
        reported[kind].append((name, unit[0] if unit else None))

    bench = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    failures = []
    listed = [w["name"] for w in bench["workloads"]]
    if listed != [n for n, _ in reported["workload"]]:
        failures.append(f"workloads {listed} differ from the code's")
    if tuple(listed) != run.WORKLOADS:
        failures.append(f"workloads {listed} differ from run.py's {run.WORKLOADS}")
    for key in ("end_to_end", "per_layer"):
        pairs = [(m["name"], m["unit"]) for m in bench[key]]
        if pairs != reported[key]:
            failures.append(f"{key} names or units differ from the code's")
    names = listed + [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    bad = [n for n in names if not NAME.fullmatch(n)]
    if bad:
        failures.append(f"malformed names: {bad}")
    if len(set(names)) != len(names):
        failures.append("a name is used twice")
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    print("ok   BENCHMARK.json matches the code" if not failures else
          f"{len(failures)} BENCHMARK.json check(s) failed", file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
