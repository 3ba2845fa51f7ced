"""Self-test of the benchmark: every workload at the tiny size.

    python3 perfbench/selftest.py

For each workload it makes one untraced run and one traced run with a
deliberately corrupted expected answer, and asserts that

- every metric BENCHMARK.json names is printed, with its unit;
- the corrupted answer is caught: the run is not correct and
  ``ops_failed_frac`` is above 0;
- the trace file parses, and every self time in it is non-negative.

Exits 0 when all hold, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int, corrupt: bool) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    if corrupt:
        cmd.append("--corrupt")
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n"
                             f"{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def check_names(result: dict, specs: list[dict], where: str) -> list[str]:
    errors = []
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        if got is None:
            errors.append(f"{where}: {spec['name']} missing")
        elif got["unit"] != spec["unit"]:
            errors.append(f"{where}: {spec['name']} has unit {got['unit']}, "
                          f"BENCHMARK.json says {spec['unit']}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    errors = []
    for wl in (w["name"] for w in bench["workloads"]):
        _record, plain = run(wl, trace=0, corrupt=False)
        errors += check_names(plain, bench["end_to_end"], f"{wl} trace 0")
        if not plain["correct"] or plain["failed"]:
            errors.append(f"{wl}: uncorrupted run reported failures")

        record, traced = run(wl, trace=1, corrupt=True)
        errors += check_names(traced, bench["per_layer"], f"{wl} trace 1")
        if traced["correct"] or traced["metrics"]["ops_failed_frac"][
                "value"] <= 0:
            errors.append(f"{wl}: corrupted answer did not count as failed")
        with open(record["trace_file"]) as fh:
            trace = json.load(fh)
        if not trace["spans"]:
            errors.append(f"{wl}: trace has no spans")
        negative = {k: v for k, v in trace["self_s"].items() if v < 0}
        if negative:
            errors.append(f"{wl}: negative self times {negative}")
        print(f"{wl}: {len(trace['spans'])} spans, "
              f"{len(trace['self_s'])} layers", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest", "failed" if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
