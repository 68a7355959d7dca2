"""Self-check of the benchmark at sf0.001.

    python3 perfbench/smoke.py

Runs every workload declared in BENCHMARK.json once, untraced and
traced, on the sf0.001 reference tables, and checks that:

- the last line of standard output is the result object, with exactly
  the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
- every declared metric appears by name with its declared unit, as a
  number: the end-to-end metrics untraced, the per-layer ones traced;
- every operation of the deck was timed (one latency per op attempted)
  and none failed or mismatched its DuckDB oracle;
- in a directory holding only BENCHMARK.json and the benchmark's files,
  the benchmark exits non-zero without printing a result.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(spec: dict, cwd: str, workload: str, trace: int,
             sf: str = "0.001") -> tuple[int, list[str], str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "0", "--trace", str(trace),
                             "--sf", sf]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=300)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    rc, lines, err = run_once(spec, ROOT, workload, trace)
    where = f"{workload} --trace {trace}"
    if rc != 0 or len(lines) < 2:
        return [f"{where}: exit {rc}\n{err[-2000:]}"]
    res = json.loads(lines[-1])
    report = json.loads(lines[-2])["report"]
    problems = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{where}: result keys {sorted(res)}")
    if res["failed"] != 0 or res["correct"] is not True:
        problems.append(f"{where}: {res['failed']} of {res['attempted']} "
                        f"ops failed\n{err[-2000:]}")
    if len(report["ops"]) != res["attempted"] or res["attempted"] < 1:
        problems.append(f"{where}: {len(report['ops'])} latencies for "
                        f"{res['attempted']} ops attempted")
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = res["metrics"]
    if set(got) != set(want):
        problems.append(f"{where}: metrics differ from BENCHMARK.json: "
                        f"missing {sorted(set(want) - set(got))}, "
                        f"extra {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit or not isinstance(m.get("value"),
                                                   (int, float)):
            problems.append(f"{where}: {name} = {m}, declared unit {unit}")
    return problems


def check_bare_directory(spec: dict) -> list[str]:
    """Without the program beside it, the benchmark must fail loudly."""
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, path),
                            os.path.join(bare, path),
                            ignore=shutil.ignore_patterns(
                                ".work", ".cache", "__pycache__"))
        workload = spec["workloads"][0]["name"]
        rc, lines, _ = run_once(spec, bare, workload, 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if rc == 0:
        return ["bare directory: benchmark exited 0"]
    if lines and lines[-1].startswith("{") and '"metrics"' in lines[-1]:
        return ["bare directory: benchmark printed a result"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = check_bare_directory(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems += check_run(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: done", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke: ok" if not problems else f"smoke: {len(problems)} failed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
