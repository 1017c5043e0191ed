"""Smoke test of the benchmark itself (about six minutes on 4 cores).

    python3 perfbench/smoke.py

For every workload it runs one shortest run untraced and one traced,
and asserts that each metric BENCHMARK.json declares is emitted with
its unit and that every output checked correct. A run with `--corrupt`
must fail its output checks, and a directory holding only
BENCHMARK.json and perfbench/ must make the benchmark exit non-zero
without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, str]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=300)
    return p.returncode, p.stdout


def result(args: list[str]) -> dict:
    code, out = run(args)
    if code != 0:
        raise SystemExit(f"run {args} exited {code}")
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    with open(f"{ROOT}/BENCHMARK.json") as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        base = ["--workload", w["name"], "--seed", "7", "--seconds", "1"]
        for trace, declared in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            res = result(base + ["--trace", trace])
            if not (res["correct"] and res["failed"] == 0 and res["attempted"] >= 1):
                raise SystemExit(f"{w['name']} trace {trace}: outputs wrong: {res}")
            got = res["metrics"]
            want = {m["name"]: m["unit"] for m in declared}
            if set(got) != set(want):
                raise SystemExit(f"{w['name']} trace {trace}: metric names differ: "
                                 f"{sorted(set(got) ^ set(want))}")
            for name, unit in want.items():
                if got[name]["unit"] != unit or not isinstance(got[name]["value"], float):
                    raise SystemExit(f"{w['name']}: {name} emitted as {got[name]}")
        res = result(base + ["--trace", "0", "--corrupt"])
        if res["correct"] or res["failed"] == 0:
            raise SystemExit(f"{w['name']}: corrupted outputs passed the checks: {res}")
        print(f"{w['name']}: ok", flush=True)

    bare = f"{ROOT}/.perfbench_work/bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, f"{bare}/perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", bare)
    try:
        code, out = run(["--workload", "ingest", "--seed", "1", "--seconds", "1",
                         "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:  # other runs' work directories are still there
            pass
    if code == 0 or out.strip():
        raise SystemExit(f"bare directory: exit {code}, output {out!r}")
    print("bare directory: ok")


if __name__ == "__main__":
    main()
