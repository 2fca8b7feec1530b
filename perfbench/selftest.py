"""Fast self-test of the benchmark at its smallest sizes (`--scale tiny`:
kg_build on 10k turns, prep_job on 50 documents). Run from the repo root:

    python3 perfbench/selftest.py

It checks that
- every workload, untraced and traced, prints a result line whose metric
  names and units are exactly BENCHMARK.json's end_to_end / per_layer
  lists, with every run correct;
- a deliberately wrong pinned hash is reported as failed runs.
Takes about four minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def expect(ok: bool, what) -> None:
    if not ok:
        raise SystemExit(f"FAIL: {what}")


def run(workload: str, trace: int, pins: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    if pins:
        cmd += ["--pins", pins]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=300)
    expect(out.returncode == 0, out.stderr[-2000:])
    result = json.loads(out.stdout.strip().splitlines()[-1])
    expect(set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys())
    expect(result["attempted"] >= 1, result)
    return result


def check_names(result: dict, declared: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    expect(got == want, (sorted(set(got) ^ set(want)), {k for k in got if got[k] != want.get(k)}))
    for name, m in result["metrics"].items():
        expect(isinstance(m["value"], (int, float)), (name, m))


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            result = run(w["name"], trace)
            check_names(result, declared)
            expect(result["correct"] and result["failed"] == 0, (w["name"], trace, result))
            print(f"ok  {w['name']} trace={trace}: {len(result['metrics'])} metrics", flush=True)

    with open(os.path.join(HERE, "pins.json")) as fh:
        pins = json.load(fh)
    pins["prep_job@tiny"]["packed_hash"] = "0" * 16
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    wrong = os.path.join(HERE, ".work", "selftest-wrong-pins.json")
    with open(wrong, "w") as fh:
        json.dump(pins, fh)
    result = run("prep_job", 0, pins=wrong)
    expect(not result["correct"] and result["failed"] == result["attempted"], result)
    print(f"ok  wrong pinned hash -> {result['failed']}/{result['attempted']} runs failed")


if __name__ == "__main__":
    main()
