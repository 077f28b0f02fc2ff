#!/usr/bin/env python3
"""The benchmark's own test: runs every workload of BENCHMARK.json end to end
at tiny sizes (`run.py --smoke`), untraced and traced, and checks that each
run passes its correctness checks and prints every named metric, with its
unit, as a finite number; that every end-to-end metric is measured and
positive; and that every per-layer metric is measured by some workload.

    python3 graftbench/smoke.py        # from the repository root
"""
import json
import math
import os
import subprocess
import sys


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    run = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    problems, layer_seen = [], set()
    for w in spec["workloads"]:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, run, "--workload", w["name"], "--seed", "1",
                                "--seconds", "2", "--trace", str(trace), "--smoke"],
                               capture_output=True, text=True)
            tag = f"{w['name']} trace={trace}"
            before = len(problems)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                print("FAIL " + tag, flush=True)
                continue
            env, res = json.loads(lines[-2])["env"], json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            section = spec["per_layer" if trace else "end_to_end"]
            if [m["name"] for m in section] != list(res["metrics"]):
                problems.append(f"{tag}: printed metrics differ from BENCHMARK.json")
            for m in section:
                got = res["metrics"].get(m["name"], {})
                v = got.get("value")
                if got.get("unit") != m["unit"] or not isinstance(v, (int, float)) \
                        or not math.isfinite(v):
                    problems.append(f"{tag}: {m['name']} printed as {got}")
                elif not trace and v <= 0:
                    problems.append(f"{tag}: end-to-end {m['name']} = {v}")
            if trace:
                layer_seen |= {m["name"] for m in section} - set(env["not_measured"])
            elif env["not_measured"]:
                problems.append(f"{tag}: not measured {env['not_measured']}")
            print(("ok   " if len(problems) == before else "FAIL ") + tag, flush=True)
    unseen = [m["name"] for m in spec["per_layer"] if m["name"] not in layer_seen]
    if unseen:
        problems.append(f"per-layer metrics no workload measures: {unseen}")
    for p in problems:
        print("problem:", p)
    print("SMOKE PASS" if not problems else f"SMOKE FAIL ({len(problems)})")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
