#!/usr/bin/env python3
"""Self-test of the serving benchmark: runs every workload on its tiny smoke
input, plain and traced, and checks the result line against BENCHMARK.json.

Run from the repository root:  python3 perfbench/selftest.py

For the contract's workloads it checks that the plain run prints exactly the
end-to-end metrics and the traced run exactly the per-layer metrics, each with
its unit and a finite value, and that every response was correct. The
history workload is not in the contract; its result is checked for shape and
its correctness is reported on a verdict line of its own.

Exit status: 0 if every check passes, 1 if a check of a contract workload
fails, 3 if only the history workload fails (it finds a known switch_commit
defect, see NOTES.md), so a break in a contract workload is never hidden
behind it.
"""
import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "10", "--trace", str(trace), "--smoke"]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}"
    return json.loads(lines[-1]), None


def check(result, expected):
    """Problems with a result line; `expected` maps metric name -> unit, or
    is None to check shape only."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        problems.append("attempted < 1")
    for name, m in result.get("metrics", {}).items():
        if set(m) != {"value", "unit"} or not math.isfinite(m["value"]):
            problems.append(f"metric {name} = {m}")
    if expected is not None:
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != expected:
            problems.append(f"metrics differ: missing {sorted(set(expected) - set(got))}, "
                            f"extra {sorted(set(got) - set(expected))}, "
                            f"units {[k for k in got if k in expected and got[k] != expected[k]]}")
    return problems


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    contract = [w["name"] for w in bench["workloads"]]
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    failed = {}
    for workload in contract + ["history"]:
        for trace in (0, 1):
            result, err = run(workload, trace)
            if err:
                problems = [err]
            else:
                problems = check(result, wanted[trace] if workload in contract else None)
                if not result["correct"]:
                    problems.append(f"{result['failed']} of {result['attempted']} "
                                    "actions returned wrong results")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{workload:13s} trace={trace}: {status}")
            failed[workload] = failed.get(workload, False) or bool(problems)
    contract_failed = any(failed[w] for w in contract)
    print(f"verdict contract workloads: {'FAIL' if contract_failed else 'ok'}")
    print(f"verdict history: {'FAIL' if failed['history'] else 'ok'}")
    sys.exit(1 if contract_failed else 3 if failed["history"] else 0)


if __name__ == "__main__":
    main()
