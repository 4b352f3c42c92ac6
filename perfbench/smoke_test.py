#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke_test.py

Run from the repository root. For every workload in BENCHMARK.json it
checks that the untraced run emits exactly the end-to-end metrics and the
traced run exactly the per-layer metrics, each with its declared unit, and
that every output check passes; then that a run whose expectations are
deliberately corrupted reports failures instead of a result marked correct.
Takes a few minutes (each run starts a JVM and a Spark session).
"""
import json
import subprocess
import sys


def run(workload, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny",
           *extra]
    res = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if res.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)} exited {res.returncode}:\n"
                 f"{res.stderr[-2000:]}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    return cond


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ok = True
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v.get("unit") for k, v in r["metrics"].items()}
            ok &= check(got == want,
                        f"{w} trace={trace}: every {key} metric with its unit")
            ok &= check(all(isinstance(v["value"], (int, float))
                            for v in r["metrics"].values()),
                        f"{w} trace={trace}: every value is a number")
            if key == "end_to_end":
                ok &= check(all(v["value"] > 0
                                for v in r["metrics"].values()),
                            f"{w}: end-to-end values are positive")
            ok &= check(r["correct"] and r["failed"] == 0
                        and r["attempted"] >= 1,
                        f"{w} trace={trace}: outputs correct "
                        f"({r['attempted']} attempted)")
        r = run(w, 0, "--corrupt-expectation")
        ok &= check(not r["correct"] and r["failed"] >= 1,
                    f"{w}: corrupted expectation reported as failure "
                    f"({r['failed']} of {r['attempted']} failed)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
