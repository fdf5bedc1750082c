#!/usr/bin/env python3
"""Self-test of the benchmark's output checks. Run from the repository root:

    python3 perfbench/test_checks.py

1. query_mix with one stored expected digest corrupted: every run of that
   query must count as failed, so the result reads correct=false.
2. The same seed again, uncorrupted: correct=true, and the generated
   inputs hash the same as in (1).
3. cdc_live with the expected A1 answer corrupted: exactly that check fails.
"""
import json
import re
import subprocess
import sys


def run(*args):
    p = subprocess.run(["python3", "perfbench/run.py", *args], capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"run {args} exited {p.returncode}:\n{p.stderr[-2000:]}")
    lines = p.stdout.strip().split("\n")
    result = json.loads(lines[-1])
    inputs = re.search(r'"inputs_sha256":"([0-9a-f]+)"', p.stdout).group(1)
    cycles = re.search(r"\[perfbench\] cycles\s+([0-9.]+)", p.stdout)
    return result, inputs, cycles and int(float(cycles.group(1)))


def main():
    base = ["--seed", "5", "--seconds", "1", "--trace", "0"]
    bad, inputs_bad, cycles = run("--workload", "query_mix", *base, "--inject", "kql_avg_by_city")
    assert not bad["correct"], bad
    assert bad["failed"] == cycles >= 1, (bad, cycles)

    good, inputs_good, _ = run("--workload", "query_mix", *base)
    assert good["correct"] and good["failed"] == 0, good
    assert inputs_bad == inputs_good, "same seed must generate the same inputs"

    cdc, _, _ = run("--workload", "cdc_live", "--seed", "5", "--seconds", "3", "--trace", "0",
                    "--inject", "A1")
    assert not cdc["correct"] and cdc["failed"] == 1, cdc
    print("perfbench self-test passed")


if __name__ == "__main__":
    main()
