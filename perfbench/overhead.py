#!/usr/bin/env python3
"""Tracing overhead: runs one workload untraced and traced on the same seed
and prints each end-to-end metric of both runs and their difference.

Usage: python3 perfbench/overhead.py --workload search [--seed N] [--seconds S]
"""
import argparse
import re
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
LINE = re.compile(r"^(\S+) end-to-end (\S+) = (\S+) (\S+) \(n=(\d+)\)$")


def e2e(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, check=True)
    return {m.group(2): (float(m.group(3)), m.group(4)) for m in map(LINE.match, p.stdout.splitlines()) if m}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    a = ap.parse_args()
    off = e2e(a.workload, a.seed, a.seconds, 0)
    on = e2e(a.workload, a.seed, a.seconds, 1)
    for name, (v0, unit) in off.items():
        if name in on:
            v1 = on[name][0]
            rel = f"{(v1 - v0) / v0:+.1%}" if v0 else "n/a"
            print(f"{a.workload} {name}: untraced {v0:.6g} {unit}, traced {v1:.6g} {unit}, overhead {rel}")


if __name__ == "__main__":
    main()
