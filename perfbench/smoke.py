#!/usr/bin/env python3
"""Tiny-input smoke of the benchmark: every workload, untraced and traced.

    python3 perfbench/smoke.py

Run from the repository root. Each workload runs on a few hundred docs
with ``--trace 0`` and ``--trace 1``; the smoke fails if a run exits
non-zero, reports ``correct: false``, or misses a metric named in
``BENCHMARK.json`` (or prints it non-finite or with another unit). The
traced run must also print its layer table. Takes a few minutes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def check(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    where = f"{workload} --trace {trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    errors = []
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} "
                      f"failed={result['failed']} attempted={result['attempted']}")
    expected = spec["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    for m in expected:
        v = got.get(m["name"])
        if v is None:
            errors.append(f"{where}: metric {m['name']} missing")
        elif not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
            errors.append(f"{where}: metric {m['name']} = {v['value']!r}")
        elif v["unit"] != m["unit"]:
            errors.append(f"{where}: metric {m['name']} unit {v['unit']} != {m['unit']}")
    extra = set(got) - {m["name"] for m in expected}
    if extra:
        errors.append(f"{where}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if trace and not any(line.startswith("# sum of layer self times") for line in lines):
        errors.append(f"{where}: no layer table")
    return errors


def main() -> int:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errs = check(spec, w["name"], trace)
            print(f"{w['name']} --trace {trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
