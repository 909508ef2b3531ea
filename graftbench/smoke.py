#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 graftbench/smoke.py

Runs every workload on tiny tables for a few seconds, untraced and traced,
and fails unless each run exits 0, passes every model check (failed = 0,
so error_rate = 0) and prints exactly the metric names BENCHMARK.json
declares for its mode, each a finite number with the declared unit. The
untraced runs must also print the readable report lines the workload owns.
"""
import json
import math
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)

# Readable-report lines each workload must print (besides setup_s, ops_per_s, error_rate).
REPORT = {
    "oltp_ts": ["commit_ms_p50", "get_ms_p50", "maintain_ms_p50", "write_amp", "space_amp"],
    "olap_clean": ["get_ms_p50", "scan_ms_p50"],
    "olap_mor": ["get_ms_p50", "scan_ms_p50"],
    "htap_indexed": ["commit_ms_p50", "get_ms_p50", "lookup_ms_p50", "refresh_ms_p50",
                     "maintain_ms_p50", "write_amp", "space_amp"],
}


def run(workload, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    return p.returncode, p.stdout.rstrip("\n").splitlines()


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    errors = []
    for w in REPORT:
        for trace in (0, 1):
            code, lines = run(w, trace)
            tag = f"{w} trace={trace}"
            if code != 0 or not lines:
                errors.append(f"{tag}: exit {code}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                errors.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                              f"attempted={res['attempted']}")
            got = res["metrics"]
            if set(got) != set(declared[trace]):
                errors.append(f"{tag}: metric names differ: missing "
                              f"{sorted(set(declared[trace]) - set(got))}, extra "
                              f"{sorted(set(got) - set(declared[trace]))}")
            for k, v in got.items():
                if declared[trace].get(k) != v["unit"] or not math.isfinite(v["value"]):
                    errors.append(f"{tag}: {k} = {v}")
                if trace == 0 and v["value"] <= 0:
                    errors.append(f"{tag}: end-to-end {k} is not positive: {v['value']}")
            if trace == 0:
                shown = {l.split()[1] for l in lines if l.startswith("metric ")}
                for k in ["setup_s", "ops_per_s", "error_rate"] + REPORT[w]:
                    if k not in shown:
                        errors.append(f"{tag}: report lacks {k}")
                if not any(l.startswith("metric error_rate") and " 0.000 " in l for l in lines):
                    errors.append(f"{tag}: error_rate is not 0")
            print(f"{tag}: ok" if not any(e.startswith(tag) for e in errors) else f"{tag}: FAILED")
    for e in errors:
        print("error:", e)
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
