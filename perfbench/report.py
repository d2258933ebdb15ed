#!/usr/bin/env python3
"""Run every workload once and print its end-to-end metrics as a table.

    python3 perfbench/report.py [--seed 1] [--seconds 10]

Covers the workloads of BENCHMARK.json and ``battery_sf0.01``, which is
kept runnable but is not one of them. Besides the metrics
of BENCHMARK.json it prints ``ops_failed_frac`` (failed / attempted, which
is 0 on correct code and so cannot be a bounded metric), and
``stream_latency_p50_s``, ``stream_latency_p90_s`` and
``driver_peak_rss_mb`` (per-layer metrics, too unsteady for a bound).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from keys import WORKLOAD_KEYS  # noqa: E402


def main() -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    status = 0
    for w in WORKLOAD_KEYS:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", "0"],
            capture_output=True, text=True,
        )
        if p.returncode != 0:
            print(f"{w}: run failed\n{p.stderr[-2000:]}")
            status = 1
            continue
        line = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(HERE, ".work", "results", f"{w}-seed{a.seed}-trace0.json")) as f:
            record = json.load(f)
        rows = [(n, v["value"], v["unit"]) for n, v in line["metrics"].items()]
        rows.append(("ops_failed_frac", line["failed"] / line["attempted"], "frac"))
        for name in ("stream_latency_p50_s", "stream_latency_p90_s"):
            rows.append((name, record["layers"][name], "s"))
        rows.append(("driver_peak_rss_mb", record["layers"]["driver_peak_rss_mb"], "MB"))
        print(f"{w}  (correct={line['correct']}, attempted={line['attempted']}, failed={line['failed']})")
        for name, value, unit in rows:
            assert name not in units or units[name] == unit
            print(f"  {name:22s} {value:14.4f} {unit}")
    sys.exit(status)


if __name__ == "__main__":
    main()
