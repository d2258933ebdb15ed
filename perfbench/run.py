#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload stream_regions --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run copies the package into
``perfbench/.work/run`` (so every artifact root starts empty and nothing
is written into the checkout's own package), makes the inputs from
``--seed``, starts a fresh engine process (``engine.py``) and, for
``stream_regions``, the load generator (``gen_stream.py``). It samples the
engine's process-tree RSS while it runs and prints one JSON object as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` metrics of
``BENCHMARK.json``, with ``--trace 1`` its ``per_layer`` metrics. The full
record of a run, and the span tree of a traced run, are written to
``perfbench/.work/results``.

``--fixtures DIR`` runs ``ops_sf0.1`` or ``battery_sf0.01`` on an existing
fixture directory instead of generated tables, to compare the two.
"""

from __future__ import annotations

import argparse
import compileall
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "connor_fun_streamproducer_spark"
WORK = os.path.join(HERE, ".work")
RUN = os.path.join(WORK, "run")
RESULTS = os.path.join(WORK, "results")
DEADLINE_S = 170

SF = {"ops_sf0.1": 0.1, "battery_sf0.01": 0.01}
# stream_regions: 2,000 events/s in 10 files/s. Part of a trigger's cost
# is per file, so a slow trigger admits more files and runs slower still.
# At 20 files/s the latency p50 ranged over 2.2-5.4 s from run to run on a
# 4-core host; at 10 files/s it stayed within 1.8-2.4 s. The drain
# backlogs are 1,000 events per file.
STREAM_FILES_PER_S = 10
STREAM_EVENTS_PER_FILE = 200
STREAM_WARMUP_S = 8.0  # engine.STREAM_WARMUP_S
BACKLOG_FILES = {"drain_warm": 20, "drain_timed": 80}
BACKLOG_EVENTS_PER_FILE = 1000

# Absolute ".scratch" roots hard-coded in the package; the copy points
# them at its own directory so a run writes only inside the checkout.
_SCRATCH_LITERAL = re.compile(r"([\"'])/[^\"'\s]*/\.scratch")


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def copy_package(dst_root: str) -> None:
    src = os.path.join(ROOT, PKG)
    scratch = os.path.join(dst_root, ".scratch")
    for d, dirs, files in os.walk(src):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        out = os.path.join(dst_root, os.path.relpath(d, ROOT))
        os.makedirs(out, exist_ok=True)
        for f in files:
            s, t = os.path.join(d, f), os.path.join(out, f)
            if f.endswith(".py"):
                with open(s) as fh:
                    text = fh.read()
                with open(t, "w") as fh:
                    fh.write(_SCRATCH_LITERAL.sub(lambda m: m.group(1) + scratch, text))
            else:
                shutil.copy2(s, t)


def tree_pids(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def tree_rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler(threading.Thread):
    """Peak RSS of a process tree, sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            self.peak = max(self.peak, tree_rss_bytes(tree_pids(self.pid)))
            self.done.wait(0.1)


def kill_group(pgid: int) -> None:
    """Kill whatever is left of the engine's process group (the JVM, Python
    workers); the engine runs in a session of its own."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):  # wait until every member has ended
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def engine_env() -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(RUN, "spark-local"),
        PYTHONUNBUFFERED="1",
        # Every JVM of the run, the spark-submit launcher included, keeps
        # its temp files in the run directory and writes no perf data.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def gen(*args: str) -> list[str]:
    return [sys.executable, os.path.join(HERE, "gen_stream.py"), *args]


def result_line(spec: dict, res: dict, trace: int) -> dict:
    """The result object: the end-to-end metrics of BENCHMARK.json, or with
    ``trace`` its per-layer metrics. Raises KeyError for a missing metric."""
    wanted, source = (spec["per_layer"], res["layers"]) if trace else (spec["end_to_end"], res["metrics"])
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixtures", help="read an existing fixture directory instead of generating the tables")
    a = ap.parse_args()
    t_begin = time.time()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        die("BENCHMARK.json not found at the checkout root")
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        die(f"package {PKG!r} not found at the checkout root")
    from keys import WORKLOAD_KEYS

    if a.workload not in WORKLOAD_KEYS:
        die(f"unknown workload {a.workload!r}; known: {sorted(WORKLOAD_KEYS)}")

    shutil.rmtree(RUN, ignore_errors=True)
    os.makedirs(RESULTS, exist_ok=True)
    copy_package(RUN)
    compileall.compile_dir(os.path.join(RUN, PKG), quiet=2)  # keeps bytecode compilation out of set-up

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-fixtures" if a.fixtures else "")
    out = os.path.join(RUN, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"), "--workload", a.workload,
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
        "--trace-out", os.path.join(RESULTS, f"{tag}.spans.json"),
    ]
    generator = None
    log = open(os.path.join(RUN, "engine.log"), "w")
    if a.workload == "stream_regions":
        sroot = os.path.join(RUN, "stream")
        for phase, name in ((1, "drain_warm"), (2, "drain_timed")):
            subprocess.run(
                gen("backlog", os.path.join(sroot, name), "--seed", str(a.seed), "--files", str(BACKLOG_FILES[name]),
                    "--events", str(BACKLOG_EVENTS_PER_FILE), "--phase", str(phase)),
                check=True,
            )
        generator = subprocess.Popen(
            gen("open", os.path.join(sroot, "open"), "--seed", str(a.seed), "--rate", str(STREAM_FILES_PER_S),
                "--events", str(STREAM_EVENTS_PER_FILE), "--seconds", str(a.seconds + STREAM_WARMUP_S),
                "--go", os.path.join(sroot, "go"), "--manifest", os.path.join(sroot, "manifest.json")),
            stdout=log, stderr=log,
        )
        prime = os.path.join(sroot, "open", "events.parquet", "f000000.parquet")
        while not os.path.exists(prime):
            if generator.poll() is not None:
                die("load generator exited before writing its first file")
            time.sleep(0.005)
        cmd += ["--stream-root", sroot]
    elif a.fixtures:
        cmd += ["--data", os.path.abspath(a.fixtures)]
    else:
        from gen_tables import write_tables

        data = os.path.join(RUN, "data")
        write_tables(data, SF[a.workload], a.seed)
        cmd += ["--data", data]

    t_spawn = time.time()
    proc = subprocess.Popen(cmd + ["--t-spawn", repr(t_spawn)], cwd=RUN, env=engine_env(), stdout=log, stderr=log,
                            start_new_session=True)
    rss = RssSampler(proc.pid)
    rss.start()
    try:
        proc.wait(timeout=max(5.0, DEADLINE_S - (time.time() - t_begin)))
    except subprocess.TimeoutExpired:
        pass
    rss.done.set()
    rss.join()
    timed_out = proc.poll() is None
    kill_group(proc.pid)
    proc.wait()
    if generator is not None:
        if generator.poll() is None:
            generator.kill()
        generator.wait()
    log.close()
    if timed_out or proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(RUN, "engine.log")) as f:
            tail = f.read()[-3000:]
        print(tail, file=sys.stderr)
        die("engine timed out" if timed_out else f"engine failed (exit {proc.returncode})")

    with open(out) as f:
        res = json.load(f)
    res["layers"]["driver_peak_rss_mb"] = rss.peak / 2**20
    res["seed"], res["seconds"], res["trace"] = a.seed, a.seconds, a.trace
    res["run_wall_s"] = time.time() - t_begin
    with open(os.path.join(RESULTS, f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(RUN, ignore_errors=True)

    for fail in res["failures"][:20]:
        print(f"perfbench: failed: {fail}", file=sys.stderr)
    try:
        line = result_line(spec, res, a.trace)
    except KeyError as exc:
        die(f"run did not produce metric {exc}")
    print(json.dumps(line))


if __name__ == "__main__":
    main()
