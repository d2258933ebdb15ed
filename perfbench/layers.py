"""Span recorder and per-layer probes of a traced benchmark run.

Every probe sits at a boundary the package exposes: a counting wrapper on
the py4j gateway client, job groups read back through ``statusTracker``
and the application status store, Catalyst phase times from
``queryExecution().tracker()``, and wrappers around
``catalog.materialize_once`` and ``similarity.ivf_index`` installed on the
loaded modules. Spans are kept in memory and written out once, at the end.
``StealClock`` serves traced and untraced runs alike.
"""

from __future__ import annotations

import bisect
import json
import os
import threading
import time
from time import perf_counter

ARTIFACT_ROOTS = (".ivf_index", ".neardup_index", ".kmeans_index", ".graph_index")
_PKG = "connor_fun_streamproducer_spark"


def artifact_listing() -> list[str]:
    """Finished artifacts under the roots of the current directory."""
    out = []
    for root in ARTIFACT_ROOTS:
        try:
            out += [f"{root}/{n}" for n in os.listdir(root) if ".build-" not in n]
        except FileNotFoundError:
            pass
    return out


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class StealClock(threading.Thread):
    """Samples the machine's CPU clock ticks (``/proc/stat``) every 50 ms.

    On a virtual machine the hypervisor takes CPU time away from a busy
    vCPU while it runs other machines ("steal"). ``share(a, b)`` is the
    stolen part of the CPU time this machine wanted between wall times
    ``a`` and ``b``: stolen / (busy + stolen). Work that had its CPUs for
    only ``1 - share`` of the time took ``1 / (1 - share)`` times longer,
    so ``adjust`` scales a duration back by ``1 - share``.
    """

    def __init__(self, period: float = 0.05):
        super().__init__(daemon=True)
        self.period = period
        self.samples: list[tuple[float, int, int]] = []  # (wall time, busy ticks, stolen ticks)
        self.lock = threading.Lock()
        self.done = threading.Event()
        self.sample()

    def sample(self) -> tuple[float, int, int]:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        user, nice, system, _idle, _iowait, irq, softirq, steal = v + [0] * (8 - len(v))
        with self.lock:
            s = (time.time(), user + nice + system + irq + softirq, steal)
            self.samples.append(s)
        return s

    def run(self) -> None:
        while not self.done.wait(self.period):
            self.sample()

    def share(self, a: float, b: float) -> float:
        with self.lock:
            samples = list(self.samples)
        times = [s[0] for s in samples]
        start = samples[max(bisect.bisect_right(times, a) - 1, 0)]
        j = bisect.bisect_left(times, b)
        end = samples[j] if j < len(samples) else self.sample()
        busy, stolen = end[1] - start[1], end[2] - start[2]
        return stolen / (busy + stolen) if busy + stolen > 0 else 0.0

    def adjust(self, seconds: float, a: float, b: float) -> float:
        return seconds * (1 - self.share(a, b))


def pct(values: list[float], q: float) -> float:
    """Percentile with linear interpolation between closest ranks."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class _Span:
    def __init__(self, tracer: "Tracer", name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.t0 = perf_counter()
        self.idx = self.tracer.open(self.name, self.t0)
        return self

    def __exit__(self, *exc):
        self.seconds = perf_counter() - self.t0
        self.tracer.close(self.idx, perf_counter())
        return False


class Tracer:
    """Span tree plus counters. Disabled, it only times ``span`` blocks."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.wall0, self.pc0 = time.time(), perf_counter()
        self.py4j_cmds = 0
        self.catalog = {"catalog.artifact_builds": 0, "catalog.artifact_build_s": 0.0,
                        "catalog.artifact_bytes": 0, "catalog.artifact_serves": 0}
        self._depth = 0
        self._seq = 0

    # -- spans ------------------------------------------------------------

    def wall(self, pc: float) -> float:
        return self.wall0 + (pc - self.pc0)

    def open(self, name: str, pc: float) -> int:
        if not self.enabled:
            return -1
        parent = self.stack[-1] if self.stack else None
        self.spans.append({"name": name, "start": self.wall(pc), "end": None, "parent": parent})
        self.stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, idx: int, pc: float) -> None:
        if idx >= 0:
            self.spans[idx]["end"] = self.wall(pc)
            self.stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a finished span with wall-clock bounds."""
        if not self.enabled:
            return -1
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent, **attrs})
        return len(self.spans) - 1

    def span(self, name: str) -> _Span:
        return _Span(self, name)

    def write(self, path: str | None, calls: dict) -> None:
        if not path:
            return
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "calls": calls}, f)

    # -- probes -----------------------------------------------------------

    def prepare(self, spark, modules: dict) -> None:
        """Build the py4j counting wrapper and the artifact wrappers. They
        are in place only while a traced call runs (``attach``/``detach``),
        so an untraced call runs without them, as in an untraced run."""
        self.spark = spark
        self._client = spark.sparkContext._gateway._gateway_client
        send = self._client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_cmds += 1
            return send(*args, **kwargs)

        self._send = (send, counting_send)
        catalog = modules[f"{_PKG}.catalog"]
        similarity = modules.get(f"{_PKG}.llm.similarity")
        wrappers = {catalog.materialize_once: self._wrap_materialize(catalog.materialize_once)}
        if similarity is not None:
            wrappers[similarity.ivf_index] = self._wrap_ivf(similarity.ivf_index)
        self._patches = [
            (mod, attr, getattr(mod, attr), wrappers[getattr(mod, attr)])
            for name, mod in list(modules.items())
            if name.startswith(_PKG) and mod is not None
            for attr in ("materialize_once", "ivf_index")
            if getattr(mod, attr, None) in wrappers
        ]

    def attach(self) -> None:
        self._client.send_command = self._send[1]
        for mod, attr, _orig, wrapped in self._patches:
            setattr(mod, attr, wrapped)

    def detach(self) -> None:
        self._client.send_command = self._send[0]
        for mod, attr, orig, _wrapped in self._patches:
            setattr(mod, attr, orig)

    def _artifact(self, kind: str, t0: float, built_paths: list[str]) -> None:
        t1 = perf_counter()
        parent = self.stack[-1] if self.stack else None
        if built_paths:
            nbytes = sum(dir_bytes(p) for p in built_paths)
            self.catalog["catalog.artifact_builds"] += 1
            self.catalog["catalog.artifact_bytes"] += nbytes
            if self._depth == 0:  # nested builds are inside the outer one's time
                self.catalog["catalog.artifact_build_s"] += t1 - t0
            self.add(f"artifact.build:{kind}", self.wall(t0), self.wall(t1), parent,
                     paths=built_paths, bytes=nbytes)
        else:
            self.catalog["catalog.artifact_serves"] += 1
            self.add(f"artifact.serve:{kind}", self.wall(t0), self.wall(t1), parent)

    def _wrap_materialize(self, orig):
        def materialize_once(spark, path, build, source=None):
            existed = os.path.isfile(os.path.join(path, "_SUCCESS"))
            t0 = perf_counter()
            self._depth += 1
            try:
                return orig(spark, path, build, source=source)
            finally:
                self._depth -= 1
                self._artifact(os.path.basename(os.path.dirname(path)) or "materialize", t0,
                               [] if existed else [path])

        return materialize_once

    def _wrap_ivf(self, orig):
        def ivf_index(spark, sf_dir):
            before = set(artifact_listing())
            t0 = perf_counter()
            self._depth += 1
            try:
                return orig(spark, sf_dir)
            finally:
                self._depth -= 1
                new = [p for p in set(artifact_listing()) - before if p.startswith(".ivf_index/")]
                self._artifact(".ivf_index", t0, sorted(new))

        return ivf_index

    def op_probe(self, key: str) -> "OpProbe":
        self._seq += 1
        return OpProbe(self, key, self._seq)


class OpProbe:
    """Layer split of one op call: build, Catalyst phases, execution."""

    def __init__(self, tracer: Tracer, key: str, seq: int):
        self.tr, self.key = tracer, key
        self.sc = tracer.spark.sparkContext
        self.group_build, self.group_action = f"pb{seq}b", f"pb{seq}a"

    def before_build(self) -> None:
        self.sc.setJobGroup(self.group_build, self.key)
        self.first_span = len(self.tr.spans)
        self.c0 = self.tr.py4j_cmds

    def before_action(self) -> None:
        self.c1 = self.tr.py4j_cmds
        self.sc.setJobGroup(self.group_action, self.key)

    def finish(self, df, cdf, t0: float, t1: float, t2: float, t3: float, rows: int) -> dict:
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        build_jobs = st.getJobIdsForGroup(self.group_build)
        action_jobs = st.getJobIdsForGroup(self.group_action)
        store = jsc.statusStore()
        stages = tasks = shuffle = spill = 0
        for j in action_jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                try:
                    sd = store.lastStageAttempt(s)
                except Exception:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += sd.numTasks()
                shuffle += sd.shuffleWriteBytes()
                spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

        def phase(qe, name: str) -> float:
            opt = qe.tracker().phases().get(name)
            return float(opt.get().durationMs()) if opt.isDefined() else 0.0

        qe_df, qe_count = df._jdf.queryExecution(), cdf._jdf.queryExecution()
        rec = {
            "build.s": t1 - t0,
            "build.py4j_cmds": self.c1 - self.c0,
            "build.jobs": len(build_jobs),
            "catalyst.analysis_ms": phase(qe_df, "analysis") + phase(qe_count, "analysis"),
            "catalyst.optimization_ms": phase(qe_count, "optimization"),
            "catalyst.planning_ms": phase(qe_count, "planning"),
            "exec.action_s": t3 - t2,
            "exec.jobs": len(action_jobs),
            "exec.stages": stages,
            "exec.tasks": tasks,
            "exec.shuffle_write_bytes": shuffle,
            "exec.spill_bytes": spill,
            "exec.rows_out": rows,
        }
        tr = self.tr
        parent = tr.stack[-1] if tr.stack else None
        op = tr.add(f"op:{self.key}", tr.wall(t0), tr.wall(t3), parent)
        for s in tr.spans[self.first_span:op]:  # artifact spans opened inside the build
            if s["parent"] == parent:
                s["parent"] = op
        tr.add("build", tr.wall(t0), tr.wall(t1), op, py4j_cmds=rec["build.py4j_cmds"], jobs=rec["build.jobs"])
        tr.add("action", tr.wall(t2), tr.wall(t3), op, jobs=rec["exec.jobs"], stages=stages, tasks=tasks,
               shuffle_write_bytes=shuffle, spill_bytes=spill, rows=rows)
        return rec
