"""One benchmark run inside a fresh Python process and JVM.

Started by ``run.py`` with the current directory set to a scratch copy of
the repository's package, so every artifact root starts empty. It sets up
the session and the registry, runs one workload, checks the results
against the DuckDB oracles outside the timed region, and writes a JSON
result for ``run.py``.

Every timed call goes through a public entry point of the package
(``registry.OPS[key].fn``, ``sources.streams.events_stream``,
``streaming.pipeline``). With ``--trace 1`` the run also records a span
tree and per-layer counts, read from public Spark surfaces only
(``statusTracker``, ``queryExecution().tracker()``, ``recentProgress``)
and from wrappers installed from this file only while a traced call runs;
nothing inside the package is changed.

Every reported duration has the CPU time the hypervisor stole during it
taken out (``layers.StealClock``); the raw durations are kept in the
result as ``metrics_raw``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from time import perf_counter

sys.path.insert(0, os.getcwd())
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
from keys import WORKLOAD_KEYS  # noqa: E402
from layers import StealClock, Tracer, artifact_listing, pct  # noqa: E402

STREAM_WARMUP_S = 8.0
DRAIN_MAX_FILES = 20
# Per-layer fields of one traced op call (layers.OpProbe.finish).
OP_LAYER_FIELDS = (
    "build.s", "build.py4j_cmds", "build.jobs", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "exec.action_s", "exec.jobs",
    "exec.stages", "exec.tasks", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.rows_out",
)
# One warm pass: the cold pass, the oracle check and set-up already take
# about 50 s of a run on 4 cores.
WARM_PASSES = 1


class Run:
    def __init__(self, a: argparse.Namespace):
        self.a = a
        self.trace = Tracer(enabled=bool(a.trace))
        self.clock = StealClock()
        self.clock.start()
        self.cpus = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.calls: dict[str, list[dict]] = {}
        self.layers: dict[str, float] = {}
        self.marks: dict[str, float] = {}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> None:
        tr = self.trace
        with tr.span("session.start") as s:
            from connor_fun_streamproducer_spark.session import get_spark

            self.spark = get_spark("perfbench", cpus=str(self.cpus))
        self.layers["session.start_s"] = s.seconds
        with tr.span("registry.load") as s:
            from connor_fun_streamproducer_spark import registry

            registry._ensure_loaded()
        self.layers["registry.load_s"] = s.seconds
        self.registry = registry
        if tr.enabled:
            tr.prepare(self.spark, sys.modules)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    # -- op calls ---------------------------------------------------------

    def call(self, key: str, sf_dir: str, phase: str, traced: bool) -> dict:
        """Build the key's frame and run its count; returns the call record."""
        tr = self.trace
        rec: dict = {"key": key, "phase": phase, "traced": traced}
        self.attempted += 1
        op = self.registry.OPS.get(key)
        if op is None:
            self.fail(f"{key}: not registered")
            rec["error"] = "not registered"
            return rec
        before = artifact_listing()
        # call_s is everything a traced call costs: wrappers, job groups and
        # the status-store reads of finish(); untraced, it is the wall time.
        tc0 = perf_counter()
        probe = tr.op_probe(key) if traced else None
        try:
            if probe:
                tr.attach()
                probe.before_build()
            w0, t0 = time.time(), perf_counter()
            df = op.fn(self.spark, sf_dir)
            t1 = perf_counter()
            if probe:
                probe.before_action()
            t2 = perf_counter()
            cdf = df.groupBy().count()
            rows = cdf.collect()[0][0]
            t3, w3 = perf_counter(), time.time()
            if probe:
                rec.update(probe.finish(df, cdf, t0, t1, t2, t3, rows))
        except Exception as exc:  # a failing op is a measured failure, not a crash
            self.fail(f"{key}: {type(exc).__name__}: {str(exc)[:200]}")
            rec["error"] = str(exc)[:500]
            return rec
        finally:
            if probe:
                tr.detach()
        rec.update(build_s=t1 - t0, action_s=t3 - t2, wall_s=(t1 - t0) + (t3 - t2), call_s=perf_counter() - tc0,
                   rows=rows, w0=w0, w3=w3)
        rec["df"] = df
        built = sorted(set(artifact_listing()) - set(before))
        if built:
            rec["artifacts_built"] = built
        self.calls.setdefault(key, []).append(rec)
        return rec

    def closed_loop(self, keys: list[str], sf_dir: str, warm_passes: int) -> None:
        """Call 1 of each key is the cold sample; ``warm_passes`` warm passes
        follow. The pass count is fixed, not set by time, because later
        passes run faster as the JIT warms up. A traced run calls every
        key twice per warm pass, traced and untraced in alternating order,
        so the tracing overhead is measured on paired calls."""
        for k in keys:
            self.call(k, sf_dir, "cold", traced=self.trace.enabled)
        self.mark("cold_end")
        for passes in range(warm_passes):
            for i, k in enumerate(keys):
                order = (True, False) if (passes + i) % 2 == 0 else (False, True)
                for traced in order if self.trace.enabled else (False,):
                    self.call(k, sf_dir, "warm", traced=traced)

    # -- correctness ------------------------------------------------------

    def check_keys(self, keys: list[str], sf_dir: str) -> None:
        """Fingerprint each key's last frame against its DuckDB oracle. The
        oracle side runs in a thread while Spark recomputes the frames."""
        from concurrent.futures import ThreadPoolExecutor

        sqls = {k: self.registry.OPS[k].oracle for k in keys if k in self.registry.OPS}

        def oracle_side() -> dict:
            con = oracle.connect(sf_dir)
            try:
                return {k: oracle.oracle_fingerprint(con, s) for k, s in sqls.items() if s is not None}
            finally:
                con.close()

        con = oracle.connect(sf_dir)
        with ThreadPoolExecutor(1) as pool:
            expected = pool.submit(oracle_side)
            got = {}
            for k in keys:
                recs = [r for r in self.calls.get(k, []) if "df" in r]
                if recs and sqls[k] is None:  # rows-only key: no frame to hash
                    got[k] = (recs[-1]["rows"],)
                elif recs:  # a failed call is already counted
                    try:
                        got[k] = oracle.fingerprint(con, recs[-1]["df"].toArrow())
                    except Exception as exc:
                        got[k] = f"{type(exc).__name__}: {exc}"
            expected = expected.result()
        con.close()
        for k, fp in got.items():
            self.attempted += 1
            if isinstance(fp, str):
                ok = False
            elif sqls[k] is None:  # rows-only key: the count must agree with every call
                ok = fp[0] > 0 and all(r.get("rows") == fp[0] for r in self.calls[k] if "rows" in r)
            else:
                ok = fp == expected[k]
            if not ok:
                self.fail(f"{k}: result differs from oracle")

    # -- metrics ----------------------------------------------------------

    def adjusted(self, rec: dict) -> float:
        """A call's wall time with the CPU time stolen from it taken out."""
        if "adj_s" not in rec:
            rec["adj_s"] = self.clock.adjust(rec["wall_s"], rec["w0"], rec["w3"])
        return rec["adj_s"]

    def op_metrics(self, keys: list[str], time_of) -> dict:
        """Cold and warm totals over ``keys`` of ``time_of(call record)``."""
        cold, warm_med = 0.0, 0.0
        for k in keys:
            recs = [r for r in self.calls.get(k, []) if "wall_s" in r]
            c = [time_of(r) for r in recs if r["phase"] == "cold"]
            w = [time_of(r) for r in recs if r["phase"] == "warm" and not r["traced"]]
            if not w:  # traced runs fall back to their traced calls
                w = [time_of(r) for r in recs if r["phase"] == "warm"]
            cold += c[0] if c else 0.0
            if w:
                warm_med += statistics.median(w)
        return {"op_cold_total_s": cold, "op_warm_total_s": warm_med}

    def op_layers(self, keys: list[str]) -> dict:
        """Per-layer sums over keys of the per-key median of traced warm calls."""
        out: dict[str, float] = {}
        for f in OP_LAYER_FIELDS:
            total = 0.0
            for k in keys:
                v = [r[f] for r in self.calls.get(k, []) if r["phase"] == "warm" and f in r]
                if v:
                    total += statistics.median(v)
            out[f] = total
        pairs_t, pairs_u = 0.0, 0.0
        for k in keys:
            t = [r["call_s"] for r in self.calls.get(k, []) if r["phase"] == "warm" and r["traced"] and "call_s" in r]
            u = [r["call_s"] for r in self.calls.get(k, []) if r["phase"] == "warm" and not r["traced"] and "call_s" in r]
            if t and u:
                pairs_t += statistics.median(t)
                pairs_u += statistics.median(u)
        out["trace.overhead_frac"] = pairs_t / pairs_u - 1 if pairs_u else 0.0
        out.update(self.trace.catalog)
        return out

    # -- workloads --------------------------------------------------------

    def run_ops(self) -> dict:
        keys = WORKLOAD_KEYS[self.a.workload]
        self.mark_ready()
        self.closed_loop(keys, self.a.data, WARM_PASSES)
        self.mark("loop_end")
        m = self.op_metrics(keys, self.adjusted)
        self.raw = self.op_metrics(keys, lambda r: r["wall_s"])
        # No stream here: the stream metrics are the closed loop's own call
        # latency and its output rows per second, over the untraced warm calls.
        warm = [r for recs in self.calls.values() for r in recs if r["phase"] == "warm" and not r["traced"] and "wall_s" in r]
        rows = sum(r["rows"] for r in warm)
        for out, times in ((m, [self.adjusted(r) for r in warm]), (self.raw, [r["wall_s"] for r in warm])):
            out["stream_latency_p50_s"] = pct(times, 50)
            out["stream_drain_eps"] = rows / sum(times) if times else 0.0
        self.layers["stream_latency_p90_s"] = pct([self.adjusted(r) for r in warm], 90)
        self.check_keys(keys, self.a.data)
        self.mark("check_end")
        return m

    def mark_ready(self) -> None:
        self.t_ready = time.time()
        self.mark("ready")

    def mark(self, name: str) -> None:
        self.marks[name] = time.time()

    def per_key(self) -> dict:
        out = {}
        for k, recs in self.calls.items():
            c = [r["wall_s"] for r in recs if r["phase"] == "cold" and "wall_s" in r]
            w = [r["wall_s"] for r in recs if r["phase"] == "warm" and "wall_s" in r]
            out[k] = {"cold_s": c[0] if c else None, "warm_s": statistics.median(w) if w else None,
                      "rows": recs[-1].get("rows")}
        return out

    def run_stream(self) -> dict:
        from stream import QUERIES, StreamPhase

        a, tr = self.a, self.trace
        root = a.stream_root
        sp = StreamPhase(self, root)
        # Open loop: the first committed batch (the priming file) ends set-up.
        sp.wait_for_file(os.path.join(root, "open", "events.parquet", "f000000.parquet"))
        with tr.span("stream.open"):
            qs = sp.start("open", available_now=False)
            sp.wait_first_commit()
            self.mark_ready()
            open(os.path.join(root, "go"), "w").close()
            manifest = sp.wait_manifest(os.path.join(root, "manifest.json"), timeout=a.seconds + 60)
            for q in qs:
                q.processAllAvailable()
            progress = sp.stop(qs)
        lat = sp.latencies("open", manifest, STREAM_WARMUP_S)
        self.attempted += len(manifest["files"])
        missing = [n for n, v in lat.items() if v is None]
        if missing:
            self.fail(f"open loop: {len(missing)} files never committed")
        landed = [x for x in lat.values() if x is not None]
        self.post_warmup_files = len(landed)
        sp.check("open")
        # Drain: a warm-up backlog, then the timed one.
        drain = {}
        for phase in ("drain_warm", "drain_timed"):
            with tr.span(f"stream.{phase}"):
                qs = sp.start(phase, available_now=True, max_files=DRAIN_MAX_FILES)
                for q in qs:
                    q.awaitTermination()
                drain_progress = sp.stop(qs)  # the timed drain's, once the loop ends
                drain[phase] = sp.busy_span(drain_progress)
        sp.check("drain_timed")
        events = sp.count_events("drain_timed")
        # The two queries are the ops here. Batch 0 (the priming file, in a
        # fresh JVM) is their cold call; the timed drain's triggers, each of
        # DRAIN_MAX_FILES files, are their warm calls.
        m, self.raw = {}, {}
        for out, span_s in ((m, lambda t: self.clock.adjust(t[1] - t[0], *t)), (self.raw, lambda t: t[1] - t[0])):
            out["op_cold_total_s"] = sum(span_s(sp.triggers(progress[f"open_{q}"])[0]) for q in QUERIES)
            out["op_warm_total_s"] = sum(
                statistics.median(map(span_s, sp.triggers(drain_progress[f"drain_timed_{q}"]))) for q in QUERIES
            )
            out["stream_latency_p50_s"] = pct([span_s((d, c)) for d, c in landed], 50)
            out["stream_drain_eps"] = events / span_s(drain["drain_timed"])
        self.layers["stream_latency_p90_s"] = pct([self.clock.adjust(c - d, d, c) for d, c in landed], 90)
        self.stream_layers = sp.layers(progress, drain_progress, manifest)
        start, end = drain["drain_warm"]
        self.layers["stream.drain_warm_s"] = end - start
        return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_KEYS))
    ap.add_argument("--data", help="fixture directory (ops workloads)")
    ap.add_argument("--stream-root", help="generator directory (stream_regions)")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t-spawn", type=float, required=True, help="wall time the process was spawned")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out")
    a = ap.parse_args()
    run = Run(a)
    run.setup()
    m = run.run_stream() if a.workload == "stream_regions" else run.run_ops()
    # Too unsteady from run to run for a bound (README "Noise"): per-layer.
    run.layers["stream_latency_p50_s"] = m.pop("stream_latency_p50_s")
    m["setup_s"] = run.clock.adjust(run.t_ready - a.t_spawn, a.t_spawn, run.t_ready)
    run.raw["setup_s"] = run.t_ready - a.t_spawn
    run.layers["host.steal_share"] = run.clock.share(a.t_spawn, time.time())
    run.clock.done.set()
    result = {
        "workload": a.workload,
        "cpus": run.cpus,
        "attempted": run.attempted,
        "failed": run.failed,
        "failures": run.failures,
        "metrics": m,
        "metrics_raw": run.raw,
        "post_warmup_files": getattr(run, "post_warmup_files", None),
        "artifacts_built": {
            k: r["artifacts_built"] for k, recs in run.calls.items() for r in recs if "artifacts_built" in r
        },
        "layers": run.layers,
        "stream_layers": getattr(run, "stream_layers", None),
        "per_key": run.per_key(),
        "phase_s": {k: round(v - a.t_spawn, 3) for k, v in run.marks.items()},
        "calls": {k: [{x: y for x, y in r.items() if x != "df"} for r in v] for k, v in run.calls.items()},
    }
    if a.trace:
        keys = WORKLOAD_KEYS[a.workload]
        layers = dict(run.layers)
        layers.update(run.op_layers(keys))
        # Source and micro-batch layers exist only on stream_regions.
        from stream import LAYER_KEYS

        layers.update(getattr(run, "stream_layers", dict.fromkeys(LAYER_KEYS, 0)))
        result["layers"] = layers
        run.trace.write(a.trace_out, result["calls"])
    run.spark.stop()
    with open(a.out + ".tmp", "w") as f:
        json.dump(result, f)
    os.rename(a.out + ".tmp", a.out)


if __name__ == "__main__":
    main()
