"""The two queries of ``stream_regions`` and what is read back from them.

Both queries read the generator's directory through
``events_stream(path=...)`` → ``with_coords`` → ``enrich``, like the
reference's two outputs per tweet:

1. the routed ``serialized_sink_frame``, appended to a parquet sink
   partitioned by ``topic`` (the stand-in for the Kafka produce);
2. per-region 30 s tumbling counts with a watermark, in update mode.

A file's latency runs from its due time to the commit of the last batch,
across both queries, that admitted it. Admission comes from each query's
file-source log and commit times from its commit log, both in the
checkpoint; the per-trigger figures come from ``recentProgress``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from datetime import datetime

from pyspark.sql import functions as F

import oracle
from layers import pct

QUERIES = ("sink", "counts")
LAYER_KEYS = (
    "sources.latest_offset_ms_p50", "sources.get_batch_ms_p50", "sources.lag_files_max",
    "streaming.batches", "streaming.batch_rows_p50", "streaming.trigger_ms_p50",
    "streaming.add_batch_ms_p50", "streaming.query_planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.commit_offsets_ms_p50", "streaming.state_rows", "streaming.state_memory_bytes",
    "streaming.state_commit_ms_p50", "streaming.sink_add_batch_ms_p50", "gen.late_p99_s",
)
_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def _progress_dicts(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamPhase:
    def __init__(self, run, root: str):
        from connor_fun_streamproducer_spark.sources.streams import events_stream
        from connor_fun_streamproducer_spark.streaming import pipeline

        self.run, self.root, self.spark = run, root, run.spark
        self.events_stream, self.pipeline = events_stream, pipeline

    def _ck(self, phase: str, query: str) -> str:
        return os.path.join(self.root, "ckpt", f"{phase}-{query}")

    def _watch(self, phase: str) -> str:
        return os.path.join(self.root, phase, "events.parquet")

    def start(self, phase: str, available_now: bool, max_files: int | None = None) -> list:
        pl = self.pipeline
        ev = self.events_stream(self.spark, "", path=self._watch(phase), max_files_per_trigger=max_files)
        enriched = pl.enrich(pl.with_coords(ev), pl.locations_df(self.spark)).select(
            "event_id", "ts", "region_id", "lon", "lat"
        )
        sink = (
            pl.serialized_sink_frame(enriched)
            .writeStream.format("parquet")
            .partitionBy("topic")
            .option("path", os.path.join(self.root, f"{phase}-sink"))
            .option("checkpointLocation", self._ck(phase, "sink"))
            .queryName(f"{phase}_sink")
        )
        counts = (
            enriched.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "30 seconds").alias("w"), "region_id")
            .agg(F.count("*").alias("n_events"))
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(f"{phase}_counts")
            .option("checkpointLocation", self._ck(phase, "counts"))
        )
        if available_now:
            sink, counts = sink.trigger(availableNow=True), counts.trigger(availableNow=True)
        return [sink.start(), counts.start()]

    @staticmethod
    def wait_for_file(path: str, timeout: float = 60) -> None:
        t_end = time.time() + timeout
        while not os.path.exists(path):
            if time.time() > t_end:
                raise TimeoutError(f"no {path} after {timeout} s")
            time.sleep(0.005)

    def wait_first_commit(self) -> None:
        for q in QUERIES:
            self.wait_for_file(os.path.join(self._ck("open", q), "commits", "0"))

    def wait_manifest(self, path: str, timeout: float) -> dict:
        self.wait_for_file(path, timeout)
        with open(path) as f:
            return json.load(f)

    @staticmethod
    def stop(qs) -> dict:
        progress = {}
        for q in qs:
            progress[q.name] = _progress_dicts(q)
            q.stop()
        return progress

    # -- read-back --------------------------------------------------------

    def _admission(self, phase: str, query: str) -> tuple[dict, dict]:
        """(file name → first batch that admitted it, batch → commit time)."""
        ck = self._ck(phase, query)
        admitted: dict[str, int] = {}
        for log in glob.glob(os.path.join(ck, "sources", "0", "*")):
            with open(log) as f:
                for line in f:
                    if not line.startswith("{"):
                        continue
                    e = json.loads(line)
                    name = os.path.basename(e["path"])
                    admitted[name] = min(admitted.get(name, e["batchId"]), e["batchId"])
        commits = {}
        for c in glob.glob(os.path.join(ck, "commits", "[0-9]*")):
            name = os.path.basename(c)
            if name.isdigit():
                commits[int(name)] = os.stat(c).st_mtime
        return admitted, commits

    def latencies(self, phase: str, manifest: dict, warmup: float) -> dict:
        """Post-warm-up files: (due time, time of the last commit that
        admitted it); None = never committed."""
        logs = {q: self._admission(phase, q) for q in QUERIES}
        files = manifest["files"][1:]  # file 0 primed the reader during set-up
        cutoff = manifest["t0"] + warmup
        lat: dict[str, tuple[float, float] | None] = {}
        for name, due, _written in files:
            if due < cutoff:
                continue
            done = []
            for admitted, commits in logs.values():
                b = admitted.get(name)
                done.append(commits.get(b) if b is not None else None)
            lat[name] = None if None in done else (due, max(done))
        self._logs, self._files = logs, files
        return lat

    def lag_files_max(self, progress: dict) -> int:
        """Files written before a trigger started that it had not admitted."""
        worst = 0
        for q in QUERIES:
            admitted, _ = self._logs[q]
            for p in progress.get(f"open_{q}", []):
                t, b = _ts(p["timestamp"]), p["batchId"]
                lag = sum(1 for n, _d, w in self._files if w <= t and admitted.get(n, 1 << 30) >= b)
                worst = max(worst, lag)
        return worst

    def check(self, phase: str) -> None:
        """Final per-(region, window) counts and per-topic sink rows against
        the agg_window_count and route_by_key oracles over the same files."""
        ops = self.run.registry.OPS
        con = oracle.connect(os.path.join(self.root, phase), tables=("events",))
        counts = (
            self.spark.table(f"{phase}_counts")
            .groupBy("region_id", F.col("w.start").alias("window_start"))
            .agg(F.max("n_events").alias("n_events"))
        )
        sink = (
            self.spark.read.parquet(os.path.join(self.root, f"{phase}-sink"))
            .groupBy("topic")
            .agg(F.count("*").alias("n"))
        )
        for what, df, key in ((f"{phase} counts", counts, "agg_window_count"), (f"{phase} sink", sink, "route_by_key")):
            self.run.attempted += 1
            got = oracle.fingerprint(con, df.toArrow())
            if got != oracle.oracle_fingerprint(con, ops[key].oracle):
                self.run.fail(f"{what}: differs from the {key} oracle")
        con.close()

    @staticmethod
    def triggers(plist: list[dict]) -> list[tuple[float, float]]:
        """(start, end) wall times of the triggers of one query that read input."""
        out = []
        for p in plist:
            if p["numInputRows"] > 0:
                start = _ts(p["timestamp"])
                out.append((start, start + p["durationMs"]["triggerExecution"] / 1e3))
        return out

    @staticmethod
    def busy_span(progress: dict) -> tuple[float, float]:
        """From the first trigger's start to the last trigger's end, over
        every trigger of the given queries that read input."""
        spans = [t for plist in progress.values() for t in StreamPhase.triggers(plist)]
        return min(s for s, _ in spans), max(e for _, e in spans)

    def count_events(self, phase: str) -> int:
        con = oracle.connect(os.path.join(self.root, phase), tables=("events",))
        n = con.execute("SELECT count(*) FROM events").fetchone()[0]
        con.close()
        return n

    def layers(self, progress: dict, drain_progress: dict, manifest: dict) -> dict:
        tr = self.run.trace
        for phase_progress in (progress, drain_progress):
            for qname, plist in phase_progress.items():
                for p in plist:
                    start = _ts(p["timestamp"])
                    d = p.get("durationMs", {})
                    top = tr.add(f"trigger:{qname}:{p['batchId']}", start, start + d.get("triggerExecution", 0) / 1e3,
                                 None, rows=p.get("numInputRows", 0))
                    t = start
                    for part in _PARTS:
                        if part in d:
                            tr.add(part, t, t + d[part] / 1e3, top)
                            t += d[part] / 1e3

        both = progress.get("open_sink", []) + progress.get("open_counts", [])
        sink, counts = progress.get("open_sink", []), progress.get("open_counts", [])

        def dur(plist, part):
            return pct([p["durationMs"].get(part, 0) for p in plist], 50)

        state = [p["stateOperators"][0] for p in counts if p.get("stateOperators")]
        late = [w - d for _n, d, w in manifest["files"][1:]]
        return {
            "sources.latest_offset_ms_p50": dur(both, "latestOffset"),
            "sources.get_batch_ms_p50": dur(both, "getBatch"),
            "sources.lag_files_max": self.lag_files_max(progress),
            "streaming.batches": len(both),
            "streaming.batch_rows_p50": pct([p["numInputRows"] for p in both], 50),
            "streaming.trigger_ms_p50": dur(both, "triggerExecution"),
            "streaming.add_batch_ms_p50": dur(counts, "addBatch"),
            "streaming.query_planning_ms_p50": dur(both, "queryPlanning"),
            "streaming.wal_commit_ms_p50": dur(both, "walCommit"),
            "streaming.commit_offsets_ms_p50": dur(both, "commitOffsets"),
            "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
            "streaming.state_memory_bytes": state[-1]["memoryUsedBytes"] if state else 0,
            "streaming.state_commit_ms_p50": pct([s["commitTimeMs"] for s in state], 50),
            "streaming.sink_add_batch_ms_p50": dur(sink, "addBatch"),
            "gen.late_p99_s": pct(late, 99),
        }
