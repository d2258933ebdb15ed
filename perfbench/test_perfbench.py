"""The benchmark's own tests: input determinism, the BENCHMARK.json
contract, metric names, frozen key lists and the fail-fast path.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_stream  # noqa: E402
import gen_tables  # noqa: E402
from keys import BATTERY_ALL, OPS_ALL, WORKLOAD_KEYS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_backlog_files_depend_only_on_seed(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen_stream.run_backlog(str(tmp_path / name), seed, n_files=3, n_events=50, phase=1)
    a, b, c = (_bytes(str(tmp_path / n / "events.parquet")) for n in "abc")
    assert a == b and len(a) == 3
    assert a != c


def test_open_loop_files_depend_only_on_seed(tmp_path):
    runs = []
    for name in ("a", "b"):
        root = tmp_path / name
        root.mkdir()
        (root / "go").touch()
        gen_stream.run_open(str(root), 7, rate=100.0, n_events=20, seconds=0.05,
                            go=str(root / "go"), manifest=str(root / "manifest.json"))
        runs.append(_bytes(str(root / "events.parquet")))
        with open(root / "manifest.json") as f:
            m = json.load(f)
        assert [x[0] for x in m["files"]] == sorted(runs[-1])
        assert all(w >= d for _, d, w in m["files"][1:])  # written no earlier than due
    assert runs[0] == runs[1] and len(runs[0]) == 6


def test_stream_files_have_fixture_schema(tmp_path):
    gen_stream.run_backlog(str(tmp_path), 1, n_files=1, n_events=10, phase=1)
    got = pq.read_schema(next((tmp_path / "events.parquet").iterdir()))
    want = gen_tables.make_tables(0.0001, 1)["events"].schema
    assert got.remove_metadata() == want.remove_metadata()


def test_tables_depend_only_on_seed():
    a, b, c = (gen_tables.make_tables(0.001, s) for s in (3, 3, 4))
    assert set(a) == set(gen_tables.make_tables(0.001, 3)) and len(a) == 10
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


def test_tables_follow_the_canonical_fixture_shape():
    import fixture_check

    t = gen_tables.make_tables(0.01, 5)
    docs = fixture_check.shape_stats("documents", t["documents"])
    assert docs["near_dup_share"] == 0.05 and docs["vocabulary"] == len(gen_tables.VOCAB) + 1
    for table, col, lo, hi in (("orders", "o_orderdate", "1995-01-01", "2001-08-01"),
                               ("lineitem", "l_shipdate", "1995-01-02", "2001-11-04")):
        s = fixture_check.column_stats(t[table].column(col))
        assert lo <= str(s["min"])[:10] and str(s["max"])[:10] <= hi
    assert t["embeddings"].schema.field("embedding").type.value_field.name == "element"
    assert fixture_check.shape_stats("events", t["events"])["ts_sorted"] == 1.0


def test_benchmark_json_contract(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["paths"] == ["perfbench"] and spec["command"][1] == "perfbench/run.py"
    assert 1 <= spec["run_seconds"] <= 60
    assert 2 <= len(spec["workloads"]) <= 8
    names = [w["name"] for w in spec["workloads"]]
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and w["name"] in WORKLOAD_KEYS
    e2e, layers = spec["end_to_end"], spec["per_layer"]
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in layers:
        assert set(m) == {"name", "unit", "better"}
    all_names = names + [m["name"] for m in e2e + layers]
    assert len(all_names) == len(set(all_names))
    for m in e2e + layers:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in e2e)


def test_metric_names_match_what_a_run_emits(spec):
    import engine
    import stream

    e2e = {"setup_s", "op_warm_total_s", "op_cold_total_s", "stream_drain_eps"}
    assert {m["name"] for m in spec["end_to_end"]} == e2e
    emitted = (
        {"session.start_s", "registry.load_s", "driver_peak_rss_mb", "stream_latency_p50_s", "stream_latency_p90_s",
         "trace.overhead_frac",
         "host.steal_share", "catalog.artifact_builds", "catalog.artifact_build_s", "catalog.artifact_bytes",
         "catalog.artifact_serves"}
        | set(engine.OP_LAYER_FIELDS)
        | set(stream.LAYER_KEYS)
    )
    assert {m["name"] for m in spec["per_layer"]} == emitted


def test_result_line_schema(spec):
    import run

    res = {"failed": 0, "attempted": 3,
           "metrics": {m["name"]: 1.5 for m in spec["end_to_end"]},
           "layers": {m["name"]: 2 for m in spec["per_layer"]}}
    for trace, part in ((0, "end_to_end"), (1, "per_layer")):
        line = json.loads(json.dumps(run.result_line(spec, res, trace)))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True and line["attempted"] >= 1
        assert list(line["metrics"]) == [m["name"] for m in spec[part]]
        assert all(set(v) == {"value", "unit"} for v in line["metrics"].values())
    del res["metrics"]["setup_s"]
    with pytest.raises(KeyError):
        run.result_line(spec, res, 0)


def test_steal_adjustment():
    from layers import StealClock

    clock = StealClock()
    # (wall time, busy ticks, stolen ticks): 300 busy and 100 stolen ticks
    # between t=10 and t=12, none stolen after.
    clock.samples = [(10.0, 0, 0), (11.0, 150, 50), (12.0, 300, 100), (13.0, 400, 100)]
    assert clock.share(10.0, 12.0) == 0.25
    assert clock.share(10.5, 11.5) == 0.25  # widened to the samples around it
    assert clock.share(12.0, 13.0) == 0.0
    assert clock.adjust(2.0, 10.0, 12.0) == 1.5


def test_frozen_keys_are_registered():
    sys.path.insert(0, ROOT)
    from connor_fun_streamproducer_spark import registry

    registry._ensure_loaded()
    for keys in (OPS_ALL, BATTERY_ALL, *WORKLOAD_KEYS.values()):
        assert len(keys) == len(set(keys))
        assert [k for k in keys if k not in registry.OPS] == []


def test_fails_fast_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ops_sf0.1", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""
