#!/usr/bin/env python3
"""Compare the generated fixture tables with an existing fixture directory.

    python3 perfbench/fixture_check.py FIXTURE_DIR --sf 0.1 --seed 1

Generates the tables of ``gen_tables.py`` for ``(sf, seed)`` in memory and
prints, for every table and column of FIXTURE_DIR, the same summary of
both sides: row count, distinct values, min, max, mean, the parquet
layout, and for the text and vector tables the shape that decides the
operators' work (near-duplicate share, words per document, nearest
neighbour label agreement). A line is marked ``!`` where the two differ
by more than sampling noise. Exits 1 if any line is marked.
"""

from __future__ import annotations

import argparse
import collections
import io
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen_tables import make_tables  # noqa: E402

REL_TOL = 0.05


def _num(x) -> float | None:
    if isinstance(x, (int, float)):
        return float(x)
    if hasattr(x, "timestamp"):
        return x.timestamp()
    return None


def column_stats(col: pa.ChunkedArray) -> dict:
    out = {"type": str(col.type)}
    if pa.types.is_list(col.type):
        flat = pc.list_flatten(col)
        out["len"] = pc.mean(pc.list_value_length(col)).as_py()
        out["mean"] = pc.mean(flat).as_py()
        return out
    out["distinct"] = pc.count_distinct(col).as_py()
    out["min"], out["max"] = pc.min(col).as_py(), pc.max(col).as_py()
    if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
        out["mean"] = pc.mean(col).as_py()
    return out


def shape_stats(name: str, t: pa.Table) -> dict:
    """The distributions that set the work of the text and vector operators."""
    if name == "documents":
        texts = t.column("text").to_pylist()
        counts = collections.Counter(texts)
        words = [len(x.split()) for x in texts]
        return {
            "near_dup_share": sum(x.endswith(" dup") for x in texts) / len(texts),
            "exact_dup_groups_per_1k": 1000 * sum(v > 1 for v in counts.values()) / len(texts),
            "words_per_doc_mean": float(np.mean(words)),
            "vocabulary": len({w for x in texts for w in x.split()}),
        }
    if name == "embeddings":
        v = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
        label = np.array(t.column("label"))
        s = v @ v.T
        np.fill_diagonal(s, -9)
        nn = s.argmax(1)
        return {
            "norm_mean": float(np.linalg.norm(v, axis=1).mean()),
            "nn_same_label": float((label[nn] == label).mean()),
            "nn_cosine_mean": float(s.max(1).mean()),
        }
    if name == "events":
        ts = np.array(t.column("ts").cast(pa.int64()))
        return {"ts_sorted": float(bool(np.all(np.diff(ts) >= 0)))}
    return {}


def layout(path_or_buf) -> dict:
    md = pq.ParquetFile(path_or_buf).metadata
    return {"row_groups": md.num_row_groups, "compression": md.row_group(0).column(0).compression}


def differs(what: str, a, b) -> bool:
    """True when a and b differ by more than one seed's sampling noise."""
    if what.endswith((".min", ".max")) and isinstance(a, str):
        return False  # the extremes of free text are not a distribution
    x, y = _num(a), _num(b)
    if x is None or y is None:
        return a != b
    if what.endswith("exact_dup_groups_per_1k"):
        return abs(x - y) > 2  # a count of chance collisions
    if isinstance(a, float) and abs(x) < 0.01 and abs(y) < 0.01:
        return False  # means of centred values
    if isinstance(a, float) and 0 <= x <= 1 and 0 <= y <= 1:
        return abs(x - y) > 0.02  # shares
    tol = 0.15 if what.endswith(".max") and isinstance(a, float) else REL_TOL  # a sample maximum
    return abs(x - y) / max(abs(x), abs(y), 1e-9) > tol


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("fixture_dir")
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    generated = make_tables(a.sf, a.seed)
    marked = 0
    for name, gen in generated.items():
        path = os.path.join(a.fixture_dir, f"{name}.parquet")
        ref = pq.read_table(path)
        buf = io.BytesIO()
        pq.write_table(gen, buf)
        buf.seek(0)
        print(f"{name}: rows {ref.num_rows} | {gen.num_rows}")
        lines = [("rows", ref.num_rows, gen.num_rows)]
        lines += [(f"parquet.{k}", v, layout(buf)[k]) for k, v in layout(path).items()]
        for c in ref.column_names:
            if c not in gen.column_names:
                lines.append((c, "present", "missing"))
                continue
            rs, gs = column_stats(ref.column(c)), column_stats(gen.column(c))
            lines += [(f"{c}.{k}", rs[k], gs.get(k)) for k in rs]
        rs, gs = shape_stats(name, ref), shape_stats(name, gen)
        lines += [(k, rs[k], gs[k]) for k in rs]
        for what, x, y in lines:
            bad = differs(what, x, y)
            marked += bad
            fx = f"{x:.4g}" if isinstance(x, float) else str(x)
            fy = f"{y:.4g}" if isinstance(y, float) else str(y)
            print(f"  {'!' if bad else ' '} {what:34s} {fx[:28]:28s} | {fy[:28]}")
    print(f"{marked} line(s) differ")
    sys.exit(1 if marked else 0)


if __name__ == "__main__":
    main()
