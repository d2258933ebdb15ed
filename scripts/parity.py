"""Compare ops' results between a git revision and the working tree.

    python scripts/parity.py REV --keys k1,k2 --sf DIR [DIR ...]

Checks out REV in a temporary ``git worktree`` and runs every key at
every fixture directory once in that checkout and once in the working
tree, each side in its own process and Spark session. Per key and
fixture each side reports:

- the row count, column names, Spark dtypes and nullability;
- an order-insensitive hash of the rows, each cell normalized as
  ``tests/conftest.py``'s ``_norm`` does for the oracle comparison
  (floats rounded to 6 places, timestamps in ISO form);
- for information only, the pre-execution plan's ``Exchange`` and
  ``Scan parquet`` counts, and the py4j commands and Spark jobs of a
  warm build (jobs counted through a job group, as ``bench.py`` counts
  ``build_jobs``).

It prints one line per key, fixture and side, marks each key and
fixture whose results differ, exits 1 if any do (or a side fails) and
removes the worktree.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COMPARED = ("rows", "names", "dtypes", "nullable", "hash")


@contextlib.contextmanager
def worktree(rev: str):
    """A temporary detached ``git worktree`` of ``rev``, removed (and
    the repository's worktree list pruned) on exit."""
    tree = tempfile.mkdtemp(prefix="parity-")
    os.rmdir(tree)
    subprocess.run(["git", "-C", ROOT, "worktree", "add", "--detach", "-q", tree, rev],
                   check=True)
    try:
        yield tree
    finally:
        subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", tree], check=False)
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"], check=False)


def _child(checkout: str, keys: list[str], sf_dirs: list[str]) -> None:
    """Run in a fresh process: report each key at each fixture as one
    JSON line, importing the package from ``checkout``."""
    sys.path.insert(0, checkout)
    from connor_fun_streamproducer_spark import registry
    from connor_fun_streamproducer_spark.plans.explain import count_in_plan
    from connor_fun_streamproducer_spark.session import get_spark, py4j_commands

    norm = _load_norm()
    spark = get_spark("parity", cpus="2")
    sc = spark.sparkContext
    registry._ensure_loaded()
    for sf in sf_dirs:
        for key in keys:
            rec = {"key": key, "sf": sf}
            try:
                fn = registry.OPS[key].fn
                fn(spark, sf)
                group = f"parity-build:{sf}:{key}"
                sc.setJobGroup(group, key)
                try:
                    with py4j_commands(spark) as sent:
                        df = fn(spark, sf)
                finally:
                    sc._jsc.clearJobGroup()
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                rec["py4j"] = sent[0]
                rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
                rec["plan"] = [count_in_plan(df, "Exchange"), count_in_plan(df, "Scan parquet")]
                rows = df.collect()
                rec["rows"] = len(rows)
                rec["names"] = df.columns
                rec["dtypes"] = [t for _, t in df.dtypes]
                rec["nullable"] = [f.nullable for f in df.schema.fields]
                cells = sorted(repr(tuple(norm(v) for v in r)) for r in rows)
                rec["hash"] = hashlib.sha256("\n".join(cells).encode()).hexdigest()[:16]
            except Exception as exc:  # reported, and counted as a difference
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            print("PARITY " + json.dumps(rec), flush=True)
    spark.stop()


def _load_norm():
    """``_norm`` from this script's own checkout's ``tests/conftest.py``,
    so both sides normalize cells the same way."""
    import importlib.util

    path = os.path.join(ROOT, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("parity_conftest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm


def _run_side(checkout: str, keys: str, sf_dirs: list[str]) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--child", checkout,
           "--keys", keys, "--sf", *sf_dirs]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    recs = {}
    for line in out.stdout.splitlines():
        if line.startswith("PARITY "):
            rec = json.loads(line[len("PARITY "):])
            recs[(rec["key"], rec["sf"])] = rec
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
    return recs


def _line(side: str, rec: dict | None) -> str:
    if rec is None:
        return f"  {side:6} missing"
    if "error" in rec:
        return f"  {side:6} error {rec['error']}"
    cols = ", ".join(
        f"{n} {t}{'' if nl else ' not null'}"
        for n, t, nl in zip(rec["names"], rec["dtypes"], rec["nullable"])
    )
    return (f"  {side:6} rows={rec['rows']} hash={rec['hash']} plan={tuple(rec['plan'])}"
            f" py4j={rec['py4j']} jobs={rec['jobs']} [{cols}]")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev", nargs="?")
    ap.add_argument("--keys", required=True, help="comma-separated op keys")
    ap.add_argument("--sf", nargs="+", required=True, help="fixture directories")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args()
    keys = [k for k in args.keys.split(",") if k]
    sf_dirs = [os.path.abspath(d) for d in args.sf]
    if args.child:
        _child(args.child, keys, sf_dirs)
        return 0
    if not args.rev:
        ap.error("REV is required")

    with worktree(args.rev) as tree:
        base = _run_side(tree, args.keys, sf_dirs)
    head = _run_side(ROOT, args.keys, sf_dirs)

    n_diff = 0
    for sf in sf_dirs:
        for key in keys:
            a, b = base.get((key, sf)), head.get((key, sf))
            same = (a is not None and b is not None and "error" not in a and "error" not in b
                    and all(a[f] == b[f] for f in COMPARED))
            n_diff += not same
            print(f"{'same' if same else 'DIFF'} {key} @ {os.path.basename(sf)}")
            print(_line(args.rev[:7], a))
            print(_line("tree", b))
    print(f"{len(keys) * len(sf_dirs) - n_diff} same, {n_diff} different")
    return 1 if n_diff else 0


if __name__ == "__main__":
    sys.exit(main())
