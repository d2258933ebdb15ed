"""Compare the benchmark's end-to-end metrics between a git revision and
the working tree, in alternating pairs.

    python scripts/ab.py REV --workload W --pairs N

Checks out REV in a temporary ``git worktree`` (``parity.worktree``) and
runs ``perfbench/run.py`` unchanged, once in that checkout and once in
the working tree, per pair, each run as long as ``BENCHMARK.json``'s
``run_seconds``. Pair ``i`` uses seed ``i + 1`` on both sides, and the
side that runs first alternates from pair to pair, so a drift of the
host (its busy and quiet spells move a workload's figures by more than
a change does) falls on both sides alike.

For each end-to-end metric of ``BENCHMARK.json`` it prints the median of
both sides, the quartiles of REV's runs, how many pairs the working tree
won, its median's change against REV's as a share of REV's median, and
where that median lies against REV's interquartile range (IQR):
``inside``, ``better`` or ``worse``. A metric whose IQR is wider than its
bound cannot be judged from these runs and is marked ``unresolved``.
Exits 1 if any run fails or reports incorrect results.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

from parity import ROOT, worktree


def _run(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    """One ``perfbench/run.py`` run in ``checkout``: its result object."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-3000:])
        return {"correct": False, "metrics": {}}
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=8)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    runs = {"base": [], "tree": []}
    ok = True
    with worktree(args.rev) as tree:
        for i in range(args.pairs):
            order = [("base", tree), ("tree", ROOT)]
            for side, checkout in order if i % 2 == 0 else order[::-1]:
                res = _run(checkout, args.workload, i + 1, seconds)
                ok &= bool(res.get("correct"))
                runs[side].append({m: v["value"] for m, v in res.get("metrics", {}).items()})
                print(f"# pair {i + 1} {side}: {json.dumps(res)}", file=sys.stderr, flush=True)

    print(f"{args.workload}: {args.pairs} pairs, {args.rev[:7]} vs working tree")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(b[name], t[name]) for b, t in zip(runs["base"], runs["tree"])
                 if name in b and name in t]
        if not pairs:
            print(f"  {name}: no runs")
            continue
        base, head = [b for b, _ in pairs], [t for _, t in pairs]
        mb, mt = statistics.median(base), statistics.median(head)
        q1, _, q3 = (statistics.quantiles(base, n=4, method="inclusive")
                     if len(base) > 1 else (mb, mb, mb))
        wins = sum((t < b) if lower else (t > b) for b, t in pairs)
        change = (mt - mb) / mb if mb else 0.0
        where = "inside"
        if mt < q1 or mt > q3:
            where = "better" if (mt < q1) == lower else "worse"
        spread = (q3 - q1) / mb if mb else 0.0
        verdict = "unresolved" if spread > m["bound"] else where
        print(f"  {name}: {args.rev[:7]} median {mb:.4g} [IQR {q1:.4g}-{q3:.4g}]"
              f" tree median {mt:.4g} ({change:+.1%}), tree wins {wins}/{len(pairs)},"
              f" IQR/median {spread:.2f} vs bound {m['bound']}: {verdict}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
