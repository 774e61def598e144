"""Interleaved A/B perfbench pairs of two commits.

Each commit is exported with ``git archive`` into its own directory under
``--work``, and ``perfbench/run.py`` runs from that copy, so each side
measures only its committed files.  Pair ``i`` runs every workload once per
side: the order of the two sides alternates from pair to pair, and the seed
cycles through ``--seeds``.  The host's loadavg is recorded before each
run.

For each workload and each bounded metric it prints the median and the
quartiles of each side, the per-pair ratios (B / A) and how many pairs B
won (lower is better for every bounded metric), then one JSON line with
every run.

    python tests/ab_pairs.py BASE HEAD --work DIR [--pairs 10] [--seeds 1 2]
        [--workloads catalog_mix kg_build_resume] [--seconds 1]

No test asserts on its figures: they depend on the host and its load.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
METRICS = ("setup_s", "op_cpu_s", "peak_python_mb")


def export(commit: str, dest: str) -> str:
    """The tree of ``commit`` in ``dest``, made afresh."""
    subprocess.run(["rm", "-rf", dest], check=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", commit],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree``: its metrics and conditions."""
    load = os.getloadavg()[0]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return {"ok": False, "loadavg": load}
    result = json.loads(lines[-1])
    return {"ok": result["correct"] and not result["failed"], "loadavg": load,
            **{m: result["metrics"][m]["value"] for m in METRICS}}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return (xs[0],) * 3 if xs else (float("nan"),) * 3
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summarize(pairs: list[dict], workload: str) -> None:
    done = [p for p in pairs if p["a"]["ok"] and p["b"]["ok"]]
    print(f"{workload}: {len(done)} complete pairs of {len(pairs)}")
    for m in METRICS:
        a = [p["a"][m] for p in done]
        b = [p["b"][m] for p in done]
        if not done:
            continue
        ratios = [y / x for x, y in zip(a, b)]
        wins = sum(y < x for x, y in zip(a, b))
        (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
        print(f"  {m}: A median {a2:.3f} (q1 {a1:.3f}, q3 {a3:.3f}, IQR {a3 - a1:.3f})"
              f" | B median {b2:.3f} (q1 {b1:.3f}, q3 {b3:.3f})"
              f" | B lower in {wins}/{len(done)}")
        print("    ratios B/A: " + " ".join(f"{r:.3f}" for r in ratios))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base", help="commit A (the parent)")
    ap.add_argument("head", help="commit B (the change)")
    ap.add_argument("--work", required=True, help="directory for the two exported trees")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--workloads", nargs="+", default=["catalog_mix", "kg_build_resume"])
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args(argv)

    trees = {"a": export(args.base, os.path.join(args.work, "a")),
             "b": export(args.head, os.path.join(args.work, "b"))}
    runs: dict[str, list[dict]] = {w: [] for w in args.workloads}
    for i in range(args.pairs):
        seed = args.seeds[i % len(args.seeds)]
        order = ("a", "b") if i % 2 == 0 else ("b", "a")
        for w in args.workloads:
            pair = {"pair": i, "seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(trees[side], w, seed, args.seconds)
            runs[w].append(pair)
            print(json.dumps({"workload": w, **pair}), flush=True)
    for w in args.workloads:
        summarize(runs[w], w)
    out = {"base": args.base, "head": args.head, "runs": runs}
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main()
