"""Interleaved A/B of two revisions on one perfbench workload.

    python3 scripts/ab.py REV_A REV_B --workload serve|lifecycle --pairs N
        [--seed0 1] [--out FILE]

Exports the committed tree of each revision (``git archive``) into a
temporary directory, then runs ``python3 perfbench/run.py --workload W
--seed S --seconds 12 --trace 0`` in each, pair by pair: pair i uses
seed ``seed0 + i``, and the side that runs first alternates (A first on
even pairs). Each run is a fresh process, so no state carries between
them.

Prints, per end-to-end metric of ``BENCHMARK.json``, the median, q1 and
q3 of each side, the median paired ratio B/A and the number of pairs in
which B is better; plus the failed/attempted operation counts of each
side. The same record is printed as one JSON line last and, with
``--out``, written to that file.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SECONDS = 12  # perfbench run length, as BENCHMARK.json documents it


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=ROOT, check=True, capture_output=True, text=True
    ).stdout.strip()


def export_tree(rev: str, dest: str) -> str:
    """The committed files of ``rev`` under ``dest``; returns the sha."""
    sha = _git("rev-parse", "--verify", f"{rev}^{{commit}}")
    os.makedirs(dest)
    archive = subprocess.Popen(
        ["git", "archive", "--format=tar", sha], cwd=ROOT, stdout=subprocess.PIPE
    )
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise RuntimeError(f"git archive {sha} exited {archive.returncode}")
    return sha


def run_once(tree: str, workload: str, seed: int) -> dict:
    """One ``perfbench/run.py --trace 0`` run → its closing JSON object."""
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    last = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not last:
        raise RuntimeError(
            f"{' '.join(cmd)} in {tree} exited {proc.returncode}:\n"
            + "\n".join(proc.stderr.splitlines()[-20:])
        )
    return json.loads(last[-1])


def summarize(runs: dict, metrics: list[dict]) -> dict:
    """Per metric: each side's median/q1/q3, the median paired ratio
    B/A and the pairs where B is better; failed operation counts."""
    out = {}
    for m in metrics:
        name = m["name"]
        a = np.array([r["metrics"][name]["value"] for r in runs["A"]], dtype=float)
        b = np.array([r["metrics"][name]["value"] for r in runs["B"]], dtype=float)
        with np.errstate(divide="ignore", invalid="ignore"):
            ratio = b / a
        better = b < a if m["better"] == "lower" else b > a
        out[name] = {
            "unit": m["unit"],
            "better": m["better"],
            **{
                side: {
                    "median": float(np.median(x)),
                    "q1": float(np.percentile(x, 25)),
                    "q3": float(np.percentile(x, 75)),
                }
                for side, x in (("A", a), ("B", b))
            },
            "median_ratio_b_over_a": float(np.median(ratio)),
            "b_better_pairs": int(better.sum()),
        }
    ops = {
        side: {
            "failed": sum(int(r["failed"]) for r in rs),
            "attempted": sum(int(r["attempted"]) for r in rs),
        }
        for side, rs in runs.items()
    }
    return {"metrics": out, "operations": ops}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True, choices=("serve", "lifecycle"))
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--out", default=None, help="also write the JSON record here")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["end_to_end"]
    with tempfile.TemporaryDirectory(prefix="ab-") as work:
        trees = {"A": os.path.join(work, "A"), "B": os.path.join(work, "B")}
        shas = {side: export_tree(rev, trees[side])
                for side, rev in (("A", args.rev_a), ("B", args.rev_b))}
        runs: dict[str, list] = {"A": [], "B": []}
        pairs = []
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            for side in order:
                t0 = time.perf_counter()
                got = run_once(trees[side], args.workload, seed)
                print(
                    f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                    + " ".join(
                        f"{k}={v['value']:.4g}" for k, v in got["metrics"].items()
                    )
                    + f" failed={got['failed']}"
                    + f" ({time.perf_counter() - t0:.0f} s)",
                    file=sys.stderr, flush=True,
                )
                runs[side].append(got)
            pairs.append({"seed": seed, "first": order[0]})
    record = {
        "workload": args.workload,
        "revs": {"A": [args.rev_a, shas["A"]], "B": [args.rev_b, shas["B"]]},
        "seconds": SECONDS,
        "pairs": pairs,
        **summarize(runs, metrics),
        "runs": runs,
    }

    for name, s in record["metrics"].items():
        a, b = s["A"], s["B"]
        print(
            f"{name:22s} A {a['median']:.4g} [{a['q1']:.4g}, {a['q3']:.4g}]"
            f"  B {b['median']:.4g} [{b['q1']:.4g}, {b['q3']:.4g}]"
            f"  B/A {s['median_ratio_b_over_a']:.3f}"
            f"  B better {s['b_better_pairs']}/{len(record['pairs'])}"
        )
    for side, o in record["operations"].items():
        print(f"{side}: {o['failed']} failed of {o['attempted']} operations")
    line = json.dumps(record)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
