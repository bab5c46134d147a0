"""Paired benchmark runs of two checkouts.

    python3 scripts/bench_pairs.py PARENT CHANGE --workload geojoin --seeds 11 12 13

For each seed, runs ``perfbench/run.py --workload W --seed S --seconds 1
--trace 0`` once in each checkout, one after the other, alternating which
checkout goes first (the parent on the first seed).  Each run uses the
benchmark code of its own checkout.  Then, for every end-to-end metric
that ``BENCHMARK.json`` of CHANGE declares, prints each side's median
and quartiles, how many pairs the change won (by the metric's
``better`` direction; a tie counts for neither side), and each side's
failed executions.  The last column applies the gain rule: at least
ten pairs, at least nine tenths of them won, and the medians further
apart than the parent's interquartile range.

``--out FILE`` also writes every run's result line as JSON.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path


def run(checkout: Path, workload: str, seed: int, timeout: float) -> dict:
    """One benchmark run; its final JSON line, or a failed stand-in."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": f"timed out after {timeout} s"}
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {},
                "error": f"exit {p.returncode}: {p.stderr.strip()[-400:]}"}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def report(metrics: list[dict], pairs: list[dict]) -> list[str]:
    """One line per metric: medians, quartiles, wins, failures, verdict."""
    out = []
    for side in ("parent", "change"):
        execs = sum(p[side]["attempted"] for p in pairs)
        failed = sum(p[side]["failed"] for p in pairs)
        broken = sum("error" in p[side] for p in pairs)
        out.append(f"{side}: {failed} of {execs} executions failed; "
                   f"{broken} of {len(pairs)} runs gave no result")
    for m in metrics:
        name, higher = m["name"], m["better"] == "higher"
        vals = {side: [p[side]["metrics"].get(name, {}).get("value") for p in pairs]
                for side in ("parent", "change")}
        both = [(a, b) for a, b in zip(vals["parent"], vals["change"])
                if a is not None and b is not None]
        if not both:
            out.append(f"{name}: no complete pairs")
            continue
        wins = sum((b > a) if higher else (b < a) for a, b in both)
        pq = quartiles([a for a, _ in both])
        cq = quartiles([b for _, b in both])
        gain = (len(pairs) >= 10 and wins >= 0.9 * len(pairs)
                and abs(cq[1] - pq[1]) > pq[2] - pq[0])
        out.append(
            f"{name} [{m['unit']}, {m['better']} is better]: "
            f"parent {pq[1]:.6g} (q1 {pq[0]:.6g}, q3 {pq[2]:.6g}); "
            f"change {cq[1]:.6g} (q1 {cq[0]:.6g}, q3 {cq[2]:.6g}); "
            f"change/parent {cq[1] / pq[1]:.3f}; change wins {wins}/{len(pairs)}; "
            f"gain rule {'met' if gain else 'not met'}"
        )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", type=Path)
    p.add_argument("change", type=Path)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--timeout", type=float, default=1800.0,
                   help="seconds before one run counts as failed")
    p.add_argument("--out", type=Path)
    args = p.parse_args(argv)

    metrics = json.loads((args.change / "BENCHMARK.json").read_text())["end_to_end"]
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run(getattr(args, side), args.workload, seed, args.timeout)
        pairs.append(pair)
        values = {side: {k: round(v["value"], 6) for k, v in pair[side]["metrics"].items()}
                  for side in ("parent", "change")}
        print(json.dumps({"seed": seed, "first": order[0], **values}), flush=True)
    if args.out:
        args.out.write_text(json.dumps(pairs, indent=1))
    print("\n".join(report(metrics, pairs)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
