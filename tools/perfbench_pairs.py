#!/usr/bin/env python3
"""Interleaved parent/change benchmark pairs, and their summary.

    python3 tools/perfbench_pairs.py --parent DIR --change DIR \\
        --workload stream_ingest --seeds 1201-1210 [--seconds 15] \\
        [--trace 0] --out runs.jsonl
    python3 tools/perfbench_pairs.py --summary runs.jsonl

Each seed is one pair: ``perfbench/run.py`` runs once in the parent
checkout and once in the change checkout, one after the other, never at
the same time. The order alternates from pair to pair (parent first on
the first pair, change first on the next), so a drift of the host over
the session falls on both sides alike. Every run is appended to
``--out`` as one JSON line, ``{"side", "workload", "seed", "trace",
"result"}``,
``result`` being the run's own JSON line.

The summary, per workload and metric: each side's median and quartiles,
the change's relative move, and in how many pairs the change did
better. A gain is marked only over at least 10 pairs, when the change
wins at least 9 in 10 of them and the gap of the medians exceeds the
parent's interquartile range. The direction of each metric ("better": lower or higher) comes
from the change checkout's ``BENCHMARK.json`` (lower when not listed).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict


def parse_seeds(text: str) -> list[int]:
    """``"1-3,7"`` → ``[1, 2, 3, 7]``."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout: str, workload: str, seed: int, seconds: float,
            trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{checkout}: run failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def directions(checkout: str) -> dict[str, str]:
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        bench = json.load(f)
    return {m["name"]: m["better"]
            for kind in ("end_to_end", "per_layer") for m in bench.get(kind, [])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(records: list[dict], better: dict[str, str]) -> str:
    runs = defaultdict(dict)  # (workload, trace, seed) -> side -> result
    for r in records:
        # files written before runs carried "trace": a traced run reports
        # per-layer metrics only
        trace = r.get("trace", int("setup_s" not in r["result"]["metrics"]))
        runs[(r["workload"], trace, r["seed"])][r["side"]] = r["result"]
    lines = []
    for workload, trace in sorted({k[:2] for k in runs}):
        pairs = [sides for k, sides in sorted(runs.items())
                 if k[:2] == (workload, trace)
                 and {"parent", "change"} <= set(sides)]
        if not pairs:
            continue
        bad = sum(not p[s]["correct"] or p[s]["failed"]
                  for p in pairs for s in ("parent", "change"))
        lines.append(f"{workload} (trace {trace}): {len(pairs)} pairs, "
                     f"{bad} runs incorrect or with failed ops")
        names = dict.fromkeys(n for p in pairs for s in ("parent", "change")
                              for n in p[s]["metrics"])
        for name in names:
            have = [p for p in pairs
                    if all(name in p[s]["metrics"] for s in ("parent", "change"))]
            par = [p["parent"]["metrics"][name]["value"] for p in have]
            chg = [p["change"]["metrics"][name]["value"] for p in have]
            sign = -1.0 if better.get(name, "lower") == "higher" else 1.0
            wins = sum(sign * (c - p) < 0 for p, c in zip(par, chg))
            pq1, pmed, pq3 = quartiles(par)
            cq1, cmed, cq3 = quartiles(chg)
            gap = sign * (pmed - cmed)
            move = (cmed - pmed) / pmed * 100 if pmed else 0.0
            gain = (len(have) >= 10 and wins >= 0.9 * len(have)
                    and gap > pq3 - pq1)
            lines.append(
                f"  {name}: parent {pmed:.4g} [{pq1:.4g}, {pq3:.4g}] -> "
                f"change {cmed:.4g} [{cq1:.4g}, {cq3:.4g}] ({move:+.1f}%), "
                f"change better in {wins}/{len(have)} pairs, "
                f"parent IQR {pq3 - pq1:.4g}"
                + (" -- gain" if gain else ""))
    return "\n".join(lines)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--summary", metavar="JSONL",
                    help="only summarize an existing runs file")
    ap.add_argument("--parent", help="parent checkout")
    ap.add_argument("--change", help="change checkout")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help='e.g. "1201-1210"')
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="runs file to append to")
    args = ap.parse_args(argv)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    if args.summary:
        with open(args.summary) as f:
            records = [json.loads(line) for line in f if line.strip()]
        print(summarize(records, directions(args.change or here)))
        return 0

    for flag in ("parent", "change", "workload", "seeds", "out"):
        if getattr(args, flag) is None:
            ap.error(f"--{flag} is required unless --summary is given")
    checkouts = {"parent": os.path.abspath(args.parent),
                 "change": os.path.abspath(args.change)}
    records = []
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result = run_one(checkouts[side], args.workload, seed,
                             args.seconds, args.trace)
            rec = {"side": side, "workload": args.workload, "seed": seed,
                   "trace": args.trace, "result": result}
            records.append(rec)
            with open(args.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            metrics = {k: round(v["value"], 4)
                       for k, v in result["metrics"].items()}
            print(f"seed {seed} {side}: correct={result['correct']} "
                  f"failed={result['failed']} {metrics}", flush=True)
    print(summarize(records, directions(checkouts["change"])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
