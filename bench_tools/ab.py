"""Paired A/B of two kgforge checkouts over one perfbench workload.

    python3 bench_tools/ab.py --base ../parent --change . --workload serve \\
        --seeds 401-410 --tag serve_sql

Each seed is one pair: the base checkout and the change checkout each run
``perfbench/run.py`` once, in their own directory, for the ``run_seconds``
that ``BENCHMARK.json`` sets, and the side that runs
first alternates from pair to pair, so a drift in host load during the
session falls on both sides alike.  ``--trace 1`` runs each seed as
base, change, change, base instead and compares the per-layer metrics.

Per metric the report gives the change's wins over the base in the pairs,
both sides' medians and quartiles, and the claim-rule verdict: the change
wins at least 9 of every 10 pairs run, its median is better than the
base's by more than the base's interquartile range, and it has no more
failed runs than the base.  A change run that errored, timed out, was
incorrect or had a failed operation is a loss in its pair.  Every run's
``host_steal_frac`` (the CPU share the hypervisor gave other guests) is
listed with it.  The full record goes to ``BENCH_ab_<tag>.json``.

Nothing under ``perfbench/`` is modified; each checkout's own copy runs.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from typing import Dict, List, Optional

RUN_TIMEOUT_S = 900  # per perfbench run


def parse_seeds(text: str) -> List[int]:
    """'401-405,409' -> [401, 402, 403, 404, 405, 409]."""
    out: List[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(tree: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One perfbench run in ``tree``: its result line, info line and wall."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    try:
        p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=RUN_TIMEOUT_S)
        out, code = p.stdout, p.returncode
    except subprocess.TimeoutExpired as exc:
        out, code = exc.stdout or "", "timeout"
        out = out.decode() if isinstance(out, bytes) else out
    rec = {"tree": os.path.abspath(tree), "seed": seed, "exit": code,
           "wall_s": round(time.perf_counter() - t0, 1)}
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        info = json.loads(lines[-2][len("perfbench "):])
    except (IndexError, ValueError):
        rec["error"] = (p.stderr if code != "timeout" else "timeout")[-2000:]
        return rec
    rec.update(
        correct=result["correct"], attempted=result["attempted"], failed=result["failed"],
        metrics={k: v["value"] for k, v in result["metrics"].items()},
        host_steal_frac=round(info.get("host_steal_frac", float("nan")), 4),
        git_sha=info.get("git_sha"),
    )
    return rec


def quartiles(xs: List[float]) -> List[float]:
    q = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else [xs[0]] * 3
    return [round(v, 6) for v in q]


def failed(run: dict) -> bool:
    """A run that errored, timed out, was incorrect or had a failed operation."""
    return "metrics" not in run or run.get("correct") is False or bool(run.get("failed"))


def compare(pairs: List[dict], better: Dict[str, str]) -> Dict[str, dict]:
    """Per metric: wins over all pairs run, medians, quartiles and the claim-rule verdict."""
    n_failed = {side: sum(failed(p[side]) for p in pairs) for side in ("base", "change")}
    out = {}
    for name, direction in better.items():
        base = [p["base"]["metrics"][name] for p in pairs if name in p["base"].get("metrics", {})]
        change = [p["change"]["metrics"][name] for p in pairs if name in p["change"].get("metrics", {})]
        if not base or not change:
            continue
        sign = 1 if direction == "lower" else -1
        wins = 0
        for p in pairs:
            b, c = p["base"].get("metrics", {}).get(name), p["change"].get("metrics", {}).get(name)
            wins += not failed(p["change"]) and b is not None and c is not None and sign * (b - c) > 0
        qb, qc = quartiles(base), quartiles(change)
        gain = sign * (qb[1] - qc[1])  # > 0: the change's median is better
        iqr = qb[2] - qb[0]
        out[name] = {
            "better": direction, "pairs": len(pairs), "wins": wins,
            "failed_runs": n_failed,
            "base_median": qb[1], "change_median": qc[1],
            "base_quartiles": [qb[0], qb[2]], "change_quartiles": [qc[0], qc[2]],
            "ratio": round(qc[1] / qb[1], 4) if qb[1] else None,
            "median_gain": round(gain, 6), "base_iqr": round(iqr, 6),
            "claim": (wins >= 0.9 * len(pairs) and gain > iqr
                      and n_failed["change"] <= n_failed["base"]),
        }
    return out


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 401-410 or 7,9")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tag", required=True)
    args = ap.parse_args(argv)

    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    section = "per_layer" if args.trace else "end_to_end"
    better = {m["name"]: m["better"] for m in bench[section]}
    trees = {"base": args.base, "change": args.change}
    path = f"BENCH_ab_{args.tag}.json"
    pairs: List[dict] = []
    report: Dict[str, dict] = {}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        if args.trace:
            order = ["base", "change", "change", "base"]
        else:
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
        runs: Dict[str, List[dict]] = {"base": [], "change": []}
        for side in order:
            rec = run_one(trees[side], args.workload, seed, bench["run_seconds"], args.trace)
            runs[side].append(rec)
            print(f"ab: seed {seed} {side:6s} wall {rec['wall_s']:6.1f}s "
                  f"steal {rec.get('host_steal_frac', 'n/a')} "
                  f"{'error' if 'error' in rec else 'failed=%s' % rec['failed']}", flush=True)
        for k in range(len(runs["base"])):
            pairs.append({"seed": seed, "first": order[0], "base": runs["base"][k],
                          "change": runs["change"][k]})
        # rewritten after every seed, so an interrupted session keeps its runs
        report = compare(pairs, better)
        with open(path, "w") as fh:
            json.dump({"args": vars(args), "metrics": report, "pairs": pairs}, fh, indent=1)
    print(f"\n{'metric':40s} {'wins':>6s} {'base median [q1,q3]':>32s} "
          f"{'change median [q1,q3]':>32s} {'ratio':>7s} claim")
    for name, m in report.items():
        b = f"{m['base_median']:.4g} [{m['base_quartiles'][0]:.4g}, {m['base_quartiles'][1]:.4g}]"
        c = f"{m['change_median']:.4g} [{m['change_quartiles'][0]:.4g}, {m['change_quartiles'][1]:.4g}]"
        print(f"{name:40s} {m['wins']:>3d}/{m['pairs']:<2d} {b:>32s} {c:>32s} "
              f"{m['ratio'] if m['ratio'] is not None else '-':>7} {'yes' if m['claim'] else 'no'}")
    bad = {side: sum(failed(p[side]) for p in pairs) for side in ("base", "change")}
    print(f"\nfailed runs: base {bad['base']}, change {bad['change']} of {len(pairs)}")
    print("host_steal_frac per run (base / change):")
    for p in pairs:
        print(f"  seed {p['seed']} first={p['first']:6s} "
              f"{p['base'].get('host_steal_frac')} / {p['change'].get('host_steal_frac')}")
    print(f"\nwrote {path}")
    return 1 if bad["base"] or bad["change"] else 0


if __name__ == "__main__":
    sys.exit(main())
