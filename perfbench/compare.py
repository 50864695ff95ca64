"""Collect sets of benchmark runs and compare them.

    # ten seeds of two workloads from this checkout into one file
    python3 perfbench/compare.py collect --out a.jsonl --workloads ingest_backlog,cdc_merge --seeds 1-10

    # parent against change, alternating which side runs first
    python3 perfbench/compare.py pairs --base ../parent --change . --out ab --seeds 1-10

    python3 perfbench/compare.py spread a.jsonl      # run-to-run spread per metric
    python3 perfbench/compare.py diff ab.base.jsonl ab.change.jsonl

``diff`` prints, per (metric, workload): each side's median and quartiles,
the pairs (same seed) the change won, and a verdict.  The verdict follows
the benchmark's rules, with bounds read from ``BENCHMARK.json``:

- unresolved: the base's quartile spread exceeds the bound, unless every
  change run beats every base run;
- improved: the change wins at least nine tenths of the pairs (ties count
  for neither side) and the medians differ by more than the base's
  quartile spread;
- regressed: the change's median is worse than the base's by more than the
  bound;
- within bound: otherwise.

A gain does not count when more operations fail: if the change's failed
share of attempted operations (or of runs) on a workload is higher than the
base's, ``diff`` reports "improved" on that workload as "not improved (more
failures)".  Each workload's failure counts are printed with its rows.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import quartiles  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _bench(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as handle:
        return json.load(handle)


def run_once(root: str, workload: str, seed: int, trace: int) -> dict:
    """One benchmark run in checkout ``root``; returns its record."""
    bench = _bench(root)
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    elapsed = time.monotonic() - t0
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    if result is None:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
    return {
        "workload": workload, "seed": seed, "trace": trace, "root": os.path.abspath(root),
        "exit": proc.returncode, "elapsed_s": elapsed, "summary": lines[:-1], "result": result,
    }


def _append(path: str, record: dict) -> None:
    with open(path, "a") as handle:
        handle.write(json.dumps(record) + "\n")
    r = record["result"]
    status = "FAILED TO RUN" if r is None else f"correct={r['correct']} failed={r['failed']}/{r['attempted']}"
    print(f"{record['workload']} seed={record['seed']} {status} in {record['elapsed_s']:.1f} s", flush=True)


def _workloads(args, root: str) -> list[str]:
    if args.workloads:
        return args.workloads.split(",")
    return [w["name"] for w in _bench(root)["workloads"]]


def cmd_collect(args) -> int:
    for seed in _seeds(args.seeds):
        for workload in _workloads(args, args.root):
            _append(args.out, run_once(args.root, workload, seed, args.trace))
    return 0


def cmd_pairs(args) -> int:
    sides = [("base", args.base), ("change", args.change)]
    for i, seed in enumerate(_seeds(args.seeds)):
        for workload in _workloads(args, args.change):
            for side, root in sides if i % 2 == 0 else sides[::-1]:
                _append(f"{args.out}.{side}.jsonl", run_once(root, workload, seed, args.trace))
    return 0


def load(path: str) -> tuple[dict[tuple[str, str], dict[int, float]], dict[str, dict[str, int]]]:
    """(metric, workload) -> seed -> value, from the runs that produced a
    result; and per workload the runs, the runs without a result, and the
    attempted and failed operations summed over the runs."""
    values: dict[tuple[str, str], dict[int, float]] = {}
    counts: dict[str, dict[str, int]] = {}
    with open(path) as handle:
        for line in handle:
            record = json.loads(line)
            result = record["result"]
            c = counts.setdefault(record["workload"], dict.fromkeys(("runs", "no_result", "attempted", "failed"), 0))
            c["runs"] += 1
            if result is None:
                c["no_result"] += 1
                continue
            c["attempted"] += result["attempted"]
            c["failed"] += result["failed"]
            for name, metric in result["metrics"].items():
                values.setdefault((name, record["workload"]), {})[record["seed"]] = metric["value"]
    return values, counts


def _fails_more(base: dict[str, int], change: dict[str, int]) -> bool:
    """Whether the change failed a larger share of its operations or runs."""
    def share(c: dict[str, int], part: str, whole: str) -> float:
        return c[part] / c[whole] if c[whole] else 0.0

    return (
        share(change, "failed", "attempted") > share(base, "failed", "attempted")
        or share(change, "no_result", "runs") > share(base, "no_result", "runs")
    )


def _declared(bench: dict) -> dict[str, dict]:
    return {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}


def cmd_spread(args) -> int:
    declared = _declared(_bench(args.root))
    runs, _ = load(args.runs)
    print(f"{'metric':24s} {'workload':16s} {'n':>3s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    worst = 0
    for (name, workload), values in sorted(runs.items(), key=lambda kv: (kv[0][1], kv[0][0])):
        if name not in declared or "bound" not in declared[name]:
            continue
        q1, q2, q3 = quartiles(list(values.values()))
        spread = (q3 - q1) / q2 if q2 else float("inf")
        bound = declared[name]["bound"]
        flag = "" if spread <= bound / 3 else ("  above bound/3" if spread <= bound else "  ABOVE BOUND")
        worst |= spread > bound
        print(f"{name:24s} {workload:16s} {len(values):3d} {q2:12.4f} {spread:8.3f} {bound:6.2f}{flag}")
    return 1 if worst else 0


def verdict(base: list[float], change: list[float], pairs: list[tuple[float, float]], bound: float, better: str) -> tuple[str, int, int]:
    sign = 1.0 if better == "higher" else -1.0
    bq1, bmed, bq3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    wins = sum(1 for b, c in pairs if sign * (c - b) > 0)
    losses = sum(1 for b, c in pairs if sign * (c - b) < 0)
    all_better = min(sign * c for c in change) > max(sign * b for b in base)
    if bmed and (bq3 - bq1) / abs(bmed) > bound and not all_better:
        return "unresolved", wins, losses
    if pairs and wins >= 0.9 * len(pairs) and abs(cmed - bmed) > bq3 - bq1:
        return "improved", wins, losses
    if bmed and sign * (cmed - bmed) / abs(bmed) < -bound:
        return "regressed", wins, losses
    return "within bound", wins, losses


def cmd_diff(args) -> int:
    bench = _bench(args.root)
    declared = _declared(bench)
    (base, base_counts), (change, change_counts) = load(args.base), load(args.change)
    for workload in sorted(set(base_counts) & set(change_counts)):
        b, c = base_counts[workload], change_counts[workload]
        print(
            f"{workload}: failed base {b['failed']}/{b['attempted']} ops, {b['no_result']}/{b['runs']} runs without result;"
            f" change {c['failed']}/{c['attempted']} ops, {c['no_result']}/{c['runs']} runs without result"
        )
    print(f"{'metric':24s} {'workload':16s} {'base q1/med/q3':>30s} {'change q1/med/q3':>30s} {'wins':>7s}  verdict")
    regressed = False
    for key in sorted(set(base) & set(change), key=lambda k: (k[1], k[0])):
        name, workload = key
        if name not in declared:
            continue
        b, c = base[key], change[key]
        pairs = [(b[s], c[s]) for s in sorted(set(b) & set(c))]
        bound = declared[name].get("bound")
        if bound is None:
            text, wins, losses = "(per-layer: no bound)", *verdict(list(b.values()), list(c.values()), pairs, float("inf"), declared[name]["better"])[1:]
        else:
            text, wins, losses = verdict(list(b.values()), list(c.values()), pairs, bound, declared[name]["better"])
            regressed |= text == "regressed"
            if text == "improved" and _fails_more(base_counts[workload], change_counts[workload]):
                text = "not improved (more failures)"
        bq, cq = ("/".join(f"{v:.4g}" for v in quartiles(list(x.values()))) for x in (b, c))
        print(f"{name:24s} {workload:16s} {bq:>30s} {cq:>30s} {wins:3d}-{losses:<3d}  {text}")
    return 1 if regressed else 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = parser.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("collect", help="run seeds x workloads in one checkout")
    p.add_argument("--out", required=True)
    p.add_argument("--root", default=os.path.dirname(HERE))
    p.add_argument("--workloads")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("pairs", help="alternate base and change runs, seed by seed")
    p.add_argument("--base", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--workloads")
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("spread", help="quartile spread of each metric over one set")
    p.add_argument("runs")
    p.add_argument("--root", default=os.path.dirname(HERE))
    p = sub.add_parser("diff", help="compare two sets of runs")
    p.add_argument("base")
    p.add_argument("change")
    p.add_argument("--root", default=os.path.dirname(HERE))
    args = parser.parse_args(argv)
    return {"collect": cmd_collect, "pairs": cmd_pairs, "spread": cmd_spread, "diff": cmd_diff}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
