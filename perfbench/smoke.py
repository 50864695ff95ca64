"""The benchmark's own smoke test, at tiny sizes (a few minutes on 4 cores).

    python3 perfbench/smoke.py [workload ...]

For each workload it checks that:

- an untraced run emits every end-to-end metric of BENCHMARK.json with its
  unit, and that a corrupted sink row is detected (``--corrupt`` damages the
  sink after the timed section; the checks run again must then report a
  problem they did not report before);
- a traced run passes its checks and emits every per-layer metric with its
  unit.

It also checks that the runner exits non-zero, without a result line, in a
directory holding only BENCHMARK.json and the benchmark's files.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Workloads whose checks fail on an undamaged run because of a known program
# defect; the smoke test still requires their metrics and failure counts.
_NO_PREIMAGES = (
    "apply_cdc_table(write_change_feed=True) writes each update as one 'update' row, "
    "not as an update_preimage/update_postimage pair"
)
KNOWN_DEFECTS = {
    "cdc_merge": _NO_PREIMAGES,
    "cdc_merge_mv": _NO_PREIMAGES + ", so the MV folds keep stale rows",
}

TINY = {
    "ingest_backlog": {"files_per_second": 2, "warmup_files": 3, "rows_per_file": 200},
    "cdc_merge": {"cycles_per_second": 1, "base_rows": 300, "changes_per_cycle": 30},
    "cdc_merge_mv": {"cycles_per_second": 1, "base_rows": 300, "changes_per_cycle": 30},
    "operator_suite": {"sf": 0.002, "passes_per_second": 0.5},
    "operator_suite_full": {"sf": 0.002, "passes_per_second": 0.5},
}


def _run(root: str, workload: str, *extra: str) -> tuple[int, dict | None, str]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "2", "--sizes", json.dumps(TINY[workload]), *extra,
    ]
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stdout + proc.stderr[-3000:]


def _emits(result: dict, declared: list[dict]) -> list[str]:
    got = result["metrics"]
    return [
        m["name"] for m in declared
        if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]
        or not isinstance(got[m["name"]]["value"], float)
    ]


def _unmeasured(log: str, spec: dict) -> list[str]:
    """Metrics of the workload's layer map that its traced run did not print
    with a value ("query.*" stands for each of its queries)."""
    printed = {m[1] for m in re.finditer(r"^(\S+)\s+-?\d+\.\d+ ", log, re.MULTILINE)}
    wanted = []
    for name in spec["layers"]:
        if "*" in name:
            wanted += [name.replace("*", q) for q in spec["sizes"]["queries"]]
        else:
            wanted.append(name)
    return [name for name in wanted if name not in printed]


def check_workload(workload: str, bench: dict, spec: dict) -> list[str]:
    errors = []
    code, result, log = _run(ROOT, workload, "--trace", "0", "--corrupt")
    if code != 0 or result is None:
        return [f"{workload}: untraced run failed (exit {code})\n{log}"]
    if missing := _emits(result, bench["end_to_end"]):
        errors.append(f"{workload}: end-to-end metrics missing or mis-united: {missing}")
    if result["correct"] or "corrupted sink row detected: yes" not in log:
        errors.append(f"{workload}: the corrupted sink row was not detected\n{log}")

    code, result, log = _run(ROOT, workload, "--trace", "1")
    if code != 0 or result is None:
        return errors + [f"{workload}: traced run failed (exit {code})\n{log}"]
    if missing := _emits(result, bench["per_layer"]):
        errors.append(f"{workload}: per-layer metrics missing or mis-united: {missing}")
    if missing := _unmeasured(log, spec[workload]):
        errors.append(f"{workload}: layer metrics not measured: {missing}")
    if not result["correct"] and workload not in KNOWN_DEFECTS:
        errors.append(f"{workload}: checks failed on an undamaged run\n{log}")
    return errors


def check_bare_directory() -> list[str]:
    """Without the package under test the runner must fail cleanly."""
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    code, result, log = _run(bare, "ingest_backlog", "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or result is not None:
        return [f"bare directory: expected a non-zero exit and no result, got exit {code}\n{log}"]
    return []


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        bench = json.load(handle)
    with open(os.path.join(HERE, "workloads.json")) as handle:
        spec = json.load(handle)
    errors = check_bare_directory()
    for workload in argv or list(TINY):
        errors += check_workload(workload, bench, spec)
        print(f"{workload}: {'ok' if not errors else 'FAILED'}", flush=True)
    for error in errors:
        print(error)
    print("smoke: " + ("PASS" if not errors else f"FAIL ({len(errors)} problems)"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
