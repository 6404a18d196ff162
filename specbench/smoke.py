"""Smoke test of the benchmark itself, at tiny input sizes.

Run from the repository root (about eight minutes on 4 cores):

    python3 specbench/smoke.py [workload ...]

For each workload it checks that
- every end-to-end and per-layer metric in BENCHMARK.json is printed by
  name with its unit, and the output check passed;
- exact counts (``*.jobs``, ``*.stages``, ``*.tasks``,
  ``sources.write_bytes_per_row``, ``sources.files_written``) repeat
  exactly across two traced runs with one seed. A job-counting call site
  whose counts already varied between traced executions inside one run
  (adaptive execution racing concurrent jobs, see ``TRACED_REPEATS`` in
  ``run.py``) is listed by name instead; every other site's counts must
  repeat exactly (the ``*.jobs``, ``*.stages`` and ``*.tasks`` totals are
  sums over sites);
- a second seed changes the input digest, and the same seed repeats it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402

EXACT_NAMES = ("sources.write_bytes_per_row", "sources.files_written")


# a traced run of this length gives every call site about four traced
# executions, so a site's fewest-jobs count rarely depends on the run
TRACED_SECONDS = 40


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    seconds = TRACED_SECONDS if trace else 1
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    record, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return record, result


def check_metrics(result: dict, expected: list[dict], what: str) -> list[str]:
    errs = []
    if not result["correct"] or result["failed"]:
        errs.append(f"{what}: output check failed ({result['failed']} of {result['attempted']})")
    got = result["metrics"]
    for m in expected:
        if m["name"] not in got:
            errs.append(f"{what}: metric {m['name']} missing")
        elif got[m["name"]]["unit"] != m["unit"]:
            errs.append(f"{what}: {m['name']} unit {got[m['name']]['unit']!r}, want {m['unit']!r}")
    return errs


def smoke(workload: str, bench: dict) -> list[str]:
    errs = []
    rec1, e2e = run(workload, 1, 0)
    errs += check_metrics(e2e, bench["end_to_end"], f"{workload} trace 0")
    rec2, _ = run(workload, 2, 0)
    if rec1["input_digest"] == rec2["input_digest"]:
        errs.append(f"{workload}: seeds 1 and 2 gave the same input digest")
    traced = [run(workload, 1, 1) for _ in range(2)]
    for i, (rec, res) in enumerate(traced):
        errs += check_metrics(res, bench["per_layer"], f"{workload} trace 1 run {i}")
        if rec["input_digest"] != rec1["input_digest"]:
            errs.append(f"{workload}: seed 1 input digest changed between runs")
    (ra, a), (rb, b) = ((rec["count_sites"], res["metrics"]) for rec, res in traced)
    unstable = sorted(k for k in set(ra) | set(rb) if len(ra.get(k, [])) > 1 or len(rb.get(k, [])) > 1)
    for site in unstable:
        print(f"{workload}: counts of {site} vary inside a run: {ra.get(site)} / {rb.get(site)}", flush=True)
    for site in sorted(set(ra) | set(rb)):
        if site not in unstable and ra.get(site) != rb.get(site):
            errs.append(f"{workload}: counts of {site} differ across runs: {ra.get(site)} vs {rb.get(site)}")
    for name in EXACT_NAMES:
        if a[name]["value"] != b[name]["value"]:
            errs.append(f"{workload}: {name} differs across runs: {a[name]['value']} vs {b[name]['value']}")
    return errs


def main(argv: list[str]) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    errs = []
    for workload in argv or sorted(WORKLOADS):
        errs += smoke(workload, bench)
        print(f"{workload}: {'ok' if not errs else 'FAILED'}", flush=True)
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
