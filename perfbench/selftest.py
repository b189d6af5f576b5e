"""Self-test of the benchmark on the small corpora (sf0.001).

    python3 perfbench/selftest.py        # from the repository root

Runs every workload end to end, untraced and traced, and checks that each
run passes its oracle and emits exactly the metrics BENCHMARK.json names
(plus the workload's report-only end-to-end metrics).  Then checks that a
deliberately corrupted output digest makes the command fail.  Exit code 0
iff every check holds.  About four minutes on a 4-CPU host.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# end-to-end metrics reported beside the gated ones, per workload
REPORT_ONLY = {
    "build": {"failed_frac", "triples_per_s", "epoch_p50_s", "epoch_p75_s"},
    "analyze": {"failed_frac"},
}


def run(workload: str, *extra: str) -> tuple[int, list[dict]]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    lines = []
    for line in p.stdout.splitlines():
        try:
            lines.append(json.loads(line))
        except json.JSONDecodeError:
            continue
    return p.returncode, lines


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    failures = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            rc, out = run(w, "--trace", str(trace))
            result = out[-1] if out else {}
            got = {k: v["unit"] for k, v in result.get("metrics", {}).items()}
            problems = []
            if rc != 0 or result.get("correct") is not True:
                problems.append(f"exit {rc}, correct={result.get('correct')}")
            if got != want[trace]:
                problems.append(f"metric names differ: {sorted(set(got) ^ set(want[trace]))}")
            if trace == 0 and len(out) >= 2:
                missing = REPORT_ONLY[w] - set(out[-2].get("end_to_end", {}))
                if missing:
                    problems.append(f"report lacks {sorted(missing)}")
            print(f"{w} --trace {trace}: {'; '.join(problems) or 'ok'}", flush=True)
            failures += problems

    rc, out = run("build", "--trace", "0", "--corrupt")
    corrupted_fails = rc != 0 and bool(out) and out[-1].get("correct") is False
    print(f"corrupted digest fails the run: {'ok' if corrupted_fails else 'NO'}")
    if not corrupted_fails:
        failures.append("corrupted digest passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
