"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py

For every workload: two untraced runs with one seed pass every check
and report the same ``bytes_written_per_item`` to the last digit, and
a traced run passes its checks with layer spans covering at least 90%
of op wall time. Exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("index_publish", "listing_ingest", "index_tick")
SEED = 7


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    for w in WORKLOADS:
        a, b, t = run(w, 0), run(w, 0), run(w, 1)
        for label, r in (("first", a), ("second", b), ("traced", t)):
            if not r["correct"] or r["failed"]:
                print(f"FAIL {w}: {label} run not correct: {r}")
                return 1
        ba = a["metrics"]["bytes_written_per_item"]["value"]
        bb = b["metrics"]["bytes_written_per_item"]["value"]
        if ba != bb:
            print(f"FAIL {w}: bytes_written_per_item {ba!r} != {bb!r} for one seed")
            return 1
        cov = t["metrics"]["trace.span_coverage"]["value"]
        if cov < 0.9:
            print(f"FAIL {w}: layer spans cover {cov:.3f} of op wall time")
            return 1
        print(f"ok {w}: bytes_written_per_item {ba}, span coverage {cov:.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
