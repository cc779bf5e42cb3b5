#!/usr/bin/env python3
"""Smoke run of the benchmark on tiny inputs.

    python3 perfbench/smoke.py

Runs both workloads, untraced and traced, on a few queries over sf0.001
tables and on a 500-review Yelp set, and asserts that each run is
correct and prints every metric name with its unit. Takes about three
minutes once the program is built.
"""
import contextlib
import io
import json
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

TINY = {
    "suite": {"kind": "queries", "sf": 0.001,
              "queries": ["q_windowed_agg", "q_salted_join", "q_vocab_topk"]},
    "medallion": {"kind": "medallion", "reviews": 500, "buckets": 2},
}


def main():
    run.WORKLOADS.update(TINY)
    for workload in TINY:
        for trace in (0, 1):
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                run.main(["--workload", workload, "--seed", "1", "--seconds", "1",
                          "--trace", str(trace)])
            result = json.loads(out.getvalue().strip().splitlines()[-1])
            assert result["correct"] and result["failed"] == 0, result
            want = run.PER_LAYER if trace else run.END_TO_END
            got = {k: m["unit"] for k, m in result["metrics"].items()}
            assert got == want, f"{workload} trace={trace}: {sorted(set(want) ^ set(got))}"
            print(f"smoke ok: {workload} trace={trace}: {len(got)} metrics, "
                  f"{result['attempted']} operations checked")


if __name__ == "__main__":
    main()
