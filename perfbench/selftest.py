#!/usr/bin/env python3
"""Self-test of the benchmark at the tiny scale (sf0.001-sized tables,
a few generated XML files).

    python3 perfbench/selftest.py

Checks that every workload, untraced and traced, prints every metric
BENCHMARK.json names with its unit and passes its output checks, that a
traced run writes its spans, and that a deliberately wrong pinned
checksum is counted as a failed operation. Exits 0 when all hold.
"""

import json
import pathlib
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
RUN = [sys.executable, str(BENCH / "run.py")]


def run(*args):
    out = subprocess.run(RUN + list(args), cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    artifact = [l for l in out.stderr.splitlines() if l.startswith("perfbench: artifact: ")]
    path = pathlib.Path(artifact[-1].split(": ", 2)[2].split(" (")[0])
    return json.loads(out.stdout.strip().splitlines()[-1]), path.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []

    def check(ok, msg):
        print(("ok   " if ok else "FAIL ") + msg, flush=True)
        if not ok:
            failures.append(msg)

    for w in (x["name"] for x in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            res, run_dir = run("--workload", w, "--seed", "1", "--seconds", "1",
                               "--trace", str(trace), "--scale", "tiny")
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w} trace {trace}: every {kind} metric, with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w} trace {trace}: numeric values")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace {trace}: all {res['attempted']} operations correct")
            if trace:
                spans = json.loads((run_dir / "spans.json").read_text())
                check(len(spans) > 0, f"{w} trace 1: {len(spans)} spans written")

    # a wrong pinned checksum must show as a failed operation
    pins = json.loads((BENCH / "expected.json").read_text())
    pins["tiny"]["q01_pricing_summary"]["checksum"] += 1
    wrong = ROOT / ".bench_build" / "selftest-wrong-pins.json"
    wrong.parent.mkdir(exist_ok=True)
    wrong.write_text(json.dumps(pins))
    res, run_dir = run("--workload", "sql_analytics", "--seed", "1", "--seconds", "1",
                       "--scale", "tiny", "--pins", str(wrong))
    art = json.loads((run_dir / "artifact.json").read_text())
    check(res["failed"] == 1 and not res["correct"] and art["failed_frac"] > 0,
          f"wrong checksum counted: failed {res['failed']}, failed_frac {art['failed_frac']:.3f}")

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
