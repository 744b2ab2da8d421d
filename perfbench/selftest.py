"""Self-test of the benchmark harness at sf0.001 (about 5 minutes).

    python3 perfbench/selftest.py

Checks that:
- every run prints, on its last line, every metric BENCHMARK.json names
  for its mode exactly once, with its unit, and nothing else;
- a deliberately wrong expected outcome is counted as a failure;
- the same seed reproduces byte-identical inputs, and another seed does not.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402

SF = "0.001"


def _check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", SF,
    ]
    out = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=600)
    _check(out.returncode == 0, f"{workload} trace={trace} exits 0")
    last = out.stdout.strip().splitlines()[-1]
    return json.loads(last), last


def metrics_printed() -> None:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, line = _run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _check(got == want, f"{w['name']} trace={trace}: {len(want)} metrics with units")
            _check(
                all(line.count(f'"{n}"') == 1 for n in want),
                f"{w['name']} trace={trace}: each metric named once",
            )
            _check(
                set(res) == {"correct", "attempted", "failed", "metrics"} and res["attempted"] >= 1,
                f"{w['name']} trace={trace}: result keys",
            )


def wrong_expectation_fails() -> None:
    """Run curation_incremental in-process with one document missing
    from every expected keep-set."""
    import workloads
    from tracing import Recorder

    real = workloads.replay_keep_set

    def corrupted(docs):
        keep, pairs = real(docs)
        return keep[1:], pairs

    work = harness.make_work_dir("selftest")
    harness.configure(work, event_log=False)
    ctx = workloads.Ctx(work, 3, 1.0, False, float(SF), 2, Recorder("selftest"))
    workloads.replay_keep_set = corrupted
    try:
        workloads.curation_incremental(ctx)
    finally:
        workloads.replay_keep_set = real
        if ctx.spark is not None:
            harness.stop_session(ctx.spark)
        harness.stop_jvm()
        harness.remove_work_dir(work)
    _check(ctx.failed > 0 and ctx.failed / ctx.attempted > 0, "a wrong expectation raises failed_frac")


def inputs_repeat() -> None:
    def digests(seed: int) -> dict:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed)],
            cwd=harness.ROOT, capture_output=True, text=True, check=True,
        )
        return json.loads(out.stdout)

    a, b, c = digests(5), digests(5), digests(6)
    _check(a == b, "same seed, byte-identical inputs")
    _check(a != c, "another seed, other inputs")


def main() -> None:
    inputs_repeat()
    wrong_expectation_fails()
    metrics_printed()
    print("selftest passed")


if __name__ == "__main__":
    main()
