"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds every input from the seed
(``gen.py``), runs one workload (``workloads.py``) against the public
API of ``free_etl_spark``, checks its outputs, and prints as the last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
ones with ``--trace 1``). The line before it repeats the figures under
workload-specific names.

``--trace 1`` first runs the same workload and seed untraced in a child
process, then traced: spans around the layers' functions plus the Spark
event log. It reports the per-layer figures and the tracing overhead
(traced over untraced end-to-end figures, minus one), and writes the
spans to ``.perfbench_out/<workload>-<seed>.spans.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def _metrics_spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _untraced_child(args) -> dict:
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        "--sf", str(args.sf), "--named",
    ]
    out = subprocess.run(cmd, cwd=harness.ROOT, capture_output=True, text=True, timeout=170)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError("untraced run failed")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.1, help="table scale factor")
    ap.add_argument("--named", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not harness.program_present():
        print("perfbench: free_etl_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    spec = _metrics_spec()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    child = _untraced_child(args) if args.trace else None
    work = harness.make_work_dir(args.workload)
    harness.configure(work, event_log=bool(args.trace))
    from tracing import Recorder

    rec = Recorder(f"{args.workload}:{args.seed}")
    rec.enabled = bool(args.trace)
    ctx = workloads.Ctx(
        work=work,
        seed=args.seed,
        seconds=args.seconds,
        traced=bool(args.trace),
        sf=args.sf,
        cores=len(os.sched_getaffinity(0)),
        rec=rec,
    )
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        rec.unwrap()
        if args.trace:
            os.makedirs(harness.OUT_DIR, exist_ok=True)
            rec.dump(os.path.join(harness.OUT_DIR, f"{args.workload}-{args.seed}.spans.jsonl"))
        if ctx.spark is not None:
            harness.stop_session(ctx.spark)
        harness.stop_jvm()
        harness.remove_work_dir(work)

    for p in ctx.problems:
        print(f"FAILED {p}", file=sys.stderr)
    failed_frac = ctx.failed / max(1, ctx.attempted)
    if args.named:  # the untraced child of a traced run
        print(json.dumps({"e2e": res.e2e, "named": res.named, "failed_frac": failed_frac}))
        return 0
    if args.trace:
        layer = dict(res.layer)
        layer.update(child["named"])
        layer["failed_frac"] = child["failed_frac"]
        for k in ("cold_s", "warm_s"):
            layer[f"trace.overhead_{k[:-2]}"] = res.e2e[k] / child["e2e"][k] - 1.0
        wanted = spec["per_layer"]
    else:
        layer = dict(res.e2e)
        wanted = spec["end_to_end"]
        print(json.dumps({"workload": args.workload, **res.named, "failed_frac": failed_frac}))
    metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
