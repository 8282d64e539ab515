"""The repository's benchmark: one workload per run, closed loop, one
operation at a time.

    python3 perfbench/run.py --workload crawl_full --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --small          # every workload and check, tiny inputs

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
stamps the run with the host's core count and steal share. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402  (puts the checkout root on sys.path)

WORKLOADS = ("crawl_full", "kernel_ref", "crawl_increment")


def units(section: str) -> dict[str, str]:
    """Metric name -> unit of one section of BENCHMARK.json."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def run_workload(args, name: str, spark_holder: dict) -> tuple[dict, dict]:
    """→ (result object, host stamp)."""
    t_start = time.perf_counter()
    measure = common.Measure(args.seconds, t_start)
    stat0 = common.cpu_times()
    with common.RssSampler() as rss:
        if name == "kernel_ref":
            import kernel_ref

            layers = kernel_ref.run(args, measure)
        else:
            import crawl

            layers = crawl.run(args, name, measure, spark_holder)
    stamp = {
        "workload": name,
        "cores": common.host_cores(),
        "steal_share": common.steal_share(stat0, common.cpu_times()),
        "rounds": measure.rounds,
    }
    if args.trace:
        per_layer = units("per_layer")
        unknown = sorted(set(layers) - set(per_layer))
        if unknown:
            raise RuntimeError(f"per-layer metrics not in BENCHMARK.json: {unknown}")
        # a layer this workload does not exercise reads 0
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in per_layer.items()}
    else:
        values = measure.end_to_end(rss.peak_mb)
        metrics = {n: {"value": values[n], "unit": u} for n, u in units("end_to_end").items()}
    for op in measure.ops:
        if op.failed:
            print(f"[{name}/{op.kind}] failed: {op.error[:400]}", file=sys.stderr)
    for err in measure.side_errors:
        print(f"[{name}] {err[:400]}", file=sys.stderr)
    result = {
        "correct": not any(o.wrong for o in measure.ops) and not measure.side_errors,
        "attempted": len(measure.ops),
        "failed": sum(o.failed for o in measure.ops),
        "metrics": metrics,
    }
    return result, stamp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny inputs and one round: every workload unless --workload")
    args = ap.parse_args(argv)
    if not args.small and not args.workload:
        ap.error("--workload is required unless --small")
    if args.small:
        args.seconds = 0
    names = [args.workload] if args.workload else list(WORKLOADS)

    work = common.make_workdir()
    args.work = work
    spark_holder: dict = {}
    ok = True
    try:
        for name in names:
            result, stamp = run_workload(args, name, spark_holder)
            print(json.dumps({"host": stamp}))
            print(json.dumps(result), flush=True)
            ok = ok and result["correct"]
    finally:
        if "spark" in spark_holder:
            spark_holder["spark"].stop()
        common.remove_workdir(work)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
