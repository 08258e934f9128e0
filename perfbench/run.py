"""Extraction benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload bulk_mixed --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

* ``bulk_mixed``: closed batch; ``pipeline.extracted_documents`` over a
  materialized interleaved corpus with a giant-document tail, written to
  parquet. One operation = one full pass.
* ``request_batches``: closed loop, one client; each request is a
  32-document parquet file run through
  ``pipeline.extracted_documents(...).collect()``. One operation = one
  request.

``--trace 0`` prints the end-to-end metrics (the gated CPU cost, set-up
time and peak RSS, plus the wall-clock throughput and latency lines),
``--trace 1`` runs the traced pass and prints the per-layer metrics
(``tracing.py``). Every operation's output is checked against the
generator's expectation; ``failed`` counts wrong documents (bulk) or
wrong requests (requests).
Human-readable lines go first; the last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "nolock_social_ocr_services_spark")):
        print(f"no program to benchmark under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    host.prepare_env(ROOT, WORK)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    if args.trace:
        import tracing

        metrics, attempted, failed, lines = tracing.run(wl, args, WORK)
    else:
        metrics, attempted, failed, lines = run_untraced(wl, args)
    for line in lines:
        print(line)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} failed_frac = {failed / max(attempted, 1):.6g} ratio "
          f"({failed}/{attempted})")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def run_untraced(wl, args) -> tuple[dict, int, int, list]:
    """Generation, set-up (session start + warm-up pass), then the timed
    loop. ``setup_s`` excludes generation, which runs before the JVM."""
    import gen
    import host
    from workloads import Runner, percentile, run_ops, tail_percentile

    inputs, build_s = gen.build(WORK, wl.kind, args.seed, (*wl.sizes, 0), host.cpus())
    setup_probe = host.speed_probe()
    sampler = host.RssSampler()
    t0 = time.perf_counter()
    spark = host.start_session(WORK)
    try:
        start_s = time.perf_counter() - t0
        runner = Runner(spark, wl, inputs, WORK)
        t0 = time.perf_counter()
        runner.warm_up()
        warm_s = time.perf_counter() - t0
        ops = run_ops(runner, args.seconds, sampler, probe=True)
    finally:
        sampler.close()
        host.shutdown(spark)
    lat, cpu, probes = ops["lat"], ops["cpu"], ops["probes"]
    n = len(lat)
    tail = tail_percentile(n)
    # each operation against the mean of the probes right before and after it
    rel = [c / ((probes[i] + probes[i + 1]) / 2) for i, c in enumerate(cpu)]
    # set-up time at the reference machine speed, by the probes around it
    setup_wall_s = start_s + warm_s
    setup_s = setup_wall_s * host.PROBE_REF_CPU_S / ((setup_probe + probes[0]) / 2)
    lines = [
        f"{wl.name} corpus.build_s = {build_s:.3f} s (outside setup_s)",
        f"{wl.name} session.start_s = {start_s:.3f} s, warmup.s = {warm_s:.3f} s, "
        f"setup_wall_s = {setup_wall_s:.3f} s",
        f"{wl.name} ops = {n}, main docs = {inputs.main_docs}, spans = {inputs.main_spans}",
        f"{wl.name} op_s = {[round(x, 3) for x in lat]}",
        f"{wl.name} op_cpu_s = {[round(x, 2) for x in cpu]}",
        f"{wl.name} op_steal_frac = {[round(x, 3) for x in ops['steal']]}",
        f"{wl.name} probe_cpu_s = {round(setup_probe, 2)} before set-up, "
        f"{[round(x, 2) for x in probes]} around the operations",
        f"{wl.name} cpu_s_per_op = {statistics.median(cpu):.6g} s",
        # wall-clock figures: printed, not result metrics (see README)
        f"{wl.name} docs_per_s = {runner.docs_per_op / statistics.median(lat):.6g} docs/s",
        f"{wl.name} latency_p50_ms = {1000 * statistics.median(lat):.6g} ms",
        f"{wl.name} latency_tail_ms = {1000 * percentile(lat, tail):.6g} ms (p{tail:.4g})",
    ]
    metrics = {
        "cpu_per_op": (statistics.median(rel), "probe_cpu"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (sampler.peak_mb, "MB"),
    }
    return metrics, ops["attempted"], ops["failed"], lines


if __name__ == "__main__":
    sys.exit(main())
