"""Coastline engine benchmark.

    python3 perfbench/run.py --workload annual_shorelines --seed 1 \\
        --seconds 16 --trace 0

Run from the repository root. Reuses the workload's seeded input tables
from `.perfbench/cache` (a missing entry is first built by a child
process), starts a Spark session at local[<cpus>], sets the workload up,
runs its operation for `--seconds`, checks the outputs, and prints as its
last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
BENCHMARK.json; with `--trace 1` they are its per-layer metrics, taken
from a traced pass whose spans are written to `.perfbench/traces/`.
Workloads, metrics and the layer -> end-to-end map are described in
`perfbench/layers.json`.
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import harness  # noqa: E402
import inputs  # noqa: E402
from harness import WORK, median  # noqa: E402
from spans import Tracer  # noqa: E402

SETUP_REPS = 3

# traced span name -> per-layer metric (self time per traced pass)
SPAN_METRICS = {
    "sources.read_tiles": "sources.read_tiles_s",
    "sources.table.read": "sources.table.read_s",
    "sources.table.commit": "sources.table.commit_s",
    "operators.composite.annual_composites": "operators.composite.annual_composites_s",
    "operators.contours.shorelines": "operators.contours.shorelines_s",
    "operators.rates.baseline_points": "operators.rates.baseline_points_s",
    "operators.rates.annual_nearest": "operators.rates.annual_nearest_s",
    "operators.rates.signed_distances": "operators.rates.signed_distances_s",
    "operators.rates.rates_of_change": "operators.rates.rates_of_change_s",
    "operators.rates.with_certainty": "operators.rates.with_certainty_s",
    "operators.hotspots.continental_hotspots": "operators.hotspots.continental_hotspots_s",
    "operators.spatial_join.points_in_polygons": "spatial_join.pip_s",
    "plans.pipeline.shoreline_pipeline": "plans.pipeline.shoreline_pipeline_s",
    "plans.pipeline.shorelines_in_aoi_fused": "plans.pipeline.shorelines_in_aoi_fused_s",
    "plans.checkpoint.run_stage.A": "plans.checkpoint.run_stage_s.A",
    "plans.checkpoint.run_stage.B": "plans.checkpoint.run_stage_s.B",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--build-inputs", action="store_true",
                   help="only build the workload's cached inputs, then exit")
    return p.parse_args(argv)


def ensure_inputs(args, run_dir: Path) -> None:
    """Make sure the workload's seeded tables are in the cache. A missing
    entry is built by a child process with its own Spark session, which
    ends before this process starts its session: every measured run
    then starts from the same cold JVM, cached corpus or not."""
    from workloads import WORKLOADS

    inputs.ALLOW_BUILD = False
    try:
        WORKLOADS[args.workload](None, args.seed, run_dir).build()
        return
    except inputs.NotBuilt:
        pass
    subprocess.run(
        [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", "0", "--build-inputs"],
        check=True, stdout=sys.stderr, timeout=800,
    )


def build_inputs(args, run_dir: Path) -> int:
    from workloads import WORKLOADS

    spark, _ = harness.start_session(harness.cpu_count())
    try:
        WORKLOADS[args.workload](spark, args.seed, run_dir).build()
    finally:
        harness.stop_session(spark)
    return 0


def set_up(wl, session: tuple[float, float]) -> dict:
    """Set-up = session start + opening the tables (repeated; the median
    counts) + one warm-up unit that lets lazy set-up finish.

    Each phase is taken as wall time and as CPU time of the process
    tree; `session` is the (wall, CPU) seconds of the session start."""
    opens, open_cpus = [], []
    for _ in range(SETUP_REPS):
        t0, c0 = time.perf_counter(), harness.tree_cpu_s()
        wl.open()
        opens.append(time.perf_counter() - t0)
        open_cpus.append(harness.tree_cpu_s() - c0)
    t0, c0 = time.perf_counter(), harness.tree_cpu_s()
    wl.warm()
    warm_s, warm_cpu_s = time.perf_counter() - t0, harness.tree_cpu_s() - c0
    return {
        "setup_cpu_s": session[1] + median(open_cpus) + warm_cpu_s,
        "setup_wall_s": session[0] + median(opens) + warm_s,
        "session_s": session[0], "session_cpu_s": session[1],
        "open_reps_s": opens, "warm_s": warm_s,
    }


def end_to_end(setup: dict, timed, peak_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics are CPU costs and memory. On a shared
    few-core host the wall clock of the same run moves by +-40 % with
    the neighbours' load (steal time), while the CPU time the process
    tree spends on the same work moves by a few per cent; wall-clock
    latency and throughput are reported in the detail line."""
    lats, items, wall, cpu_per_item = timed
    metrics = {
        "setup_s": setup["setup_cpu_s"],
        "cpu_ms_per_item": 1e3 * median(cpu_per_item),
        "peak_rss_mb": peak_mb,
    }
    detail = {"ops": len(lats), "items": items, "wall_s": wall,
              "cpu_ms_per_item_samples": [round(1e3 * x, 3) for x in cpu_per_item],
              "items_per_s": items / wall, "op_p50_ms": 1e3 * median(lats),
              "op_ms": [round(1e3 * x, 1) for x in lats]}
    tail = harness.tail_percentile(len(lats))
    if tail is not None and tail > 50:
        detail[f"op_p{tail:g}_ms"] = 1e3 * harness.percentile(lats, tail)
    return metrics, detail


def traced_run(wl, seconds: float, tracer: Tracer, wanted: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics: one untraced unit for the Spark job counts and
    the overhead baseline, traced units for `seconds`, then the layers
    the workload measures once per run (`extra_layers`)."""
    t0 = time.perf_counter()
    counts = wl.spark_counts(wl.unit)
    untraced = time.perf_counter() - t0
    walls, unit_counts = [], {}
    t_start = time.perf_counter()
    while not walls or time.perf_counter() - t_start < seconds:
        t0 = time.perf_counter()
        with tracer.span(f"workload.{wl.name}"):
            unit_counts = wl.traced(tracer)
        walls.append(time.perf_counter() - t0)
    n = len(walls)
    with tracer.span(f"extra.{wl.name}"):
        extra_counts = wl.extra_layers(tracer)
    unit_self = {k: v / n for k, v in tracer.layer_self_times(f"workload.{wl.name}").items()}
    extra_self = tracer.layer_self_times(f"extra.{wl.name}")

    metrics = {m["name"]: 0.0 for m in wanted}
    for span, name in SPAN_METRICS.items():
        metrics[name] = unit_self.get(span, extra_self.get(span, 0.0))
    metrics.update(counts)
    metrics.update({k: float(v) for k, v in {**extra_counts, **unit_counts}.items()})
    metrics["tracing_overhead_s"] = median(walls) - untraced
    arrays, native = wl.sample()
    from workloads import kernel_layers

    metrics.update(kernel_layers(arrays, native))
    detail = {"traced_units": n, "traced_unit_s": median(walls), "untraced_unit_s": untraced,
              "unit_self_s": unit_self, "extra_self_s": extra_self}
    return metrics, detail


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    harness.prepare_env()
    # the engine must be importable before anything is built or timed
    import dea_coastlines_spark  # noqa: F401
    from workloads import WORKLOADS

    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{time.time_ns()}"
    if args.build_inputs:
        return build_inputs(args, run_dir)
    ensure_inputs(args, run_dir)

    jiffies = harness.cpu_jiffies()
    spark = None
    try:
        cpu0 = harness.tree_cpu_s()
        spark, session_s = harness.start_session(harness.cpu_count())
        session = (session_s, harness.tree_cpu_s() - cpu0)
        wl = WORKLOADS[args.workload](spark, args.seed, run_dir)
        synth_s = wl.build()
        with harness.RssSampler() as rss:
            setup = set_up(wl, session)
            if args.trace:
                tracer = Tracer()
                metrics, detail = traced_run(wl, args.seconds, tracer, wanted)
                metrics["session.get_spark_s"] = session_s
                metrics["synth.generate_s"] = synth_s
            else:
                timed = wl.timed(args.seconds)
        if not args.trace:
            metrics, detail = end_to_end(setup, timed, rss.peak_mb)
        t0 = time.perf_counter()
        wl.check()
        detail.update(wl.details, **setup, synth_s=synth_s, check_s=time.perf_counter() - t0,
                      problems=wl.problems[:10], **harness.noise_stamp(jiffies))
        if args.trace:
            write_trace(args, tracer, metrics, detail)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({"workload": args.workload, "seed": args.seed, **detail}, default=str))
    attempted = len(wl.op_tags)
    print(json.dumps({
        "correct": not wl.bad,
        "attempted": attempted,
        "failed": len(wl.bad),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


def write_trace(args, tracer: Tracer, metrics: dict, detail: dict) -> None:
    out = WORK / "traces" / f"{args.workload}-seed{args.seed}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "spans": tracer.as_records(), "metrics": metrics, "detail": detail,
    }, indent=1, default=str))


if __name__ == "__main__":
    sys.exit(main())
