"""One command for the benchmark:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

run from the root of a checkout.  It generates the workload's inputs from
the seed (cached under ``.perfbench/cache``), starts a session with
``session.get_spark`` on ``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs
this process may run on), warms it with one round of the workload's ops,
then runs the closed loop for S seconds of whole rounds and checks every
output.  ``--trace 1`` runs the same ops once untraced and once traced,
pairwise, records spans around each call into a layer and takes the
per-layer readings.

Human-readable lines go first; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  Everything the run writes stays under ``.perfbench/``
in the checkout; spans and the full run record are written there too.
The run itself happens in a child process; the parent stops every process
the run leaves behind before it exits (``reaper.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "op_p50_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
}
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.first_use_s": ("s", "lower"),
    # per-layer because it does not repeat within a tenth: JVM heap growth
    # follows GC timing
    "session.peak_rss_mb": ("MiB", "lower"),
    "pbf_codec.frame_s": ("s", "lower"),
    "pbf_codec.blobs": ("count", "lower"),
    "pbf_codec.inflate_s": ("s", "lower"),
    "pbf_codec.inflate_ratio": ("ratio", "higher"),
    "pbf_codec.decode_s": ("s", "lower"),
    "pbf_codec.elements": ("count", "higher"),
    "pbf_codec.elements_per_s": ("1/s", "higher"),
    "pbf.plan_s": ("s", "lower"),
    "pbf.partitions": ("count", "lower"),
    "pbf.blobs_kept_ratio": ("ratio", "lower"),
    "pbf.read_s": ("s", "lower"),
    "pbf.arrow_s": ("s", "lower"),
    "query.compile_s": ("s", "lower"),
    "engine.build_s": ("s", "lower"),
    "engine.py4j_calls": ("count", "lower"),
    "engine.action_s": ("s", "lower"),
    "engine.driver_gap_s": ("s", "lower"),
    "operators.geometry_s": ("s", "lower"),
    "operators.topology_s": ("s", "lower"),
    "operators.rings_s": ("s", "lower"),
    "engine.scan_s": ("s", "lower"),
    "engine.bronze_write_s": ("s", "lower"),
    "engine.bronze_bytes": ("bytes", "lower"),
    "engine.bronze_files": ("count", "lower"),
    "curate.build_s": ("s", "lower"),
    "curate.py4j_calls": ("count", "lower"),
    "curate.normalize_s": ("s", "lower"),
    "curate.exact_dedup_s": ("s", "lower"),
    "curate.fuzzy_dedup_s": ("s", "lower"),
    "curate.quality_filter_s": ("s", "lower"),
    "curate.domain_cap_s": ("s", "lower"),
    "curate.substring_dedup_s": ("s", "lower"),
    "curate.rows_in": ("count", "higher"),
    "curate.rows_out": ("count", "higher"),
    "curate.dedup_drop_ratio": ("ratio", "higher"),
    "sinks.write_s": ("s", "lower"),
    "sinks.manifest_s": ("s", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.files": ("count", "lower"),
    "bytes_out_per_byte_in": ("ratio", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.executor_run_s": ("s", "lower"),
    "spark.shuffle_read_bytes": ("bytes", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.spill_bytes": ("bytes", "lower"),
    "spark.task_p50_ms": ("ms", "lower"),
    "spark.task_max_ms": ("ms", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.gc_s": ("s", "lower"),
    "trace.overhead_ratio": ("ratio", "lower"),
}
# a traced run starts no further Spark re-run for a per-layer reading after
# this many seconds, so it ends well inside the 180 s a run may take
TRACE_EXTRAS_BY_S = 130.0
# the run is stopped after this many seconds, so that it and the reaping of
# what it started end inside the 180 s a run may take
RUN_LIMIT_S = 170.0
# layers a workload does not exercise report 0, with the reason
NOT_EXERCISED = {
    "osm_query_mix": (
        ("curate.", "sinks."),
        "the query mix runs no curation step and writes to the noop sink",
    ),
    "curate_corpus": (
        ("pbf_codec.", "pbf.", "query.", "engine.", "operators."),
        "the corpus workload reads no PBF and runs no OSM query",
    ),
}


def hermetic_env() -> None:
    """Point everything Spark and its Python workers write at the
    checkout's ``.perfbench`` directory, before pyspark is imported."""
    for d in ("cache", "out", "tmp", "spark-local", "traces", "runs"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = os.environ
    # Python data-source workers import osmdatapy_spark from the checkout
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(HERE), env.get("PYTHONPATH", "")) if p
    )
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    env.setdefault("SPARK_LOCAL_DIRS", str(WORK / "spark-local"))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    env["SPARK_GRAFT_UI"] = "false"
    env["TMPDIR"] = str(WORK / "tmp")
    warehouse = shlex.quote(f"spark.sql.warehouse.dir={WORK / 'warehouse'}")
    # no JVM perf-data file under /tmp: the run writes only in the checkout
    java_opts = shlex.quote(f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData")
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf {warehouse} --driver-java-options {java_opts} pyspark-shell"
    )
    os.chdir(WORK)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit; Python
    workers that outlive it are stopped by ``reaper.py``."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:
            pass  # the JVM may already have closed the connection
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail(walls: list[float]) -> tuple[str, float, int] | None:
    """Highest of p50/p75/p90/p95/p99 with at least ten samples beyond it."""
    n = len(walls)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return f"p{p}", statistics.quantiles(walls, n=100)[p - 1], n
    return None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    if not (ROOT / "osmdatapy_spark" / "__init__.py").is_file():
        print(f"perfbench: no osmdatapy_spark package under {ROOT}", file=sys.stderr)
        return 2
    hermetic_env()
    sys.path.insert(0, str(ROOT))
    from host import Stamp, vm_hwm_mb
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    stamp = Stamp()
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](str(WORK), tracer)
    gen_s = wl.prepare(args.seed)

    from osmdatapy_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    ops = []
    try:
        wl.open(spark)
        op_id = 0
        t1 = time.perf_counter()
        for key in wl.round():
            ops.append(("warm", wl.run(key, op_id, traced=False)))
            op_id += 1
        first_use_s = time.perf_counter() - t1

        deadline = time.perf_counter() + args.seconds
        while True:
            for key in wl.round():
                if args.trace:
                    ops.append(("timed", wl.run(key, op_id, traced=False)))
                    op_id += 1
                ops.append(("timed", wl.run(key, op_id, traced=bool(args.trace))))
                op_id += 1
            if time.perf_counter() >= deadline:
                break
        loop_ops = [o for phase, o in ops if phase == "timed"]
        layers = {}
        if args.trace:
            layers = {**wl.layers(loop_ops, t_main + TRACE_EXTRAS_BY_S), **wl.spark_layers()}
    finally:
        peak_rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        stop_spark(spark)
        wl.cleanup()
    host = stamp.finish()

    all_ops = [o for _, o in ops]
    failed = [o for o in all_ops if o.error]
    untraced = [o for o in loop_ops if not o.traced]
    walls = [o.wall_s for o in untraced]
    setup_s = start_s + first_use_s
    print(f"workload {wl.name}  seed {args.seed}  cpus {os.environ['SPARK_GRAFT_CPUS']}  trace {args.trace}")
    print(f"inputs generated in {gen_s:.3f} s (0 = cached; not part of setup_s)")
    print(f"host loadavg start {host['loadavg_start']} end {host['loadavg_end']}  steal {host['steal_pct']} %")
    for o in failed:
        print(f"FAILED op {o.key}: {o.error}")

    if args.trace:
        traced = [o for o in loop_ops if o.traced]
        metrics = dict.fromkeys(PER_LAYER, 0.0)
        metrics.update(layers)
        metrics["session.start_s"] = start_s
        metrics["session.first_use_s"] = first_use_s
        metrics["session.peak_rss_mb"] = peak_rss
        metrics["trace.overhead_ratio"] = sum(o.wall_s for o in traced) / sum(walls)
        metrics["bytes_out_per_byte_in"] = metrics["sinks.bytes_written"] / wl.input_bytes
        prefixes, why = NOT_EXERCISED[wl.name]
        print(f"layers reported as 0 here ({', '.join(prefixes)}): {why}")
        if wl.skipped:
            print(f"reported as 0, not measured (run passed {TRACE_EXTRAS_BY_S:.0f} s): {', '.join(wl.skipped)}")
        print(f"span accounting error {tracer.accounting_error():.2e} (sum of self times vs op wall)")
        for name, a in sorted(tracer.by_name().items()):
            print(f"  span {name:<34} n={a['count']:<3} total {a['total_s']:9.4f} s  self {a['self_s']:9.4f} s")
        trace_path = WORK / "traces" / f"{wl.name}-s{args.seed}.json"
        tracer.dump(str(trace_path))
        print(f"spans written to {trace_path.relative_to(ROOT)}")
        table = PER_LAYER
    else:
        by_key: dict[str, list[float]] = {}
        for o in untraced:
            by_key.setdefault(o.key, []).append(o.wall_s)
        p50 = {k: statistics.median(v) for k, v in by_key.items()}
        metrics = {
            "setup_s": setup_s,
            # each op kind counts once: the median of a mix of unlike shapes
            # would be the wall of whichever shape sorts into the middle
            "op_p50_s": statistics.geometric_mean(p50.values()),
            "items_per_s": sum(o.items for o in untraced) / sum(walls),
        }
        for k, v in p50.items():
            print(f"  op {k:<22} p50 {v:8.4f} s  ({len(by_key[k])} ops)")
        print(f"peak RSS {peak_rss:.1f} MiB (benchmark process + driver JVM)")
        t = tail(walls)
        if t:
            print(f"op_tail_s {t[1]:.4f} s  ({t[0]} of {t[2]} ops)")
        else:
            print(f"op_tail_s not reported: {len(walls)} ops leave fewer than 10 beyond p50")
        print(f"items are {wl.item_unit}; {len(walls)} timed ops in {len(walls) // len(wl.round())} rounds")
        table = END_TO_END
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {table[name][0]}")
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "host": host,
        "gen_s": gen_s, "ops": [(p, o.key, o.wall_s, o.error) for p, o in ops],
        "metrics": metrics,
    }
    with open(WORK / "runs" / f"{wl.name}-s{args.seed}-t{args.trace}.json", "w") as f:
        json.dump(record, f)
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(all_ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": table[k][0]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    from reaper import CHILD_ENV, supervise

    if os.environ.get(CHILD_ENV):
        sys.exit(main(sys.argv[1:]))
    sys.exit(supervise(__file__, sys.argv[1:], RUN_LIMIT_S))
