"""Benchmark of the redshift_etl_spark engine on ``local[N]``, N the
usable cores: a batch mix of star views, curation loops and SCD1 loads,
and the CTR stream.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seconds 10

Run it from a checkout of the repository: it imports the engine from the
directory above this one and keeps every file it writes under
``.perfbench/`` there. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer ones (see
BENCHMARK.json). The lines before it name every metric with its unit,
the wall-clock latencies, plus a ``# record`` line with the session shape
and host load.

The gated cost is the engine's CPU time (``cpu_s``), not wall time: on a
four-core guest of a shared host, ten runs of the same code spread their
pass wall time over an interquartile range of half its median, with the
load of other guests. Wall-clock latencies are printed and recorded, but
not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from workloads import WORKLOADS, Context, CpuMeter, steal_share, steal_ticks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DATA_VERSION = "v1"
SETUPS = 5  # session set-ups per run; setup_s is their median

def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, from
    BENCHMARK.json, the one list of what a run must report."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _ensure_star_data() -> str:
    """Base tables, written once per checkout and shared by runs."""
    import datagen

    out = os.path.join(WORK, f"data-{DATA_VERSION}", "star")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = f"{out}.tmp-{os.getpid()}"
        datagen.write_star_tables(tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:  # another run got there first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _jvm_opts(tmp: str) -> str:
    # a fixed set of JIT compiler threads, which CpuMeter counts apart
    return (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            "-XX:-UseDynamicNumberOfCompilerThreads")


def _session_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": _jvm_opts(os.path.join(run_dir, "tmp")),
    }


def _setup(cpus: int, run_dir: str, star_dir: str):
    """Start the session SETUPS times (the first launches the JVM), each
    followed by a first action; keep the last session."""
    from redshift_etl_spark import session

    conf = _session_conf(run_dir)
    starts, totals = [], []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = session.get_spark(
            app_name="perfbench", master=f"local[{cpus}]",
            shuffle_partitions=cpus, extra_conf=conf,
        )
        t1 = time.perf_counter()
        spark.read.parquet(os.path.join(star_dir, "nation.parquet")).count()
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        totals.append(t2 - t0)
    return spark, starts, totals


def _shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _detect_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _run_one(name, ctx, setup_s, session_start_s, cold_s):
    """Run one workload; returns (result line dict, record dict)."""
    from spark_probe import jvm_hwm_mb
    from stats import check_metric_names, error_rate

    wl = WORKLOADS[name](ctx)
    t0 = time.perf_counter()
    steal0 = steal_ticks()
    wl.run()
    steal1 = steal_ticks()
    run_s = time.perf_counter() - t0
    attempted, failed = wl.attempted_failed()
    e2e, info = wl.end_to_end()
    e2e = {"setup_s": setup_s, **e2e}
    record = {
        "workload": name, "seed": ctx.seed, "seconds": ctx.seconds,
        "trace": int(ctx.trace), "run_s": round(run_s, 3), **info,
        "steal_share": steal_share(steal0, steal1),
        "error_rate": error_rate(attempted, failed),
        "errors": sorted({o.error for o in getattr(wl, "ops", []) if o.error}),
    }
    if ctx.trace:
        layers = wl.per_layer()
        record.update(getattr(wl, "trace_info", {}))
        layers["session.start_s"] = session_start_s
        layers["session.cold_start_s"] = cold_s
        layers["session.jvm_hwm_mb"] = jvm_hwm_mb(ctx.spark)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u}
                   for k, u in _units("per_layer").items()}
        record["end_to_end"] = e2e
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in _units("end_to_end").items()}
    check_metric_names(metrics)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    ops = [[o.name, o.pass_no, o.traced, o.ok, o.latency, o.cpu, o.jit,
            o.layers]
           for o in getattr(wl, "ops", [])]
    return result, record, ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    # the engine must come from this checkout; fail before any output
    import redshift_etl_spark  # noqa: F401

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every process keeps its temporary files inside the checkout: Python
    # and its Spark workers through TMPDIR, the JVM that spark-submit
    # starts to build the driver command through SPARK_LAUNCHER_OPTS, and
    # Spark's block and shuffle files through SPARK_LOCAL_DIRS, which
    # would otherwise override spark.local.dir if set by the caller
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_opts(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile

    tempfile.tempdir = None

    cpus = _detect_cpus()
    spark = None
    try:
        star_dir = _ensure_star_data()
        spark, starts, totals = _setup(cpus, run_dir, star_dir)
        from stats import median

        setup_s, start_s, cold_s = median(totals), median(starts), totals[0]
        shape = {
            "cpus": cpus,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "loadavg": list(os.getloadavg()),
            "spark_version": spark.version,
            "setup_samples_s": [round(t, 3) for t in totals],
        }
        shape["shape_ok"] = shape["default_parallelism"] == cpus
        names = list(WORKLOADS) if args.workload == "all" else [args.workload]
        results = {}
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        meter = CpuMeter(int(jvm_pid))
        for name in names:
            ctx = Context(spark, args.seed, args.seconds, cpus,
                          bool(args.trace), star_dir,
                          os.path.join(run_dir, name), meter)
            os.makedirs(ctx.run_dir, exist_ok=True)
            result, record, ops = _run_one(name, ctx, setup_s, start_s, cold_s)
            record.update(shape)
            record["loadavg_end"] = list(os.getloadavg())
            results[name] = result
            for k, m in result["metrics"].items():
                print(f"{name} {k} = {m['value']:.6g} {m['unit']}")
            for k, what in (("wall_s", ""), ("op_p50_s", ""),
                            ("op_tail_s", f"p{record['tail_percentile']:g}, ")):
                print(f"{name} {k} = {record[k]:.6g} s (wall clock, {what}"
                      "not gated)")
            print(f"{name} oracle: {'MATCH' if result['correct'] else 'MISMATCH'}"
                  f" ({result['failed']} of {result['attempted']} operations "
                  f"failed; error_rate {record['error_rate']:.4g})")
            print("# record " + json.dumps(record, sort_keys=True))
            out_dir = os.path.join(WORK, "results")
            os.makedirs(out_dir, exist_ok=True)
            stem = f"{name}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
            with open(os.path.join(out_dir, stem + ".json"), "w") as f:
                json.dump({"record": record, "result": result, "ops": ops,
                           "span_self_s": ctx.tracer.self_by_name(),
                           "spans": ctx.tracer.to_json()}, f)
    finally:
        if spark is not None:
            _shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    if len(results) == 1:
        final = next(iter(results.values()))
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": m for w, r in results.items()
                        for k, m in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
