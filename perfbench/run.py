#!/usr/bin/env python3
"""Stream benchmark: seeded inputs, one workload per run, checked
outputs, one JSON result line.

    python3 perfbench/run.py --workload drain|paced --seed N \\
        --seconds S --trace 0|1

Run from the repository root. Everything it writes goes under
``.bench_work/`` there. The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Run detail (environment, noise record, counts, trace overhead) goes to
``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = ("drain", "paced")


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit for ``end_to_end`` or ``per_layer`` in BENCHMARK.json."""
    with open(BENCH, encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec[kind]}


def _prepare_env(work: str, cores: int) -> None:
    """Keep Spark, the JVM and Python temp files inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # -XX:-UsePerfData: each JVM (spark-submit's launcher, then the
    # driver) would otherwise write /tmp/hsperfdata_*.
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'


def session(work: str, cores: int):
    from rolaguard_data_collectors_spark.session import get_spark
    from rolaguard_data_collectors_spark.sources import register_sources

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.sql.streaming.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_sources(spark)
    return spark


def _stop_jvm() -> None:
    """End the JVM this process started and wait for it: the gateway
    exits when its stdin closes, and its Python workers go with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def per_layer(spark, args, res, inputs, work, log, session_s, setup_s, setup_end_unix) -> dict:
    """The per-layer metrics of a traced run (see ``layers``). Only the
    workload's batches that began after setup count."""
    import statistics

    import layers

    log.settle()
    prefix = "drain_" if args.workload == "drain" else "paced_"
    prog = log.progress(prefix, since=setup_end_unix)
    out = layers.engine_metrics(prog)
    if args.workload == "paced":
        out.update(layers.state_metrics(prog))
    legs_out, legs = layers.layer_metrics(spark, inputs["files"], work, log, layers.LEG_LINES,
                                          enrich_ran=args.workload == "paced")
    out.update(legs_out)
    calls = [c.end - c.start for c in res.detail["log"]]
    out["sink.call_ms"] = 1000.0 * statistics.median(calls) if calls else 0.0
    out["sink.bytes_per_msg"] = res.detail["queue_bytes"] / max(res.detail["envelopes"], 1)
    out["sources.backlog_end_msgs"] = res.detail["backlog_end_msgs"]
    out["setup.session_s"] = session_s
    out["setup.first_batch_s"] = setup_s - session_s
    res.detail.update(legs=legs, engine_batches_before_setup_end=(
        len(log.progress(prefix)) - len(prog)))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if importlib.util.find_spec("rolaguard_data_collectors_spark") is None:
        print("perfbench: rolaguard_data_collectors_spark not found under "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work, cores)

    import host
    import workloads

    # Inputs are made before the clock, without Spark.
    if args.workload == "drain":
        inputs = workloads.drain_inputs(args.seed, args.seconds, work)
    else:
        inputs = workloads.paced_inputs(args.seed, args.seconds, work)

    calib0 = host.calibrate_ms()
    steal0 = host.cpu_times()
    t_start = time.perf_counter()
    marks = {}

    def on_setup_done() -> float:
        marks["setup_end_unix"] = time.time()
        marks["setup_end"] = time.perf_counter()
        return marks["setup_end"]

    with host.RssSampler() as rss:
        spark = session(work, cores)
        session_s = time.perf_counter() - t_start
        log = None
        if args.trace:
            import layers

            log = layers.ProgressLog()
            spark.streams.addListener(log)
        if args.workload == "drain":
            res = workloads.drain(spark, inputs, work, on_setup_done, args.seconds)
        else:
            res = workloads.paced(spark, inputs, work, on_setup_done, args.seconds)
        setup_s = marks["setup_end"] - t_start
        res.metrics["setup_s"] = setup_s
        layer_values = {}
        if args.trace:
            layer_values = per_layer(spark, args, res, inputs, work, log, session_s, setup_s,
                                     marks["setup_end_unix"])
        env = host.environment(spark)
        spark.stop()
        _stop_jvm()
    layer_values["proc.peak_rss_mb"] = rss.peak_kb / 1024.0
    layer_values["host.steal_pct"] = host.steal_pct(steal0, host.cpu_times())
    calib = {"start": calib0, "end": host.calibrate_ms()}

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": env, "setup.session_s": session_s,
        "host_calib_ms": calib,
        "attempted": res.attempted, "failed": res.failed, "correct": res.correct,
        "end_to_end": res.metrics, "per_layer": layer_values,
        **{k: v for k, v in res.detail.items() if k not in ("log",)},
    }
    if args.trace:
        detail["trace_overhead"] = _overhead(res.metrics, args)
    _save(detail, args)

    kind = "per_layer" if args.trace else "end_to_end"
    try:
        line = result_line(res.correct, res.attempted, res.failed,
                           {**res.metrics, **layer_values}, kind)
    except KeyError as exc:
        print(f"perfbench: metric not measured: {exc}", file=sys.stderr)
        return 3
    print(line)
    return 0


def result_line(correct: bool, attempted: int, failed: int, values: dict, kind: str) -> str:
    """The one-line result: every ``kind`` metric of BENCHMARK.json by
    name with its unit (KeyError if one was not measured)."""
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": values[m], "unit": u}
                    for m, u in metric_units(kind).items()},
    })


def _results_dir() -> str:
    d = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(d, exist_ok=True)
    return d


def _save(detail: dict, args) -> None:
    """Side file per run; the newest untraced result of a workload is
    also kept as ``<workload>-latest.json`` for the overhead figure."""
    d = _results_dir()
    name = f"{args.workload}-trace{args.trace}-seed{args.seed}.json"
    for path in [os.path.join(d, name)] + (
        [os.path.join(d, f"{args.workload}-latest.json")] if not args.trace else []
    ):
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True, default=str)


def _overhead(traced: dict, args) -> dict:
    """Traced end-to-end figures against the newest untraced run of the
    same workload, as traced/untraced ratios."""
    path = os.path.join(_results_dir(), f"{args.workload}-latest.json")
    if not os.path.exists(path):
        return {"untraced_run": None}
    with open(path, encoding="utf-8") as fh:
        base = json.load(fh)
    return {
        "untraced_run": {"seed": base["seed"], "seconds": base["seconds"]},
        "traced": traced, "untraced": base["end_to_end"],
        "ratio": {k: traced[k] / base["end_to_end"][k]
                  for k in traced if base["end_to_end"].get(k)},
    }


if __name__ == "__main__":
    sys.exit(main())
