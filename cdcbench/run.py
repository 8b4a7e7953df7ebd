#!/usr/bin/env python3
"""The CDC benchmark: seeded workloads against the engine in this checkout.

One run::

    python3 cdcbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

runs one workload at ``local[nproc]`` in this process, checks the
engine's output against a DuckDB oracle over the same inputs, prints a
``CDCBENCH_REPORT`` line (provenance, every metric with its unit, the
output check, and with ``--trace 1`` the layer table), and ends with
one JSON line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

whose metrics are the end-to-end metrics of ``BENCHMARK.json`` with
``--trace 0`` and its per-layer metrics with ``--trace 1``.

Every workload, untraced and traced, with the output checks, the
tracing overhead and the 1-CPU scaling leg, in one command::

    python3 cdcbench/run.py --workload all --seed 1

Everything a run writes goes under ``.cdcbench/`` at the checkout root;
the run's working tables and inputs are deleted when it ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".cdcbench")
REPORT = "CDCBENCH_REPORT "


# every end-to-end number a run reports, with its unit; the result line
# carries the ones BENCHMARK.json gates, the report line all of them
UNITS = {
    "setup_s": "s", "events_per_s": "ev/s", "read_full_s": "s",
    "freshness_p50_s": "s", "freshness_p90_s": "s", "lookup_p50_s": "s",
    "lookup_p90_s": "s", "feed_p50_s": "s", "steady_epoch_s": "s", "heal_epoch_s": "s",
    "peak_rss_mb": "MiB", "failed_ratio": "ratio", "scaling_eff": "ratio",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spec_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def provenance(seed: int, cpus: int, java: str) -> dict:
    import duckdb
    import pyspark

    model = next((line.split(":", 1)[1].strip() for line in open("/proc/cpuinfo")
                  if line.startswith("model name")), "unknown")
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=60)
        commit = r.stdout.strip() or None
    h = hashlib.sha256()
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, "filipo_spark"))):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return {"nproc": cpus, "cpu_model": model, "java": java,
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0], "seed": seed, "git_commit": commit,
            "engine_sha256": h.hexdigest()[:16]}


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python into ``work``."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["FILIPO_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def start_spark(cpus: int, work: str):
    from filipo_spark.session import get_spark

    spark = get_spark("cdcbench", cores=cpus, extra_conf={
        "spark.driver.extraJavaOptions":
            f"-XX:ActiveProcessorCount={cpus} -Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_generator(workload: str, seed: int, seconds: float, scale: float, cpus: int,
                    work: str, rate: float | None = None):
    """Start building the workload's inputs in a child process (its
    memory stays out of the driver's peak RSS).  Returns ``(size, spec,
    process)``; ``inputs_of`` waits for it."""
    import workloads

    size = dict(workloads.SIZES[workload])
    if rate:
        size["rate"] = rate
    for k in ("events", "conv"):
        if k in size:
            size[k] = max(90, int(size[k] * scale))
    if workload == "drift_heal":
        size["events"] -= size["events"] % size["epochs"]
    spec = dict(size, dir=os.path.join(work, "inputs"), seed=seed, workload=workload,
                threads=cpus, tag=f"s{seed}",
                segments=max(12, int(size.get("rate", 0) * seconds)))
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), json.dumps(spec)],
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    return size, spec, proc


def inputs_of(spec: dict, proc) -> dict:
    out, err = proc.communicate(timeout=600)
    if proc.returncode:
        raise RuntimeError(f"input generation failed:\n{err[-4000:]}")
    return dict(json.loads(out.strip().splitlines()[-1]), tag=spec["tag"])


def run_one(args) -> int:
    t_run = time.perf_counter()
    cpus = nproc()
    sys.path.insert(0, ROOT)
    try:
        import filipo_spark  # noqa: F401 — the engine must be importable
    except ImportError as e:
        print(f"cdcbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 3
    work = os.path.join(OUT, f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    e2e_units, layer_units = spec_metrics()
    import layers
    import spans
    import workloads

    spark = gen = None
    try:
        # the inputs are generated while the session starts; set-up time
        # is the session start plus the workload's own set-up
        size, spec, gen = start_generator(args.workload, args.seed, args.seconds,
                                          args.scale, cpus, work, args.rate)
        t = time.perf_counter()
        spark = start_spark(cpus, work)
        session_s = time.perf_counter() - t
        inputs = inputs_of(spec, gen)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        tracer = spans.Tracer(spark) if args.trace else spans.NullTracer()
        if args.trace:
            tracer.install()
        ctx = workloads.Ctx(spark, cpus, work, inputs, size, tracer, session_s)
        out = workloads.WORKLOADS[args.workload](ctx)
        table = None
        if args.trace:
            tracer.uninstall()
            out.layers, table = layers.compute(ctx, out, tracer)
            os.makedirs(OUT, exist_ok=True)
            tracer.dump(os.path.join(OUT, f"spans-{args.workload}-{args.seed}.jsonl"))
        stop_spark(spark)
        spark = None
        if args.scaling and args.workload == "replay_and_tail":
            out.report["scaling"] = scaling_leg(work, out.metrics["events_per_s"], cpus)
            if "scaling_eff" in out.report["scaling"]:
                out.metrics["scaling_eff"] = out.report["scaling"]["scaling_eff"]
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not out.correct:  # a failed output check fails every operation of the run
        out.failed = out.attempted
    out.metrics["failed_ratio"] = out.failed / max(out.attempted, 1)
    chosen = out.layers if args.trace else out.metrics
    units = layer_units if args.trace else e2e_units
    report = {
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
        "scale": args.scale, "size": size, "provenance": provenance(args.seed, cpus, java),
        "correct": out.correct, "attempted": out.attempted, "failed": out.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in out.metrics.items()},
        "layers": out.layers, "layer_table": table, "report": out.report,
        "run_s": time.perf_counter() - t_run,
    }
    print(REPORT + json.dumps(report, default=str), flush=True)
    print(json.dumps({
        "correct": bool(out.correct), "attempted": int(out.attempted),
        "failed": int(out.failed),
        "metrics": {k: {"value": float(chosen.get(k, 0.0)), "unit": u}
                    for k, u in units.items()},
    }), flush=True)
    return 0


def scaling_leg(work: str, events_per_s: float, cpus: int) -> dict:
    """Replay the same WAL pinned to one CPU (taskset plus
    ``-XX:ActiveProcessorCount=1``) in a fresh process, after every other
    measurement of the run; efficiency = (ev/s at nproc / ev/s at 1) / nproc."""
    cmd = [sys.executable, os.path.abspath(__file__), "--scaling-leg", work]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", str(min(os.sched_getaffinity(0)))] + cmd
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if r.returncode:
        return {"error": r.stderr[-2000:]}
    one = json.loads(r.stdout.strip().splitlines()[-1])
    return dict(one, events_per_s_n=events_per_s, n=cpus,
                scaling_eff=events_per_s / one["events_per_s_1"] / cpus)


def scaling_leg_main(work: str) -> int:
    from filipo_spark import replay
    from filipo_spark.table.icelet import IceletTable

    import workloads

    spark = start_spark(1, work)
    try:
        size = workloads.SIZES["replay_and_tail"]
        log = spark.read.parquet(os.path.join(work, "inputs", "wal.parquet"))
        lo, hi, n = log.selectExpr("min(lsn)", "max(lsn)", "count(*)").first()
        rates = []
        for rep in range(2):  # the first replay is the warm-up
            table = IceletTable.create(os.path.join(work, f"one-{rep}"),
                                       n_buckets=size["buckets"])
            t = time.perf_counter()
            replay.run_replay(spark, table, log, batch_size=(hi - lo) // size["epochs"] + 1,
                              bounds=(lo, hi, n))
            rates.append(n / (time.perf_counter() - t))
    finally:
        stop_spark(spark)
    print(json.dumps({"events_per_s_1": rates[-1]}))
    return 0


def run_all(args) -> int:
    """Every workload untraced and traced, as child runs of this script."""
    import workloads

    rows, ok = [], True
    for w in workloads.WORKLOADS:
        reports = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed",
                   str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace),
                   "--scale", str(args.scale)]
            if trace == 0 and w == "replay_and_tail" and args.scaling:
                cmd += ["--scaling", "1"]
            r = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
            rep = next((json.loads(line[len(REPORT):]) for line in r.stdout.splitlines()
                        if line.startswith(REPORT)), None)
            if rep is None:
                print(f"{w} trace={trace} failed:\n{r.stderr[-3000:]}", file=sys.stderr)
                ok = False
                continue
            reports[trace] = rep
            ok = ok and rep["correct"]
        rows.append((w, reports))
    for w, reports in rows:
        print(f"\n== {w} ==")
        plain, traced = reports.get(0), reports.get(1)
        if plain:
            print(f"  output check: {'PASS' if plain['correct'] else 'FAIL'}  "
                  f"attempted={plain['attempted']} failed={plain['failed']}")
            for k, m in plain["metrics"].items():
                print(f"  {k:<18} {m['value']:>14.4f} {m['unit']}")
            if "scaling" in plain["report"]:
                print(f"  scaling leg        {json.dumps(plain['report']['scaling'])}")
        if traced:
            lt = traced["layer_table"]
            print(f"  layer table (traced): wall {lt['wall_s']:.3f} s, "
                  f"layers {lt['covered_s']:.3f} s, coverage {lt['coverage']:.3f}, "
                  f"unattributed {lt['unattributed_s']:.3f} s")
            for layer, r in sorted(lt["layers"].items()):
                print(f"    {layer:<10} self {r['self_s']:8.3f} s  spark "
                      f"{r['spark_s']:8.3f} s  spans {r['spans']}")
            for k, v in traced["layers"].items():
                print(f"    {k:<32} {v:.6g}")
            if plain:
                base = plain["metrics"]["steady_epoch_s"]["value"]
                over = traced["metrics"]["steady_epoch_s"]["value"] / base - 1 if base else 0.0
                print(f"  tracing overhead (steady_epoch_s, traced vs untraced): {over:+.1%}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the benchmark's tests use a small one)")
    ap.add_argument("--rate", type=float, default=None,
                    help="replay_and_tail: offered segment rate per second, to measure "
                         "the tail's sustainable rate (default: the workload's own)")
    ap.add_argument("--scaling", type=int, choices=(0, 1), default=None,
                    help="replay_and_tail: also run the 1-CPU leg behind scaling_eff "
                         "(default: on with --workload all, off otherwise)")
    ap.add_argument("--scaling-leg", help=argparse.SUPPRESS)
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    if args.scaling_leg:
        sys.path.insert(0, ROOT)
        prepare_env(args.scaling_leg)
        return scaling_leg_main(args.scaling_leg)
    if args.workload == "all":
        args.scaling = 1 if args.scaling is None else args.scaling
        return run_all(args)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    try:
        return run_one(args)
    except Exception:  # noqa: BLE001 — report the failure, print no result
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
