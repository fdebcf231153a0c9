#!/usr/bin/env python3
"""Layered extraction benchmark for readur_spark.

One workload, one seed (the last line of stdout is the result JSON)::

    python3 perfbench/run.py --workload html_flagship --seed 1 --seconds 15 --trace 0

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics, from a traced pass made after
the timed loop of the same invocation, in a second session of the same JVM
with Spark's event log on.

Every workload over several seeds, with median, quartiles and n of each
metric (each invocation runs in its own process)::

    python3 perfbench/run.py --all --seeds 1,2,3,4,5 [--workloads text_only] [--trace 1]

The benchmark's own test: every workload once at sf0.001 size, traced, with
a negative control per output check::

    python3 perfbench/run.py --smoke

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: Driver (and, in local mode, executor) heap cap, well below a 15 GB
#: host's RAM (``session.get_spark`` defaults to 16g).
DRIVER_MEMORY = "2g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pin_environment(work: str) -> dict:
    """Keep every temp, spill and JVM file under ``work`` and export the
    checkout to the Python workers (they fail to import ``readur_spark``
    otherwise when started outside the checkout)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    inherited = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join([ROOT] + inherited),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return env


def start_spark(name: str, cores: int, work: str, events: str | None):
    from readur_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if events else "false",
    }
    if events:
        os.makedirs(events, exist_ok=True)
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(cores=cores, app_name=f"perfbench-{name}", extra_conf=conf)


def stop_jvm() -> None:
    """Shut the py4j gateway JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run_workload(
    name: str,
    seed: int,
    seconds: float,
    traced: bool,
    work_root: str,
    size: str = "full",
    negative_control: bool = False,
) -> dict:
    """Set up, warm up, time and check one workload in a fresh session."""
    from probes import RssSampler, quartiles, read_event_log, spark_counters
    from workloads import SIZES, WORKLOADS

    work = os.path.join(work_root, name)
    os.makedirs(work)
    events = os.path.join(work, "events") if traced else None
    cores = len(os.sched_getaffinity(0))

    t0 = time.perf_counter()
    spark = start_spark(name, cores, work, None)
    session_s = time.perf_counter() - t0
    detail: dict = {"workload": name, "seed": seed, "cores": cores, "session_s": session_s}
    layer: dict = {}
    try:
        wl = WORKLOADS[name](spark, work, seed, cores, SIZES[size])
        t0 = time.perf_counter()
        wl.materialize()
        materialize_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warm_up()
        warm_up_s = time.perf_counter() - t0
        setup_s = session_s + materialize_s + warm_up_s

        t0 = time.perf_counter()
        wl.prepare_oracle()
        detail["oracle_s"] = time.perf_counter() - t0
        # A full collection lets G1 give back the heap that set-up grew, so
        # peak_rss_mb follows the timed runs rather than set-up history.
        spark.sparkContext._jvm.System.gc()

        # Repetitions are started until their timed walls add up to
        # ``seconds``; the output checks between them are not counted.
        walls, loads, attempted, failed, measured = [], [], 0, 0, 0.0
        with RssSampler() as rss:
            while True:
                load_before = os.getloadavg()[0]
                attempted += 1
                t0 = time.perf_counter()
                try:
                    wall, ok = wl.timed_run()
                except Exception:
                    traceback.print_exc()
                    wall, ok = time.perf_counter() - t0, False
                loads.append([load_before, os.getloadavg()[0]])
                measured += wall
                if ok:
                    walls.append(wall)
                else:
                    failed += 1
                if measured >= seconds:
                    break
        median_wall = statistics.median(walls) if walls else math.nan
        metrics = {
            "docs_per_s": wl.n_docs / median_wall if walls else 0.0,
            "setup_s": setup_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        if traced and walls:
            # The tracing is a second session of the same JVM with the
            # event log on, set up and warmed up again, so that
            # trace.overhead_s compares against timed runs without it.
            spark.stop()
            spark = wl.spark = start_spark(name, cores, work, events)
            wl.materialize()
            wl.warm_up()
            layer, labels = wl.trace(median_wall)
        negative_ok = wl.negative_control() if negative_control else None
        detail.update(
            materialize_s=materialize_s,
            warm_up_s=warm_up_s,
            run_s=walls,
            run_s_quartiles=quartiles(walls) if walls else None,
            loadavg_1m_before_after=loads,
            input=wl.input_summary(),
        )
    finally:
        spark.stop()

    if layer:
        log = read_event_log(events)
        counters = spark_counters(log, labels)
        layer.update(wl.from_event_log(log))
        per_run = {
            "spark.jobs": counters["jobs"],
            "spark.stages": counters["stages"],
            "spark.tasks": counters["tasks"],
            "spark.task_busy_s": sum(counters["task_s"]),
            "shuffle.bytes_written": counters["shuffle_bytes"],
            "shuffle.records": counters["shuffle_records"],
        }
        layer.update({k: v / wl.trace_repeats for k, v in per_run.items()})
        detail["task_s_per_stage"] = counters["per_stage_task_s"]
    return {
        "metrics": metrics,
        "layer": layer,
        "layers": wl.layers,
        "attempted": attempted,
        "failed": failed,
        "negative_control_rejected": negative_ok,
        "detail": detail,
    }


def layer_metrics(spec: dict, measured: dict, layers: tuple[str, ...]) -> dict:
    """Every per-layer metric of the spec; a layer the workload does not
    exercise reads 0, a layer it does must have been measured."""
    from workloads import COMMON_LAYERS

    names = [m["name"] for m in spec["per_layer"]]
    unknown = sorted(set(measured) - set(names))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    out = {}
    for n in names:
        if n in measured:
            out[n] = measured[n]
        elif n.split(".")[0] in COMMON_LAYERS + layers:
            raise RuntimeError(f"per-layer metric {n} was not measured")
        else:
            out[n] = 0
    return out


def result_line(spec: dict, result: dict, traced: bool) -> dict:
    if traced:
        values = layer_metrics(spec, result["layer"], result["layers"])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = result["metrics"]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }


def new_work_root(tag: str) -> str:
    root = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return root


def remove_work_root(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(root))  # only when no other run uses it
    except OSError:
        pass


def run_one(args) -> int:
    spec = load_spec()
    work_root = new_work_root(args.workload)
    try:
        env = pin_environment(work_root)
        result = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work_root
        )
        result["detail"]["environment"] = env
        print(json.dumps(result["detail"], default=str), file=sys.stderr)
        print(json.dumps(result_line(spec, result, bool(args.trace))), flush=True)
    finally:
        stop_jvm()
        remove_work_root(work_root)
    return 0


def run_all(args) -> int:
    """Each workload × seed in its own process; prints median, quartiles and
    n per metric, and the run error share per workload."""
    from probes import quartiles

    spec = load_spec()
    names = (
        args.workloads.split(",")
        if args.workloads
        else [w["name"] for w in spec["workloads"]]
    )
    seeds = [int(s) for s in args.seeds.split(",")]
    logs = new_work_root("all")
    values: dict = {n: {} for n in names}
    runs = {n: {"attempted": 0, "failed": 0, "invocations_failed": 0} for n in names}
    for seed in seeds:
        for name in names:
            log_path = os.path.join(logs, f"{name}-{seed}.log")
            t0 = time.perf_counter()
            with open(log_path, "w") as log:
                proc = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--workload", name,
                     "--seed", str(seed), "--seconds", str(args.seconds),
                     "--trace", str(args.trace)],
                    stdout=subprocess.PIPE, stderr=log, text=True, timeout=600,
                )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                runs[name]["invocations_failed"] += 1
                print(f"{name} seed {seed}: exit {proc.returncode}, see {log_path}",
                      file=sys.stderr)
                continue
            res = json.loads(lines[-1])
            runs[name]["attempted"] += res["attempted"]
            runs[name]["failed"] += res["failed"]
            for metric, v in res["metrics"].items():
                values[name].setdefault(metric, (v["unit"], []))[1].append(v["value"])
            print(f"{name} seed {seed} ({time.perf_counter() - t0:.0f} s): " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in list(res["metrics"].items())[:4]),
                file=sys.stderr, flush=True)

    summary = {}
    print(f"{'workload':18} {'metric':34} {'unit':8} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'n':>3} {'iqr/med':>8}")
    for name in names:
        r = runs[name]
        share = r["failed"] / r["attempted"] if r["attempted"] else math.nan
        summary[name] = {"run_error_share": share, **r, "metrics": {}}
        for metric, (unit, vals) in values[name].items():
            q = quartiles(vals)
            spread = (q["q3"] - q["q1"]) / q["median"] if q["median"] else math.nan
            summary[name]["metrics"][metric] = {"unit": unit, **q, "iqr_over_median": spread}
            print(f"{name:18} {metric:34} {unit:8} {q['median']:12.4f} {q['q1']:12.4f} "
                  f"{q['q3']:12.4f} {q['n']:3d} {spread:8.4f}")
        print(f"{name:18} {'run_error_share':34} {'ratio':8} {share:12.4f} "
              f"{'':12} {'':12} {r['attempted']:3d}")
    if not any(r["invocations_failed"] for r in runs.values()):
        remove_work_root(logs)
    print(json.dumps(summary))
    return 0 if all(
        r["failed"] == 0 and r["invocations_failed"] == 0 for r in runs.values()
    ) else 1


def run_smoke(args) -> int:
    """Every workload once at sf0.001 size, traced: each output check must
    pass, each negative control must be rejected, and every metric of
    BENCHMARK.json must come out as a finite number with its unit."""
    from workloads import WORKLOADS

    spec = load_spec()
    with open(os.path.join(HERE, "meta.json")) as f:
        meta = json.load(f)
    problems = [
        f"meta.json has no layer {m['name'].split('.')[0]} for {m['name']}"
        for m in spec["per_layer"]
        if m["name"].split(".")[0] not in meta["layers"]
    ] + [
        f"meta.json does not describe workload {w['name']}"
        for w in spec["workloads"]
        if not meta["workloads"].get(w["name"], {}).get("in_benchmark_json")
    ]
    work_root = new_work_root("smoke")
    try:
        pin_environment(work_root)
        for name in WORKLOADS:
            t0 = time.perf_counter()
            result = run_workload(name, 1, 0, True, work_root, "smoke", True)
            for traced in (False, True):
                line = result_line(spec, result, traced)
                for metric, v in line["metrics"].items():
                    if not v.get("unit") or not math.isfinite(v["value"]):
                        problems.append(f"{name}: {metric} = {v}")
                if not line["correct"]:
                    problems.append(f"{name}: output check failed")
            for metric, v in result["metrics"].items():
                if v <= 0:
                    problems.append(f"{name}: end-to-end {metric} = {v}")
            if not result["negative_control_rejected"]:
                problems.append(f"{name}: the check accepted an altered output")
            print(f"{name}: {time.perf_counter() - t0:.1f} s, "
                  f"coverage {result['layer']['trace.coverage']:.3f}, "
                  f"{json.dumps(result['metrics'])}", flush=True)
    finally:
        stop_jvm()
        remove_work_root(work_root)
    for p in problems:
        print("FAIL", p)
    print("smoke: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload")
    mode.add_argument("--all", action="store_true")
    mode.add_argument("--smoke", action="store_true")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument(
        "--workloads", help="comma list for --all (default: BENCHMARK.json's)"
    )
    ap.add_argument(
        "--seconds", type=float, help="default: BENCHMARK.json's run_seconds"
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds is None:
        args.seconds = load_spec()["run_seconds"]
    if args.smoke:
        return run_smoke(args)
    if args.all:
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
