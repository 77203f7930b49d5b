"""nous-spark benchmark: one workload per invocation, one JSON result line.

Usage (from the repository root):

    python3 kgbench/run.py --workload build_boilerplate --seed 1 --seconds 10 --trace 0

Workloads: ``build_boilerplate`` and ``build_dense`` (see ``workloads.py``).

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics from a separate traced run.
Everything the run writes goes under ``.kgbench_work/`` in the current
directory, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "1g"
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, so a slow run shows where its time went."""
    print(f"kgbench {time.perf_counter() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env(work: str) -> None:
    """Fit the Spark process to this host and keep its files in ``work``.
    Must run before the JVM starts: it and its Python workers inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["NOUS_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    sys.path[:0] = [ROOT, HERE]


def session(work: str, cores: int, event_log: bool):
    from nous_spark.session import get_spark

    import sparklog

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: peak_rss_mb then tracks everything
        # but the heap's adaptive sizing, which varies run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
        ),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(sparklog.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
    return get_spark(app_name="kgbench", cores=cores, extra_conf=conf)


def measure(wl, spark, seconds: float) -> dict:
    """Closed loop, one client: the next op starts when the last returns,
    and ops start until ``seconds`` have passed."""
    lat: list[float] = []
    attempted = failed = 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        attempted += 1
        try:
            wall = wl.op(spark, attempted - 1)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        log(f"build: {wall:.3f}s")
        lat.append(wall)
    return {"lat": lat, "attempted": attempted, "failed": failed}


def end_to_end(wl, work: str, args) -> tuple[dict, dict]:
    """One set-up (session start, corpus, warm-up build), timed; the closed
    loop; memory; then the checks."""
    from workloads import CORES

    import sparklog

    t0 = time.perf_counter()
    spark = session(work, CORES, event_log=False)
    wl.setup(spark)
    setup = time.perf_counter() - t0
    log(f"set up: {setup:.2f}s")
    loop = measure(wl, spark, args.seconds)
    jvm_mb, py_mb = sparklog.spark_memory_mb()
    log(f"measured {loop['attempted']} ops; JVM peak {jvm_mb:.0f} MiB, Python workers {py_mb:.0f} MiB")
    triples = wl.has_fact_edges(spark) if loop["lat"] else 0
    verdict = run_check(wl, spark)
    log(f"checked: {verdict}")
    spark.stop()
    return e2e_metrics(setup, loop, triples, verdict, jvm_mb + py_mb, wl.N_PAGES, CORES)


def e2e_metrics(
    setup: float, loop: dict, triples: int, verdict: dict, rss: float, pages: int, cores: int
) -> tuple[dict, dict]:
    """End-to-end metrics and the result status of one untraced run that
    built ``pages`` pages into ``triples`` HAS_FACT edges per build."""
    build = statistics.median(loop["lat"]) if loop["lat"] else float("nan")
    metrics = {
        "setup_s": setup,
        "build_s": build,
        "pages_per_core_s": pages / build / cores,
        "triples_per_core_s": triples / build / cores,
        "triple_precision": verdict["precision"],
        "triple_recall": verdict["recall"],
        "oracle_match_ratio": verdict["oracle_ok"] / max(verdict["oracle_n"], 1),
        "ok_ratio": len(loop["lat"]) / loop["attempted"],
        "peak_rss_mb": rss,
    }
    status = {
        "correct": verdict["correct"] and loop["failed"] == 0,
        "attempted": loop["attempted"] + verdict["oracle_n"],
        "failed": loop["failed"] + verdict["oracle_n"] - verdict["oracle_ok"],
    }
    return metrics, status


def per_layer(wl, work: str) -> tuple[dict, dict]:
    """The traced part in a warmed 4-core session with the event log on,
    then the 1-core leg in a warmed session of its own."""
    from workloads import CORES

    import sparklog

    spark = session(work, CORES, event_log=True)
    app_id = spark.sparkContext.applicationId
    wl.setup(spark)
    log("set up")
    measured, walls, window = wl.trace(spark)
    log(f"traced: {measured['trace.overhead_s']:.3f}s over the untraced build")
    verdict = run_check(wl, spark)
    log(f"checked: {verdict}")
    spark.stop()

    spark = session(work, 1, event_log=True)
    master = spark.sparkContext.master
    eff = wl.scaling_leg(spark)
    spark.stop()
    log(f"1-core leg on {master}: {eff:.3f}")

    events = sparklog.read_events(sparklog.event_log_path(os.path.join(work, "eventlog"), app_id))
    groups = sparklog.group_metrics(events, (window[0], window[0] + window[1]))
    metrics = layer_metrics(measured, walls, groups, window[1], eff, CORES)
    status = {
        "correct": verdict["correct"],
        "attempted": verdict["oracle_n"],
        "failed": verdict["oracle_n"] - verdict["oracle_ok"],
    }
    return metrics, status


def layer_metrics(measured: dict, walls: dict, groups: dict, wall: float, eff: float, cores: int) -> dict:
    """Per-layer metrics of one traced run: ``groups`` holds the job groups
    of the traced build only, which took ``wall`` seconds."""
    from workloads import stage_layer_metrics

    metrics = {**measured, **stage_layer_metrics(walls, groups)}
    busy = sum(g["run_s"] for g in groups.values())
    metrics["spark.core_busy_ratio"] = busy / (wall * cores)
    metrics["spark.scaling_eff_1to4"] = eff
    return metrics


def run_check(wl, spark) -> dict:
    try:
        return wl.check(spark)
    except Exception:  # noqa: BLE001 — a crashed check is a failed check
        traceback.print_exc()
        return {"precision": 0.0, "recall": 0.0, "oracle_ok": 0, "oracle_n": 1, "correct": False}


def render(spec: dict, section: str, metrics: dict, status: dict) -> dict:
    """The result line: exactly the metrics ``BENCHMARK.json`` lists for
    ``section``, each with its unit."""
    names = [m["name"] for m in spec[section]]
    extra, missing = set(metrics) - set(names), set(names) - set(metrics)
    if extra or missing:
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json {section}: extra {sorted(extra)}, missing {sorted(missing)}"
        )
    return {
        "correct": bool(status["correct"]),
        "attempted": int(status["attempted"]),
        "failed": int(status["failed"]),
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in spec[section]},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nous_spark")):
        print(f"kgbench: no nous_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload](work, args.seed)
        if args.trace:
            metrics, status = per_layer(wl, work)
            line = render(spec, "per_layer", metrics, status)
        else:
            metrics, status = end_to_end(wl, work, args)
            line = render(spec, "end_to_end", metrics, status)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    print(json.dumps(line))
    return 0


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it, instead of
    leaving it to exit on its own after this process does."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
