#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {live,corpus} --seed N \
        --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout (any working directory works; paths are
resolved from this file). Generates the workload's inputs from the seed
(cached in ``.perfbench_cache/``), starts a SparkSession through the
engine's own factory, runs the workload and prints, as the last line of
stdout, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones and writes the spans to ``.perfbench_traces/``. On any failure it
names the workload and step on stderr and exits non-zero without a
result line.
"""

from __future__ import annotations

import time

PROC_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


class Step:
    """Names the step in progress, for the failure message."""

    name = "start"


def fail(workload: str, msg: str) -> None:
    print(f"perfbench: workload {workload!r} failed at step "
          f"{Step.name!r}: {msg}", file=sys.stderr, flush=True)
    sys.exit(1)


def hygiene(rundir: Path) -> int:
    """Environment the engine and its Python workers must see before
    ``zcode_iceberg_spark.session`` is imported."""
    cpus = min(4, len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    for sub in ("tmp", "local"):
        (rundir / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(rundir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(rundir / "local")
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    return cpus


def stray_jvms() -> list[str]:
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd.split(b"\0", 1)[0] and b"SparkSubmit" in cmd:
            out.append(pid)
    return out


def wait_for_stray_jvms(limit: float = 60.0) -> float:
    """A leftover Spark JVM from an earlier run competes for the cores:
    wait (bounded, fine-grained) for it to exit. Returns the time
    spent, which is not set-up time."""
    t0 = time.time()
    while stray_jvms() and time.time() - t0 < limit:
        time.sleep(0.2)
    return time.time() - t0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit, so that
    back-to-back runs never overlap."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, rundir: Path) -> dict:
    """One benchmark run; returns the result object."""
    wl = args.workload
    Step.name = "environment"
    cpus = hygiene(rundir)
    import gen
    import spans
    import workloads

    Step.name = "generate inputs"
    t_gen = time.time()
    shape = (workloads.live_shape(args.seconds) if wl == "live"
             else workloads.corpus_shape(args.smoke))
    inputs = gen.generate(wl, args.seed, shape, ROOT / ".perfbench_cache")
    t_gen = time.time() - t_gen
    Step.name = "wait for stray JVMs"
    t_wait = wait_for_stray_jvms()

    Step.name = "session start"
    steal0 = spans.steal_ticks()
    tracer = spans.Tracer(bool(args.trace))
    extra = {
        "spark.local.dir": str(rundir / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={rundir / 'tmp'}",
        "spark.sql.warehouse.dir": str(rundir / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        (rundir / "eventlog").mkdir()
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": str(rundir / "eventlog"),
                      "spark.eventLog.compress": "false"})
    from zcode_iceberg_spark import session

    spark = None
    try:
        with tracer.span("session.start"):
            spark = session.get_spark(app_name=f"perfbench-{wl}",
                                      master=f"local[{cpus}]", extra_conf=extra)
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1).count()
        session_s = time.time() - PROC_START - t_gen - t_wait

        Step.name = "run workload"
        run = workloads.Run(spark, tracer, rundir, inputs, args.seconds, ROOT, cpus)
        e2e = workloads.WORKLOADS[wl](run)

        Step.name = "collect metrics"
        pid = jvm_pid(spark)
        rss = (spans.vm_hwm_mb(pid) if pid else 0.0) + spans.vm_hwm_mb(os.getpid())
        steal = spans.steal_seconds(steal0)
        load1 = spans.load1()
        tracer.active = False
    finally:
        if spark is not None:
            Step.name = "stop session"
            stop_spark(spark)

    Step.name = "report"
    if args.trace:
        layer = {
            "session.start_s": session_s,
            "host.steal_s": steal,
            "host.load1": load1,
            **run.layer,
            **spans.event_log_metrics(rundir / "eventlog"),
        }
        out = ROOT / ".perfbench_traces"
        out.mkdir(exist_ok=True)
        tracer.dump(out / f"{wl}-s{args.seed}-p{os.getpid()}.json")
        # a layer the workload does not use reads 0
        metrics = {
            m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in BENCH["per_layer"]
        }
    else:
        e2e = {**e2e, "setup_s": session_s + spans.median(run.setup_rounds),
               "peak_rss_mb": rss}
        metrics = {
            m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
            for m in BENCH["end_to_end"]
        }
    info = {k: round(v, 4) if isinstance(v, float) else v
            for k, v in run.info.items()}
    print(f"# {wl} seed={args.seed} setup_rounds="
          f"{[round(x, 3) for x in run.setup_rounds]} session_s={session_s:.3f} "
          f"steal_s={steal:.2f} load1={load1:.2f} checks={run.checks} "
          f"phases={run.phases} {info}", flush=True)
    return {
        "correct": bool(run.checks) and all(run.checks.values()),
        "attempted": run.attempted,
        # an operation that raises ends the run (exit 1, step named)
        "failed": 0,
        "metrics": metrics,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in BENCH["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus inputs, for the smoke test")
    args = ap.parse_args()
    if not (ROOT / "zcode_iceberg_spark" / "__init__.py").exists() or not (
            ROOT / "tests" / "harness.py").exists():
        Step.name = "locate program"
        fail(args.workload,
             f"no zcode_iceberg_spark package or tests/harness.py under {ROOT}")
    rundir = ROOT / ".perfbench_run" / f"p{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        result = measure(args, rundir)
    except BaseException as exc:  # noqa: BLE001 - report and exit non-zero
        traceback.print_exc()
        fail(args.workload, f"{type(exc).__name__}: {exc}")
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
