"""The benchmark's workloads, driven through the engine's public API.

``live``: the supervised live tick pipeline fed by an open-loop file
generator. ``corpus``: LLM-corpus curation (write path) and ANN probes
against memoized index state (read path). Each workload runs untimed
set-up and warm-up, then a measured window of ``seconds``, then its
correctness checks, and returns its end-to-end and per-layer metrics.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import math
import shutil
import threading
import time
from pathlib import Path

from spans import Tracer, median

# Fixed workload shapes. ``smoke`` shrinks only what keeps the smoke
# test short; the measured shapes never change with --seconds except the
# live feed's length (one file per generator period).
LIVE = {"keys": 45, "ticks_per_file": 500, "days": 30, "warm_files": 1,
        "period_s": 7.0, "lead_s": 0.25}
CORPUS = {"docs": 1000, "dup_share": 0.02, "near_dup_share": 0.05,
          "vectors": 1000, "dim": 64, "clusters": 10}
CORPUS_WRITE = ["dedup_ledger_build"]
CORPUS_PROBE = ["ann_ivf_incremental_persisted"]
SETUP_ROUNDS = 3
MIN_CYCLES = 3
WARM_CYCLES = 2
PROBES_PER_CYCLE = 2


class StepError(RuntimeError):
    """A failure inside a named workload step."""


def live_shape(seconds: int) -> dict:
    measured = max(2, math.ceil(seconds / LIVE["period_s"]))
    shape = {k: LIVE[k] for k in ("keys", "ticks_per_file", "days")}
    shape["files"] = LIVE["warm_files"] + measured
    return shape


def corpus_shape(smoke: bool) -> dict:
    return {**CORPUS, "docs": 300, "vectors": 300} if smoke else dict(CORPUS)


def load_harness(root: Path):
    """tests/harness.py, imported read-only from the checkout."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_harness", root / "tests" / "harness.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck(inputs: Path, tables: list[str], spill: Path, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '1GB'")
    con.execute(f"SET temp_directory = '{spill}'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'"
        )
    return con


class Run:
    """State shared by one benchmark process: the session, its tracer,
    the per-run scratch dir and the collected metrics."""

    def __init__(self, spark, tracer: Tracer, rundir: Path, inputs: Path,
                 seconds: int, root: Path, cpus: int) -> None:
        self.spark = spark
        self.cpus = cpus
        self.tracer = tracer
        self.rundir = rundir
        self.inputs = inputs
        self.seconds = seconds
        self.root = root
        self.attempted = 0
        self.checks: dict[str, bool] = {}
        self.layer: dict[str, float] = {}
        self.setup_rounds: list[float] = []
        self.info: dict[str, object] = {}
        self.phases: dict[str, float] = {}
        self._t = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the wall time since the previous mark (diagnostics)."""
        now = time.perf_counter()
        self.phases[phase] = round(now - self._t, 2)
        self._t = now

    def gc(self) -> None:
        """Collect JVM garbage between passes, outside timed regions."""
        self.spark._jvm.System.gc()

    def job_group(self, group: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)

    def jobs(self, group: str) -> int:
        if not self.tracer.enabled:
            return 0
        return len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def check(self, name: str, fn) -> None:
        """Run one correctness check; a mismatch is recorded, not raised."""
        try:
            fn()
            self.checks[name] = True
        except AssertionError as exc:
            print(f"# check {name} FAILED: {exc}", flush=True)
            self.checks[name] = False


# --------------------------------------------------------------- corpus
def ivf_state_dirs() -> list[Path]:
    """The persisted IVF index the ANN probe memoizes (scratch dirs
    under the run's TMPDIR)."""
    import tempfile

    return sorted(Path(tempfile.gettempdir()).glob("zspark_ivf_state_*"))


def run_corpus(run: Run) -> dict[str, float]:
    from pyspark.sql import functions as F

    from zcode_iceberg_spark.operators import similarity as sim_ops
    from zcode_iceberg_spark.operators import text as tx
    from zcode_iceberg_spark.sources import sinks
    from zcode_iceberg_spark.sources import tables
    from zcode_iceberg_spark.suite import llm, registry

    spark, tr = run.spark, run.tracer
    src = str(run.inputs)
    reg = registry()
    queries = CORPUS_WRITE + CORPUS_PROBE
    tr.wrap([sinks], "merge_upsert", "sources.sinks.merge_upsert")
    tr.wrap([sinks], "compact_parquet", "sources.sinks.compact_parquet")
    tr.wrap([sinks], "fold_tombstones", "sources.sinks.fold_tombstones")
    tr.wrap([tables, llm], "load_table", "sources.load_table")
    tr.wrap([tx], "minhash_signatures", "operators.text.minhash_signatures")
    tr.wrap([llm], "build_ivf_state", "suite.build_ivf_state")

    # set-up, repeated: the first probe call builds the persisted IVF
    # index and memoizes it. Removing the index files between rounds
    # makes the memo rebuild it (it re-validates its paths on every
    # call), so each round prices a fresh index build.
    probe = CORPUS_PROBE[0]
    for i in range(SETUP_ROUNDS):
        for d in ivf_state_dirs():
            shutil.rmtree(d)
        t0 = time.perf_counter()
        with tr.span("setup.round"):
            reg[probe].fn(spark, src)
        run.setup_rounds.append(time.perf_counter() - t0)
        if not ivf_state_dirs():
            raise StepError("set-up round left no persisted IVF index")
        run.gc()

    run.mark("setup_rounds")
    # warm-up: one checked pass of every query, untimed
    harness = load_harness(run.root)
    con = duck(run.inputs, ["documents", "embeddings"], run.rundir / "duck",
               run.cpus)
    t0 = time.perf_counter()
    for q in queries:
        run.check(q, lambda q=q: harness.compare(
            reg[q].fn(spark, src), con, reg[q].oracle, q))
    run.layer["session.warm_s"] = time.perf_counter() - t0
    con.close()
    run.gc()
    run.mark("warm_check")

    build: dict[str, list[float]] = {q: [] for q in queries}
    action: dict[str, list[float]] = {q: [] for q in queries}
    bjobs: dict[str, list[int]] = {q: [] for q in queries}
    ajobs: dict[str, list[int]] = {q: [] for q in queries}
    passes: dict[str, list[float]] = {"write": [], "probe": [], "write_traced": [],
                                      "probe_traced": []}

    def one(q: str, pid: str) -> float:
        run.attempted += 1
        t0 = time.perf_counter()
        run.job_group(f"{pid}:{q}:build")
        with tr.span(f"suite.build.{q}"):
            df = reg[q].fn(spark, src)
        t1 = time.perf_counter()
        run.job_group(f"{pid}:{q}:action")
        with tr.span(f"suite.action.{q}"):
            df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        build[q].append(t1 - t0)
        action[q].append(t2 - t1)
        bjobs[q].append(run.jobs(f"{pid}:{q}:build"))
        ajobs[q].append(run.jobs(f"{pid}:{q}:action"))
        return t2 - t0

    # untimed cycles until the measured ones start warm (a ledger build
    # still gets 20% faster over the first three cycles after the check)
    for _ in range(WARM_CYCLES):
        for q in queries:
            reg[q].fn(spark, src).write.format("noop").mode("overwrite").save()
        run.gc()

    # measured window: closed loop, one client; each cycle is one
    # write-path pass followed by two probes (a probe is short and
    # noisier), at least MIN_CYCLES of them.
    # A traced run alternates tracing off and on by cycle so the
    # overhead is measured in-run.
    deadline = time.perf_counter() + run.seconds
    cycle = 0
    while cycle < MIN_CYCLES or time.perf_counter() < deadline:
        traced = tr.enabled and cycle % 2 == 1
        tr.active = traced
        suffix = "_traced" if traced else ""
        tr.pass_id = f"cycle{cycle}"
        with tr.span("pass.write"):
            passes["write" + suffix].append(
                sum(one(q, f"c{cycle}w") for q in CORPUS_WRITE))
        run.gc()
        for k in range(PROBES_PER_CYCLE):
            with tr.span("pass.probe"):
                passes["probe" + suffix].append(
                    sum(one(q, f"c{cycle}p{k}") for q in CORPUS_PROBE))
            run.gc()
        cycle += 1
    tr.active = tr.enabled
    run.mark("measured")

    n_docs = spark.read.parquet(f"{src}/documents.parquet").count()
    n_probe_q = reg[CORPUS_PROBE[0]].fn(spark, src).select("qid").distinct().count()
    write_wall = median(passes["write"])
    probe_wall = median(passes["probe"])
    run.info.update({
        "docs_per_s": n_docs / write_wall,
        "probe_qps": n_probe_q / probe_wall,
        "write_s": [round(x, 3) for x in passes["write"]],
        "probe_s": [round(x, 3) for x in passes["probe"]],
    })

    for q in queries:
        run.layer[f"suite.build_s.{q}"] = median(build[q])
        run.layer[f"suite.action_s.{q}"] = median(action[q])
        run.layer[f"suite.build_jobs.{q}"] = median(bjobs[q])
        run.layer[f"suite.action_jobs.{q}"] = median(ajobs[q])

    if tr.enabled:
        overhead = (median(passes["write_traced"]) - write_wall
                    + median(passes["probe_traced"]) - probe_wall)
        run.layer["tracing.overhead_s"] = overhead
        # operator probes: public entry points on persisted inputs
        docs = tables.load_table(spark, src, "documents").persist()
        vecs = tables.load_table(spark, src, "embeddings").select(
            "vec_id", "embedding", sim_ops.norm(F.col("embedding")).alias("nrm")
        ).persist()
        state = ivf_state_dirs()[0]
        cents = spark.read.parquet(str(state / "cents")).persist()
        for df in (docs, vecs, cents):
            df.count()
        run.layer["operators.text.minhash_signatures_s"] = _timed_noop(
            run, "operators.text.minhash_signatures",
            lambda: tx.minhash_signatures(docs, "doc_id", "text"))
        run.layer["operators.similarity.ivf_cell_ranks_s"] = _timed_noop(
            run, "operators.similarity.ivf_cell_ranks",
            lambda: sim_ops.ivf_cell_ranks(vecs, cents))
        # a takedown folded into a copy of the persisted IVF ledger
        ledger = str(run.rundir / "takedown")
        shutil.copytree(state / "assign_compact", ledger)
        sinks.ledger_delete(
            spark, ledger, spark.read.parquet(ledger).filter("vec_id % 10 = 3"),
            "vec_id")
        run.layer["sources.sinks.fold_tombstones_s"] = _timed(
            run, "sources.sinks.fold_tombstones_probe",
            lambda: sinks.fold_tombstones(spark, ledger, "vec_id"))
        for df in (docs, vecs, cents):
            df.unpersist()
        run.layer["sources.sinks.merge_upsert_s"] = median(
            tr.durations("sources.sinks.merge_upsert"))
        builds = tr.count("suite.build_ivf_state")
        probes = (len(passes["probe"]) + len(passes["probe_traced"])
                  + SETUP_ROUNDS + 1)
        run.layer["suite.index_builds"] = builds
        run.layer["suite.probes_per_build"] = probes / max(1, builds)

    return {
        "latency_p50_s": probe_wall,
        "items_per_s": n_docs / write_wall,
    }


def _timed(run: Run, name: str, fn) -> float:
    run.gc()
    t0 = time.perf_counter()
    with run.tracer.span(name):
        fn()
    return time.perf_counter() - t0


def _timed_noop(run: Run, name: str, build, reps: int = 3) -> float:
    """Median wall of a DataFrame built by ``build`` run to the noop
    sink."""
    walls = []
    for _ in range(reps):
        walls.append(_timed(run, name, lambda: build().write.format("noop")
                            .mode("overwrite").save()))
    return median(walls)


# ----------------------------------------------------------------- live
class FileFeed:
    """Open-loop generator: lands pre-cut tick files into the watched
    directory, each renamed into place atomically and stamped with the
    time it landed."""

    def __init__(self, files: list[Path], dst: Path, tracer: Tracer) -> None:
        self.files = files
        self.tracer = tracer
        self.dst = dst
        self.landed: list[float] = []
        self.late: list[float] = []
        self.thread: threading.Thread | None = None

    def land(self, i: int) -> None:
        tmp = self.dst / f".{self.files[i].name}.tmp"
        shutil.copyfile(self.files[i], tmp)
        tmp.rename(self.dst / self.files[i].name)
        self.landed.append(time.time())

    def start_schedule(self, first: int, period: float, lead: float) -> None:
        """Land files ``first..`` once per ``period``, each ``lead``
        seconds before a trigger boundary. Spark's processing-time
        trigger fires on wall-clock multiples of its interval, so with
        the interval equal to the period every file is picked up by the
        next trigger and every trigger carries data."""
        def loop():
            b0 = (math.floor(time.time() / period) + 1) * period
            if b0 - time.time() < lead + 0.2:
                b0 += period
            for k, i in enumerate(range(first, len(self.files))):
                due = b0 + k * period - lead
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                self.late.append(max(0.0, time.time() - due))
                # a traced run traces every second measured batch
                self.tracer.active = self.tracer.enabled and k % 2 == 1
                self.land(i)

        self.thread = threading.Thread(target=loop, daemon=True)
        self.thread.start()


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _batch_end(p: dict) -> float:
    start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1e3


def _data_batches(q) -> list[dict]:
    return [p for p in _progress(q) if p["numInputRows"] > 0]


def _flushed(q) -> bool:
    """Whether a no-data batch ran after the last data batch (it fires
    held-back ticks whose event-time timeout passed)."""
    prog = _progress(q)
    last = max((p["batchId"] for p in prog if p["numInputRows"] > 0), default=-1)
    return any(p["batchId"] > last and p["numInputRows"] == 0 for p in prog)


def _wait(cond, timeout: float, step: str, poll: float = 0.05, on_poll=None):
    deadline = time.perf_counter() + timeout
    while True:
        if on_poll is not None:
            on_poll()
        got = cond()
        if got:
            return got
        if time.perf_counter() > deadline:
            raise StepError(f"{step}: timed out after {timeout:.0f} s")
        time.sleep(poll)


def run_live(run: Run) -> dict[str, float]:
    from pyspark.sql import functions as F

    from zcode_iceberg_spark.operators import stateful as st
    from zcode_iceberg_spark.sources import sinks, tables
    from zcode_iceberg_spark.streaming.pipeline import live_tick_pipeline
    from zcode_iceberg_spark.suite import stateful as suite_stateful

    spark, tr = run.spark, run.tracer
    src_dir = run.rundir / "src"
    src_dir.mkdir()
    out_dir = run.rundir / "live"
    files = sorted((run.inputs / "files").glob("*.parquet"))
    warm = LIVE["warm_files"]
    period = LIVE["period_s"]
    feed = FileFeed(files, src_dir, tr)
    tr.wrap([sinks], "upsert_daily_partitions",
            "sources.sinks.upsert_daily_partitions")

    # set-up: define and start the stream on the warm-up files (so the
    # source schema is sniffed from a real file)
    for i in range(warm):
        feed.land(i)
    t0 = time.perf_counter()
    with tr.span("streaming.live_tick_pipeline"):
        start, ledger_dir, summary_dir = live_tick_pipeline(
            spark, str(src_dir), str(run.inputs), str(out_dir),
            trigger_sec=period)
        q = start()
    try:
        _wait(lambda: len(_data_batches(q)) >= warm, 170, "warm-up batches")
        # the watermark moved, so a no-data batch follows; the measured
        # schedule starts once it is done
        _wait(lambda: _flushed(q), 120, "warm-up flush batch")
        run.setup_rounds.append(time.perf_counter() - t0)
        run.layer["session.warm_s"] = time.perf_counter() - t0
        run.gc()
        run.mark("setup_warm")

        # measured window: files land on a fixed schedule
        backlog: list[int] = []

        def sample_backlog():
            backlog.append(len(feed.landed) - len(_data_batches(q)))

        feed.start_schedule(warm, period, LIVE["lead_s"])
        _wait(lambda: len(_data_batches(q)) >= len(files),
              len(files) * period + 120, "measured batches",
              poll=0.25, on_poll=sample_backlog)
        feed.thread.join()
        _wait(lambda: _flushed(q), 60, "final flush batch")
        run.mark("measured_drain")
    finally:
        q.stop()
    prog = _progress(q)
    data = [p for p in prog if p["numInputRows"] > 0]
    measured = data[warm:]
    lat = [_batch_end(p) - landed
           for p, landed in zip(measured, feed.landed[warm:])]
    run.attempted += len(files)
    batch_s = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in measured]
    ticks = LIVE["ticks_per_file"]
    if tr.enabled:
        for p, wall in zip(data, [b["durationMs"].get("triggerExecution", 0) / 1e3
                                  for b in data]):
            tr.add("streaming.batch", _batch_end(p) - wall, _batch_end(p),
                   f"batch{p['batchId']}")

    def dur(key: str) -> float:
        return median(p["durationMs"].get(key, 0) / 1e3 for p in measured)

    run.layer.update({
        "streaming.batch_s": median(batch_s),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.plan_s": dur("queryPlanning"),
        "streaming.offsets_s": median(
            (p["durationMs"].get("latestOffset", 0)
             + p["durationMs"].get("getBatch", 0)) / 1e3 for p in measured),
        "streaming.wal_commit_s": median(
            (p["durationMs"].get("walCommit", 0)
             + p["durationMs"].get("commitOffsets", 0)) / 1e3 for p in measured),
        "streaming.backlog_files_max": max(backlog, default=0),
        "generator.late_s_max": max(feed.late, default=0.0),
    })
    for op in (measured[-1].get("stateOperators") or []) if measured else []:
        name = op.get("operatorName", "state")
        ops = [o for p in measured for o in (p.get("stateOperators") or [])
               if o.get("operatorName") == name]
        run.layer[f"streaming.state_rows.{name}"] = op.get("numRowsTotal", 0)
        run.layer[f"streaming.state_bytes.{name}"] = op.get("memoryUsedBytes", 0)
        run.layer[f"streaming.state_commit_s.{name}"] = median(
            o.get("commitTimeMs", 0) / 1e3 for o in ops)
    if tr.enabled:
        run.layer["sources.sinks.upsert_daily_partitions_s"] = median(
            tr.durations("sources.sinks.upsert_daily_partitions"))
    run.info.update({
        "tick_to_ledger_p50_s": median(lat),
        "ticks_per_s": ticks / median(batch_s),
        "latency_s": [round(x, 3) for x in lat],
        "batch_s": [round(x, 3) for x in batch_s],
        "batches": len(data),
        "period_s": period,
    })

    # correctness: closed trades equal the batch twin minus its EOD
    # close-outs, and the daily summary equals the ledger's own rollup
    def trades(df):
        # both sides in the batch twin's output quantization: prices
        # round(6), pnl in micro-units rounded HALF_UP by Spark. Python's
        # round(pnl, 6) on the raw streamed value disagrees with that
        # rule when pnl sits on a 1e-6 boundary.
        return {
            (r["user_id"], r["trade_seq"]): (
                r["side"], r["entry_price"], r["exit_price"], r["exit_reason"],
                r["pnl"])
            for r in df.select(
                "user_id", "trade_seq", "side",
                F.round("entry_price", 6).alias("entry_price"),
                F.round("exit_price", 6).alias("exit_price"), "exit_reason",
                (st.micro("pnl") / F.lit(1e6)).alias("pnl")).collect()
        }

    def check_ledger():
        got = trades(spark.read.parquet(ledger_dir))
        want = trades(suite_stateful.q_live_pipeline_ledger(
            spark, str(run.inputs)).filter(F.col("exit_reason") != "EOD"))
        run.info["closed_trades"] = len(want)
        assert len(want) > 0, "no closed trades in the batch twin"
        diff = sorted(set(got.items()) ^ set(want.items()))
        assert not diff, (
            f"{len(got)} streamed vs {len(want)} batch closed trades; "
            f"{len(diff)} differ: streamed {[d for d in diff if d in got.items()][:3]}"
            f" batch {[d for d in diff if d in want.items()][:3]}")

    def check_summary():
        led = spark.read.parquet(ledger_dir)
        roll = {
            r["day"]: (r["n_trades"], r["n_wins"])
            for r in led.groupBy(F.date_format("exit_ts", "yyyy-MM-dd").alias("day"))
            .agg(F.count(F.lit(1)).alias("n_trades"),
                 F.sum(F.when(F.col("pnl") > 0, 1).otherwise(0)).alias("n_wins"))
            .collect()
        }
        summ = {str(r["day"]): (r["n_trades"], r["n_wins"])
                for r in spark.read.parquet(summary_dir).collect()}
        assert summ == roll and summ, "daily summary differs from ledger rollup"

    run.check("live_pipeline_ledger", check_ledger)
    run.check("daily_summary", check_summary)
    run.mark("checks")

    if tr.enabled:
        # the measured files alternate tracing off and on (see FileFeed)
        run.layer["tracing.overhead_s"] = (
            median(b for k, b in enumerate(batch_s) if k % 2 == 1)
            - median(b for k, b in enumerate(batch_s) if k % 2 == 0))
        src = str(run.inputs)
        run.layer["sources.events_ticks_s"] = _timed_noop(
            run, "sources.events_ticks",
            lambda: tables.events_ticks(spark, src))
        dec = suite_stateful._decisions(spark, src).persist()
        dec.count()
        run.layer["operators.stateful.position_fsm_s"] = _timed_noop(
            run, "operators.stateful.position_fsm",
            lambda: st.position_fsm(dec))
        run.layer["operators.stateful.hysteresis_s"] = _timed_noop(
            run, "operators.stateful.hysteresis",
            lambda: st.hysteresis(dec, label_col="raw_label",
                                  confirm_k=suite_stateful.CONFIRM_K))
        dec.unpersist()

    return {
        "latency_p50_s": median(lat),
        "items_per_s": ticks / median(batch_s),
    }


WORKLOADS = {"live": run_live, "corpus": run_corpus}
