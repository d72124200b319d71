"""The benchmark workloads, driven through the program's public API.

`BENCHMARK.json` gates `ingest_paced` and `batch_surface`;
`ingest_backlog`, `dashboard_refresh` and `curation_batch` run the same
code on narrower inputs and are for focused work by hand (README.md says
why). Each workload function takes a `Pass` (one session lifetime with its
work directory, tracer and operation counts), sets up, measures for
`seconds`, checks every output it produced, and returns its metrics: the
end-to-end ones always, the per-layer ones when the pass is traced.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import itertools
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen
import tracing
from banking_streaming_etl_spark import datamodel, oracle, registry
from banking_streaming_etl_spark.operators import dedup
from banking_streaming_etl_spark.plans import approval
from banking_streaming_etl_spark.session import get_spark
from banking_streaming_etl_spark.sources import stream
from banking_streaming_etl_spark.streaming import pipeline

#: users in every workload: the reference seeds 10,000 (BASELINE.md,
#: "Dataset scale").
N_USERS = 10_000
#: open-loop input rate of `ingest_paced` (the reference's published peak)
#: and the publisher's file cadence.
PACED_RATE = 1000
PACED_INTERVAL_S = 0.1
#: the first PACED_WARMUP_S seconds of the paced schedule run but are not
#: measured (JIT warm-up of the new query's code paths).
PACED_WARMUP_S = 3.0
#: after the paced phase, BURST_WARMUP + PACED_BURSTS files of
#: BURST_EVENTS events each land at once, one after another: the backlog a
#: 10 s stall leaves at PACED_RATE. The first BURST_WARMUP are not measured
#: (the first bursts after the paced phase still warm up code paths that
#: small micro-batches did not use, and cost up to 40% more CPU time). The
#: program CPU time one of the others costs is the workload's gated
#: figure; their catch-up rate is reported beside it.
BURST_WARMUP = 2
PACED_BURSTS = 12
BURST_EVENTS = 10_000
#: `ingest_backlog` input: BACKLOG_FILES files of BACKLOG_PER_FILE events,
#: drained BACKLOG_FILES_PER_TRIGGER files per micro-batch.
BACKLOG_FILES = 24
BACKLOG_PER_FILE = 2500
BACKLOG_FILES_PER_TRIGGER = 4
#: events per history snapshot and documents per corpus (batch workloads):
#: the sizes of the `events` and `documents` tables at sf0.01, the scale of
#: the program's oracle-correctness tests (TESTDATA.md).
SNAPSHOT_EVENTS = 10_000
CORPUS_DOCS = 500
RECENT_K = 100
#: measured rounds a batch workload runs at least, however long they take.
#: The second round after the warm-up one still runs faster than the first
#: (JIT warm-up), so a run that stopped after one slow round would read
#: apart from the others.
MIN_ROUNDS = 2

DASHBOARD_QUERIES = tuple(
    "approval_overview perf_stats_by_modality perf_temporal_hourly "
    "freq_per_payer_hour zscore_per_payer hourly_score_approval "
    "region_approval distance_bucket_pivot denial_reasons recent_metrics "
    "value_histogram density_grid top_k_recent".split()
)
CHAIN_QUERIES = tuple(
    "dedup_exact_documents dedup_minhash_lsh near_dup_jaccard "
    "text_quality_scores tfidf_terms ann_cosine_topk".split()
)
HISTORY_TABLES = ("events", "customer", "nation", "region")
CORPUS_TABLES = ("documents", "embeddings")


class Pass:
    """One session lifetime of a workload: work directory, cores, tracer,
    event log (traced pass only) and the attempted/failed counts."""

    def __init__(self, seed: int, seconds: float, work: str, cores: int,
                 tracer: tracing.Tracer, cold: bool, restarts: int) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = cores
        self.tracer = tracer
        #: True when this pass launches the JVM: its first set-up is then
        #: cold, and a batch workload runs one unmeasured round first.
        self.cold = cold
        #: warm session restarts timed after the measurement
        self.restarts = restarts
        self.log_dir = os.path.join(work, "eventlog") if tracer.enabled else None
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        #: warm set-up times; the cold one (JVM launch included) apart
        self.setup_s: list[float] = []
        self.cold_setup_s: float | None = None
        self.peak_jvm_kb = 0
        #: wall-clock stretches of measured work, the driver JVM's GC time
        #: within them (traced pass only) and its JIT compiler threads' CPU
        #: time within them
        self.windows: list[tuple[float, float]] = []
        self.gc_ms = 0.0
        self.jit_cpu_s = 0.0
        self._setup_once = None
        os.makedirs(work, exist_ok=True)

    # -- session ---------------------------------------------------------

    def start_session(self) -> None:
        self.stop_session()
        conf = tracing.event_log_conf(self.log_dir) if self.log_dir else None
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                master=f"local[{self.cores}]",
                shuffle_partitions=self.cores,
                extra_conf=conf,
            )
            self.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.peak_jvm_kb = max(self.peak_jvm_kb, jvm_peak_rss_kb(self.spark))
            self.spark.stop()
            self.spark = None

    def first_setup(self, setup_once) -> None:
        """Run and time the first set-up; `finish_setups` times the warm
        restarts. Those run after the measurement, so they do not disturb
        the JIT warm-up the measurement depends on."""
        start = time.perf_counter()
        setup_once(0)
        took = time.perf_counter() - start
        if self.cold:
            self.cold_setup_s = took
        else:
            self.setup_s.append(took)
        self._setup_once = setup_once

    def finish_setups(self) -> None:
        for i in range(1, 1 + self.restarts if self._setup_once else 0):
            start = time.perf_counter()
            self._setup_once(i)
            self.setup_s.append(time.perf_counter() - start)

    @contextlib.contextmanager
    def measured(self):
        """Marks a stretch of measured work and yields a dict that gets its
        `cpu_s` when the stretch ends: the CPU time the program spent in
        it (`program_cpu_s`). The traced pass counts engine work and GC
        time only inside these stretches, so checks, probes and input
        generation between them do not show in `engine.*`."""
        gc0 = tracing.jvm_gc_ms(self.spark) if self.tracer.enabled else 0.0
        pid = jvm_pid(self.spark)
        cpu0 = program_cpu_s(pid)
        used: dict[str, float] = {}
        start = time.time()
        try:
            yield used
        finally:
            self.windows.append((start, time.time()))
            cpu1 = program_cpu_s(pid)
            used["cpu_s"] = cpu1[0] - cpu0[0]
            self.jit_cpu_s += cpu1[1] - cpu0[1]
            if self.tracer.enabled:
                self.gc_ms += tracing.jvm_gc_ms(self.spark) - gc0

    # -- operation accounting -------------------------------------------

    def op(self, what: str, fn):
        """Run one operation; a raised error counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 — the benchmark reports and goes on
            self.failed += 1
            self.failures.append(f"{what}: {traceback.format_exc(limit=3)}")
            print(f"# FAILED {what}\n{traceback.format_exc()}", file=sys.stderr)
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what}: {detail}")
            print(f"# CHECK FAILED {what}: {detail}", file=sys.stderr)


#: the driver JVM's JIT compiler threads, as /proc shows their names
#: ("C2 CompilerThread0" cut to 15 characters). run.py starts the JVM with
#: -XX:-UseDynamicNumberOfCompilerThreads, so these threads live as long
#: as the JVM and no compile time leaves with an exited thread.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat_path: str) -> tuple[str, int]:
    """(thread or process name, user + system clock ticks) from a
    /proc/.../stat file; a process's ticks include its exited threads."""
    with open(stat_path) as f:
        raw = f.read()
    name, rest = raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()
    return name, int(rest[11]) + int(rest[12])


def program_cpu_s(jvm: int) -> tuple[float, float]:
    """(program CPU seconds, JIT compiler CPU seconds) used so far.

    Program CPU is the driver JVM's CPU time without its JIT compiler
    threads, plus this Python process's (the foreachBatch callbacks and
    result fetches run here). Compilation is the JVM warming up, not work
    the program does per event or query; it is reported on its own as
    `engine.jit_cpu_ms`. The paced publisher is a separate process and
    does not count."""
    jit = 0
    task_dir = f"/proc/{jvm}/task"
    for tid in os.listdir(task_dir):
        try:
            name, ticks = _cpu_ticks(f"{task_dir}/{tid}/stat")
        except (OSError, ValueError):  # the thread exited while listed
            continue
        if name in _JIT_THREADS:
            jit += ticks
    total = _cpu_ticks(f"/proc/{jvm}/stat")[1] + _cpu_ticks("/proc/self/stat")[1]
    hz = os.sysconf("SC_CLK_TCK")
    return (total - jit) / hz, jit / hz


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_kb(spark) -> int:
    return _vm_hwm_kb(f"/proc/{jvm_pid(spark)}/status")


def _vm_hwm_kb(status_path: str) -> int:
    with open(status_path) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def python_peak_rss_kb() -> int:
    return _vm_hwm_kb("/proc/self/status")


# --- correctness helpers ----------------------------------------------------------


class _Fetched:
    """A result already fetched to the client, handed to `oracle.compare`
    in place of the DataFrame so the check does not re-run the query."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — the DataFrame method oracle.compare calls
        return self._pdf.copy()


def _duckdb_for(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _oracle_checks(p: Pass, data_dir: str, tables, fetched: dict) -> None:
    queries = registry.all_queries()
    con = _duckdb_for(data_dir, tables)
    try:
        for name, pdf in fetched.items():
            try:
                rep = oracle.compare(_Fetched(pdf), con, queries[name].oracle)
            except duckdb.Error as e:  # the oracle itself cannot evaluate this input
                p.check(f"oracle {name}", False, f"oracle raised {type(e).__name__}: {e}")
                continue
            p.check(f"oracle {name}", rep["match"], json.dumps(rep, default=str)[:500])
    finally:
        con.close()


def _flagship(p: Pass, snap: str):
    """The batch flagship over the same events: id -> (score_medio,
    transacao_aprovada)."""
    pdf = (
        approval.approval_pipeline(p.spark, snap)
        .select("id_transacao", "score_medio", "transacao_aprovada")
        .toPandas()
    )
    return pdf.sort_values("id_transacao").reset_index(drop=True)


def _sink_checks(p: Pass, out: str, ids: np.ndarray, flagship) -> None:
    """Every event exactly once in both sinks; scores equal the flagship."""
    hist = pq.read_table(
        f"{out}/history", columns=["id_transacao", "score_medio", "transacao_aprovada"]
    ).to_pandas()
    scores = pq.read_table(f"{out}/scores", columns=["id_transacao"]).to_pandas()
    for sink, df in (("history", hist), ("scores", scores)):
        got = np.sort(df["id_transacao"].to_numpy())
        p.check(
            f"{sink} sink holds every event exactly once",
            got.shape == ids.shape and np.array_equal(got, ids),
            f"{len(got)} rows, {len(np.unique(got))} distinct, {len(ids)} expected",
        )
    hist = hist.sort_values("id_transacao").reset_index(drop=True)
    same = len(hist) == len(flagship) and np.array_equal(
        hist["id_transacao"].to_numpy(), flagship["id_transacao"].to_numpy()
    )
    if same:
        a = hist["score_medio"].to_numpy(dtype="float64")
        b = flagship["score_medio"].to_numpy(dtype="float64")
        same = a.tobytes() == b.tobytes() and hist["transacao_aprovada"].equals(
            flagship["transacao_aprovada"]
        )
    p.check("streamed scores equal the batch flagship", same)


# --- ingest ------------------------------------------------------------------------


def _parse_progress_ts(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=dt.timezone.utc).timestamp()


def _files_by_batch(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


#: the order MicroBatchExecution spends its reported durations in.
_PHASES = (
    ("latestOffset", "sources.latest_offset"),
    ("walCommit", "pipeline.wal_commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "pipeline.query_planning"),
    ("addBatch", "pipeline.add_batch"),
    ("commitOffsets", "pipeline.commit_offsets"),
)


def _batches(p: Pass, q, parent) -> list[dict]:
    """Non-empty micro-batches of a stopped query: id, rows, start and
    commit wall time, phase durations. Traced passes turn each into a
    `pipeline.trigger` span with its phases as children."""
    out = []
    for prog in q.recentProgress:
        rows = int(prog.get("numInputRows") or 0)
        if rows == 0:
            continue
        d = prog.get("durationMs") or {}
        start = _parse_progress_ts(prog["timestamp"])
        commit = start + d.get("triggerExecution", 0) / 1000.0
        out.append({"batch": prog["batchId"], "rows": rows, "start": start,
                    "commit": commit, "durations": d})
        sid = p.tracer.add("pipeline.trigger", start, commit, parent=parent, rows=rows)
        cursor = start
        for key, name in _PHASES:
            ms = d.get(key, 0)
            p.tracer.add(name, cursor, cursor + ms / 1000.0, parent=sid)
            cursor += ms / 1000.0
    return out


def _ingest_inputs(p: Pass, n_events: int, span_s: float) -> tuple[str, dict]:
    snap = os.path.join(p.work, "snapshot")
    gen.write_dimensions(snap, p.seed, N_USERS)
    tx = gen.transactions(p.seed, n_events, N_USERS, span_s=span_s)
    gen.write_events(tx, snap)
    warm = gen.transactions(p.seed, 200, N_USERS, first_id=10**9, stream="warm")
    gen.stage_wire_files(gen.wire_lines(warm), os.path.join(p.work, "warm_src"), 200)
    return snap, tx


def _open_stream(p: Pass, src: str, users, regions, out: str, max_files, view):
    with p.tracer.span("sources.read_stream"):
        tx = stream.read_transaction_stream(p.spark, src, max_files_per_trigger=max_files)
    with p.tracer.span("pipeline.plan_build"):
        result = pipeline.approval_stream(tx, users, regions)
    with p.tracer.span("pipeline.start_multi_sink"):
        return pipeline.start_multi_sink(
            result, f"{out}/history", f"{out}/scores", f"{out}/ckpt",
            recent_view=view, recent_k=RECENT_K,
        )


def _ingest_setup(p: Pass, snap: str) -> tuple:
    """Set up until the first result: session start, dimension loads, plan
    build, and the first micro-batch committed to both sinks."""
    dims = {}

    def once(i: int) -> None:
        p.start_session()
        with p.tracer.span("datamodel.dims"):
            users = datamodel.users(p.spark, snap).cache()
            regions = datamodel.regions(p.spark, snap).cache()
            users.count()
            regions.count()
        out = os.path.join(p.work, f"setup{i}")
        q = _open_stream(p, os.path.join(p.work, "warm_src"), users, regions, out, None, None)
        with p.tracer.span("bench.first_batch"):
            q.processAllAvailable()
        q.stop()
        shutil.rmtree(out, ignore_errors=True)
        dims["users"], dims["regions"] = users, regions

    p.first_setup(once)
    return dims["users"], dims["regions"]


def _sink_layer(out: str, rows: int, batches: int) -> dict[str, float]:
    n_files = n_bytes = 0
    for sink in ("history", "scores"):
        for root, _, files in os.walk(os.path.join(out, sink)):
            for f in files:
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
    return {
        "sink.files_per_batch": n_files / max(batches, 1),
        "sink.bytes_per_row": n_bytes / max(rows, 1),
    }


def _pipeline_layer(batches: list[dict]) -> dict[str, float]:
    def med(key):
        return float(np.median([b["durations"].get(key, 0) for b in batches]))

    add = [b["durations"].get("addBatch", 0) for b in batches]
    trig = [b["durations"].get("triggerExecution", 0) for b in batches]
    return {
        "sources.latest_offset_ms": med("latestOffset"),
        "sources.get_batch_ms": med("getBatch"),
        "pipeline.query_planning_ms": med("queryPlanning"),
        "pipeline.wal_commit_ms": med("walCommit"),
        "pipeline.commit_offsets_ms": med("commitOffsets"),
        "pipeline.add_batch_p50_ms": tracing.percentile(add, 50),
        "pipeline.add_batch_p95_ms": tracing.percentile(add, 95),
        "pipeline.trigger_p50_ms": tracing.percentile(trig, 50),
        "pipeline.trigger_p95_ms": tracing.percentile(trig, 95),
        "pipeline.rows_per_batch": float(np.median([b["rows"] for b in batches])),
        "pipeline.batches": float(len(batches)),
    }


def _setup_layers(p: Pass) -> dict[str, float]:
    t = p.tracer
    out = {"session.start_s": float(np.median(t.durations_ms("session.start"))) / 1000.0}
    for metric, span in (("datamodel.dims_ms", "datamodel.dims"),
                         ("pipeline.plan_build_ms", "pipeline.plan_build")):
        if t.durations_ms(span):
            out[metric] = float(np.median(t.durations_ms(span)))
    return out


def ingest_paced(p: Pass) -> dict:
    """Open loop: a separate single-threaded publisher process moves one
    file of PACED_RATE * PACED_INTERVAL_S events into the source directory
    every PACED_INTERVAL_S seconds, on a schedule that does not slow when
    Spark does. Latency is per event, from its file's due time to the
    commit of the micro-batch that wrote it to both sinks.

    Below capacity the stream keeps up, so its committed rate is the
    offered rate whatever the program costs. The gated figure is therefore
    measured after the paced phase, on the same running query: bursts of
    BURST_EVENTS events land one at a time, each once the previous one is
    committed; each measured burst is one round, and the workload reports
    the median program CPU time per round and, beside it, the median
    catch-up rate (events over the time from landing to commit)."""
    per_file = int(PACED_RATE * PACED_INTERVAL_S)
    warm_files = round(PACED_WARMUP_S / PACED_INTERVAL_S)
    n_files = warm_files + max(1, math.ceil(p.seconds / PACED_INTERVAL_S))
    n_paced = n_files * per_file
    n = per_file + n_paced + (BURST_WARMUP + PACED_BURSTS) * BURST_EVENTS
    snap, tx = _ingest_inputs(p, n, n / PACED_RATE)
    lines = gen.wire_lines(tx)
    prime = gen.stage_wire_files(lines[:per_file], os.path.join(p.work, "prime"), per_file,
                                 prefix="prime")
    staged = gen.stage_wire_files(lines[per_file:per_file + n_paced],
                                  os.path.join(p.work, "staged"), per_file)
    bursts = gen.stage_wire_files(lines[per_file + n_paced:], os.path.join(p.work, "bursts"),
                                  BURST_EVENTS, prefix="burst")
    users, regions = _ingest_setup(p, snap)

    src, out = os.path.join(p.work, "src"), os.path.join(p.work, "paced")
    os.makedirs(src)
    view = pipeline.RecentTransactionsView()
    q = p.op("start paced stream", lambda: _open_stream(p, src, users, regions, out, None, view))
    if q is None:
        return {}
    spec_path, log_path = os.path.join(p.work, "publish.json"), os.path.join(p.work, "publish.log")
    polls: list[tuple[float, float]] = []
    landed: dict[str, float] = {}
    burst_cpu: list[float] = []

    def land(path: str) -> None:
        """Move one staged file into the source and wait for its commit."""
        name = os.path.basename(path)
        landed[name] = time.time()
        os.utime(path, (landed[name], landed[name]))
        os.rename(path, os.path.join(src, name))
        p.op(f"drain {name}", q.processAllAvailable)

    publisher = None
    try:
        with p.tracer.span("bench.paced") as root:
            # A new query's first micro-batch pays one-off costs (2 s on the
            # test VM). Paid inside the schedule, it would leave a backlog
            # that takes several micro-batches to work off.
            land(prime[0])
            t0 = time.time() + 0.5
            with open(spec_path, "w") as f:
                json.dump({"staged": staged, "dest": src, "t0": t0,
                           "interval_s": PACED_INTERVAL_S, "log": log_path}, f)
            with p.measured():
                publisher = subprocess.Popen([sys.executable, gen.__file__, "publish", spec_path])
                while publisher.poll() is None:
                    with p.tracer.span("sink.recent_topk"):
                        a = time.perf_counter()
                        top = view.top_k(RECENT_K)
                        b = time.perf_counter()
                    if top:
                        newest = max(r["tempo_saida_resultado"] for r in top).timestamp()
                        polls.append(((b - a) * 1000.0, (time.time() - newest) * 1000.0))
                    time.sleep(0.1)
                p.check("publisher exited cleanly", publisher.wait() == 0)
                p.op("drain paced stream", q.processAllAvailable)
            with p.tracer.span("bench.bursts"):
                for path in bursts[:BURST_WARMUP]:
                    land(path)
                for path in bursts[BURST_WARMUP:]:
                    with p.measured() as used:
                        land(path)
                    burst_cpu.append(used["cpu_s"])
            batches = _batches(p, q, root)
    finally:
        if publisher is not None:
            if publisher.poll() is None:
                publisher.kill()
            publisher.wait()
        q.stop()
    p.attempted += len(batches)

    with open(log_path) as f:
        log = [json.loads(line) for line in f]
    batch_of = _files_by_batch(os.path.join(out, "ckpt"))
    commit_of = {b["batch"]: b["commit"] for b in batches}
    published = [rec["file"] for rec in log] + list(landed)
    committed = [f for f in published if batch_of.get(f) in commit_of]
    p.check("every published file committed", len(committed) == len(published),
            f"{len(committed)} of {len(published)}")
    # every staged file holds per_file events (the event count is a multiple)
    measured = [rec for rec in log[warm_files:] if batch_of.get(rec["file"]) in commit_of]
    lat = [(commit_of[batch_of[rec["file"]]] - rec["due"]) * 1000.0 for rec in measured]
    per_event = np.repeat(np.array(lat), per_file).tolist()
    burst_rates = [BURST_EVENTS / (commit_of[batch_of[f]] - landed[f])
                   for f in map(os.path.basename, bursts[BURST_WARMUP:])
                   if batch_of.get(f) in commit_of]
    lateness = [(r["published"] - r["due"]) * 1000.0 for r in log]
    paced_ids = {batch_of[rec["file"]] for rec in log if rec["file"] in batch_of}
    paced = [b for b in batches if b["batch"] in paced_ids]
    window_start = t0 + warm_files * PACED_INTERVAL_S
    window_end = max(commit_of[batch_of[rec["file"]]] for rec in measured)

    metrics = {
        "cpu_s_per_round": float(np.median(burst_cpu)),
        "_named": {
            "ingest_latency_p50_ms": tracing.percentile(per_event, 50),
            "ingest_latency_p95_ms": tracing.percentile(per_event, 95),
            "events": len(per_event),
            "batches": len(paced),
            # the offered rate while the stream keeps up
            "paced_committed_tx_per_s": len(per_event) / (window_end - window_start),
            "burst_tx_per_s": float(np.median(burst_rates)),
            "burst_tx_per_s_samples": burst_rates,
            "burst_cpu_s_samples": burst_cpu,
        },
        "_lateness_ms": {"p50": tracing.percentile(lateness, 50), "max": max(lateness)},
    }
    with p.tracer.span("bench.check"):
        flag = p.op("batch flagship", lambda: _flagship(p, snap))
        if flag is not None:
            _sink_checks(p, out, np.sort(tx["event_id"]), flag)

    if p.tracer.enabled:
        lags, done = [], 0
        for b in sorted(paced, key=lambda b: b["commit"]):
            done += b["rows"]
            lags.append(per_file * sum(r["published"] <= b["commit"] for r in log) - done)
        files_per_batch = np.bincount([batch_of[rec["file"]] for rec in log if rec["file"] in batch_of])
        metrics["_layers"] = {
            **_setup_layers(p),
            **_pipeline_layer(paced),
            **_sink_layer(out, sum(b["rows"] for b in batches), len(batches)),
            "sources.files_per_batch": float(np.median(files_per_batch[sorted(paced_ids)])),
            "sources.input_lag_rows": float(np.median(lags)),
            "sink.recent_topk_ms": float(np.median([a for a, _ in polls])) if polls else 0.0,
            "sink.recent_staleness_ms": float(np.median([s for _, s in polls])) if polls else 0.0,
        }
        metrics["_items"] = len(paced) + len(burst_cpu)  # micro-batches measured
    return metrics


def ingest_backlog(p: Pass) -> dict:
    """A fixed backlog of BACKLOG_FILES * BACKLOG_PER_FILE events, all
    present before the query starts, drained BACKLOG_FILES_PER_TRIGGER
    files per micro-batch; repeated with fresh sinks and checkpoints until
    `seconds` of drain time are measured."""
    n = BACKLOG_FILES * BACKLOG_PER_FILE
    snap, tx = _ingest_inputs(p, n, 3600.0)
    src = os.path.join(p.work, "src")
    gen.stage_wire_files(gen.wire_lines(tx), src, BACKLOG_PER_FILE)
    users, regions = _ingest_setup(p, snap)
    with p.tracer.span("bench.check"):
        flag = p.op("batch flagship", lambda: _flagship(p, snap))
    ids = np.sort(tx["event_id"])

    drains, batches, lags, sink_layer, cpu = [], [], [], {}, 0.0
    while sum(drains) < p.seconds or not drains:
        out = os.path.join(p.work, f"drain{len(drains)}")
        with p.tracer.span("bench.drain") as root, p.measured() as used:
            start = time.perf_counter()
            q = p.op("start backlog stream", lambda: _open_stream(
                p, src, users, regions, out, BACKLOG_FILES_PER_TRIGGER,
                pipeline.RecentTransactionsView()))
            if q is None:
                break
            try:
                p.op("drain backlog", q.processAllAvailable)
                drains.append(time.perf_counter() - start)
                these = _batches(p, q, root)
            finally:
                q.stop()
        cpu += used["cpu_s"]
        p.attempted += len(these)
        batches += these
        done = 0
        for b in these:
            done += b["rows"]
            lags.append(n - done)
        with p.tracer.span("bench.check"):
            if flag is not None:
                _sink_checks(p, out, ids, flag)
        if p.tracer.enabled and not sink_layer:
            sink_layer = _sink_layer(out, n, len(these))
        shutil.rmtree(out, ignore_errors=True)
    if not batches:
        return {}

    trig = [b["durations"].get("triggerExecution", 0) for b in batches]
    rows = sum(b["rows"] for b in batches)
    metrics = {
        # per micro-batch of BACKLOG_FILES_PER_TRIGGER files
        "cpu_s_per_round": cpu / len(batches),
        "_named": {"ingest_tx_per_s": rows / sum(drains), "input_events": n,
                   "drains": len(drains), "batches": len(batches),
                   "batch_p50_ms": tracing.percentile(trig, 50),
                   "batch_p95_ms": tracing.percentile(trig, 95)},
    }
    if p.tracer.enabled:
        metrics["_layers"] = {
            **_setup_layers(p),
            **_pipeline_layer(batches),
            **sink_layer,
            "sources.files_per_batch": float(BACKLOG_FILES_PER_TRIGGER),
            "sources.input_lag_rows": float(np.median(lags)),
        }
        metrics["_items"] = len(batches)
    return metrics


# --- batch surfaces ------------------------------------------------------------------


def _fetch(p: Pass, name: str, data_dir: str, span_prefix: str, split: bool):
    """Build one registered query and fetch its result to the client;
    returns (pandas frame, milliseconds) or (None, None) on failure."""
    fn = registry.all_queries()[name].fn

    def run():
        start = time.perf_counter()
        if split:
            with p.tracer.span(f"{span_prefix}.{name}.build"):
                df = fn(p.spark, data_dir)
            with p.tracer.span(f"{span_prefix}.{name}.exec"):
                pdf = df.toPandas()
        else:
            with p.tracer.span(f"{span_prefix}.{name}"):
                pdf = fn(p.spark, data_dir).toPandas()
        return pdf, (time.perf_counter() - start) * 1000.0

    got = p.op(f"query {name}", run)
    return got if got is not None else (None, None)


def _load_tables(p: Pass, data_dir: str, tables) -> None:
    with p.tracer.span("datamodel.load"):
        for t in tables:
            datamodel.load_table(p.spark, data_dir, t)


def _write_snapshot(out: str, seed: int) -> None:
    gen.write_dimensions(out, seed, N_USERS)
    gen.write_events(gen.transactions(seed, SNAPSHOT_EVENTS, N_USERS), out)


def _write_corpus(out: str, seed: int) -> None:
    gen.write_corpus(out, seed, CORPUS_DOCS)


@dataclass(frozen=True)
class Surface:
    """A batch surface one round runs: its queries, in order, over inputs
    generated fresh for the round. `layer` prefixes its spans; `split`
    gives each query separate build and fetch spans."""

    layer: str
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    make_inputs: Callable[[str, int], None]
    split: bool


DASHBOARD = Surface("plans", DASHBOARD_QUERIES, HISTORY_TABLES, _write_snapshot, True)
CURATION = Surface("operators", CHAIN_QUERIES, CORPUS_TABLES, _write_corpus, False)


def _batch_setup(p: Pass, surfaces: list[Surface]) -> None:
    """Set up until the first result: session start, every surface's
    tables loaded, the first query built and fetched (on inputs no
    measured round reads)."""
    warm = {s.layer: os.path.join(p.work, f"warm-{s.layer}") for s in surfaces}
    for s in surfaces:
        s.make_inputs(warm[s.layer], p.seed + 7_000_003)

    def once(i: int) -> None:
        p.start_session()
        for s in surfaces:
            _load_tables(p, warm[s.layer], s.tables)
        first = surfaces[0]
        with p.tracer.span("bench.first_result"):
            _fetch(p, first.queries[0], warm[first.layer], "bench", split=False)

    p.first_setup(once)


def _closed_loop(p: Pass, surfaces: list[Surface], after_round=None) -> None:
    """One client: each round generates fresh inputs for every surface (at
    paths the session never read), loads them, runs every query in order
    and fetches its result; rounds repeat until `seconds` of round time
    and at least MIN_ROUNDS rounds are measured. On a cold JVM one
    unmeasured round runs first. Sets `p.rounds` (seconds per measured
    round), `p.round_cpu` (program CPU seconds per measured round),
    `p.surface_s` (seconds per surface and round) and `p.per_query`
    (milliseconds per query)."""
    _batch_setup(p, surfaces)
    p.rounds, p.round_cpu, p.surface_s = [], [], {s.layer: [] for s in surfaces}
    p.per_query = {q: [] for s in surfaces for q in s.queries}
    warmup = p.cold
    for n in itertools.count():
        if len(p.rounds) >= MIN_ROUNDS and sum(p.rounds) >= p.seconds:
            break
        elapsed = cpu = 0.0
        for s in surfaces:
            data = os.path.join(p.work, f"round{n}-{s.layer}")
            s.make_inputs(data, p.seed * 1000 + n)
            fetched, times = {}, {}
            measured = contextlib.nullcontext({}) if warmup else p.measured()
            with p.tracer.span("bench.round", surface=s.layer), measured as used:
                start = time.perf_counter()
                _load_tables(p, data, s.tables)
                for q in s.queries:
                    pdf, ms = _fetch(p, q, data, s.layer, s.split)
                    if pdf is not None:
                        fetched[q], times[q] = pdf, ms
                took = time.perf_counter() - start
            elapsed += took
            cpu += used.get("cpu_s", 0.0)
            if not warmup:
                p.surface_s[s.layer].append(took)
                for q, ms in times.items():
                    p.per_query[q].append(ms)
            with p.tracer.span("bench.check"):
                _oracle_checks(p, data, s.tables, fetched)
            if after_round is not None:
                after_round(s, data, fetched)
            shutil.rmtree(data, ignore_errors=True)
        p.attempted += 1  # the round itself
        if not warmup:
            p.rounds.append(elapsed)
            p.round_cpu.append(cpu)
        warmup = False


def _median_span_ms(p: Pass, name: str) -> float:
    ms = p.tracer.durations_ms(name)
    return float(np.median(ms)) if ms else 0.0


def batch_workload(p: Pass, surfaces: list[Surface]) -> dict:
    """Closed loop over the given batch surfaces. The traced pass also
    times the shingle scan on its own and counts the LSH candidate pairs
    after each curation round (extra work the timed pass skips)."""
    lsh = {"corpora": 0, "candidates": 0, "verified": 0}

    def probe_lsh(s: Surface, data: str, fetched: dict) -> None:
        if not p.tracer.enabled or s is not CURATION or "dedup_minhash_lsh" not in fetched:
            return
        with p.tracer.span("bench.lsh_probe"):
            # the same scan the session memo cached during the chain, uncached
            with p.tracer.span("operators.shingle_scan"):
                dedup.doc_shingle_hashes(p.spark, data).count()
            with p.tracer.span("operators.lsh_candidates"):
                sh = dedup.shared_shingle_hashes(p.spark, data)
                lsh["candidates"] += dedup.lsh_candidate_pairs(
                    dedup.minhash_signatures(p.spark, data, sh)).count()
        lsh["verified"] += len(fetched["dedup_minhash_lsh"])
        lsh["corpora"] += 1

    _closed_loop(p, surfaces, probe_lsh)
    samples = [ms for v in p.per_query.values() for ms in v]
    named = {
        "query_p50_ms": tracing.percentile(samples, 50),
        "query_p90_ms": tracing.percentile(samples, 90),
        "query_samples": len(samples),
        "rounds": len(p.rounds),
    }
    for s in surfaces:
        key = "refresh_s" if s is DASHBOARD else "corpus_s"
        named[key] = float(np.median(p.surface_s[s.layer]))
    named["queries_per_s"] = len(samples) / sum(p.rounds)
    metrics = {"cpu_s_per_round": float(np.median(p.round_cpu)), "_named": named}
    if p.tracer.enabled:
        layers = _setup_layers(p)
        layers["datamodel.load_ms"] = _median_span_ms(p, "datamodel.load")
        for q in DASHBOARD_QUERIES:
            for part in ("build", "exec"):
                layers[f"plans.{q}.{part}_ms"] = _median_span_ms(p, f"plans.{q}.{part}")
        for q in CHAIN_QUERIES:
            layers[f"operators.{q}.ms"] = _median_span_ms(p, f"operators.{q}")
        layers["operators.shingle_scan_ms"] = _median_span_ms(p, "operators.shingle_scan")
        # per corpus
        layers["operators.lsh_candidate_pairs"] = lsh["candidates"] / max(lsh["corpora"], 1)
        layers["operators.lsh_verified_pairs"] = lsh["verified"] / max(lsh["corpora"], 1)
        layers["operators.lsh_precision"] = (
            lsh["verified"] / lsh["candidates"] if lsh["candidates"] else 0.0)
        metrics["_layers"] = layers
        metrics["_items"] = len(samples)
    return metrics


WORKLOADS = {
    "ingest_paced": ingest_paced,
    "ingest_backlog": ingest_backlog,
    "batch_surface": lambda p: batch_workload(p, [DASHBOARD, CURATION]),
    "dashboard_refresh": lambda p: batch_workload(p, [DASHBOARD]),
    "curation_batch": lambda p: batch_workload(p, [CURATION]),
}
