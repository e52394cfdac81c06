"""The three benchmark workloads and the layer probes they share.

Every workload runs in three steps: set-up (session start, input
generation, warm-up), the measured loop, and untimed correctness checks.
Each returns a :class:`Result`; ``run.py`` turns it into the output line.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import measure as M

# Scale factor of the generated star schema (row counts as in the project's
# test data at that scale: 6,000 line items, 1,000 events, 500 documents).
SF = 0.001
# The query mixes' dataset is fixed, like the project's test data; the run
# seed orders its rows (a seeded permutation per pass), so every seed does
# the same work on the same multiset of rows.
DATA_SEED = 42

ANALYTICS_QUERIES = (
    "a1_group_count", "a2_dup_check", "q1_pricing_summary", "q13_customer_distribution",
    "j1_inner_equi", "j6_star_join", "j8_skew_salted_join", "w1_first_write_wins",
    "w4_running_sum", "st8_session_window", "asof_last_purchase", "sess_funnel",
    "dq_reconcile_orders", "f7_json_extract",
)

# One query per kind (dedup, graph, similarity, text, multimodal), so that a
# run of a cold warm-up pass and two measured passes stays near a minute.
LLM_OPS_QUERIES = (
    "dedup_minhash_pairs", "graph_pagerank", "sim_cosine_topk", "text_bm25", "multimodal_jpeg_stats",
)

# The reference's verification SQL over the warehouse the stream wrote.
VERIFY_SQL = {
    "verify_partition_count": "SELECT COUNT(*) AS n FROM wh WHERE event_date = DATE '2024-03-02'",
    "verify_tenant_type_count": "SELECT tenant_id, event_type, COUNT(*) AS n FROM wh GROUP BY tenant_id, event_type",
    "verify_duplicate_keys": "SELECT idempotency_key, COUNT(*) AS n FROM wh GROUP BY idempotency_key HAVING COUNT(*) > 1",
    "verify_json_extract": (
        "SELECT tenant_id, COUNT(get_json_object(payload, '$.caller')) AS callers,"
        " COUNT(get_json_object(payload, '$.from_phone')) AS senders FROM wh GROUP BY tenant_id"
    ),
    "verify_sampling_rate": "SELECT AVG(CAST(sampled AS DOUBLE)) AS rate FROM wh",
}

# Nominal pass wall times at local[4], used only to turn --seconds into a
# fixed pass count.
ANALYTICS_PASS_S = 5.0
LLM_OPS_PASS_S = 5.0

SETUP_ROUNDS = 3
PROBE_FILES = 20  # spool files in the layer probe's backlog drain
FILE_MESSAGES = round(gen.TRAFFIC["rate_per_s"] * gen.TRAFFIC["file_interval_s"])
BURST_FILES = 20  # spool files written at once in the backlog burst
BURST_FILE_MESSAGES = 40  # per burst file: 800 messages in all
PROBE_BATCH_MESSAGES = 2000  # the batch the ingest-chain probes time
WARM_FILES = 5  # spool files in the warm-up batch
RAMP_S = 6.0  # open-loop warm-up before the measured files
# Four passes keep an ingest run near a minute with the warm-up ramp included.
VERIFY_PASSES = 4
# Replay attempts before a message is parked: none, so one replay cycle
# parks every malformed message. A second cycle would only re-run, on
# messages that fail again, the ingest chain the stream already measures,
# and would lengthen every run by a replay job.
REPLAY_MAX_ATTEMPTS = 0


# Top-level spans outside the measured part of a run.
UNMEASURED_SPANS = ("setup", "warmup", "check")


class GuardError(RuntimeError):
    """The run did not measure what it claims (caches not cold or not
    warm); it must not report numbers."""


@dataclass
class Result:
    setup_s: float
    latencies: list[float]  # per operation: spool file (ingest_stream) or query
    passes: list[float]
    attempted: int
    query_latencies: list[float] = field(default_factory=list)  # per query, every workload
    drain_rows_per_s: float | None = None  # ingest_stream only
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced runs)
    per_pass: bool = False  # event-log counts per pass (query mixes) or per run
    record: dict = field(default_factory=dict)  # run facts printed before the result


class Run:
    """State of one benchmark run: the session, the tracer and failures."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool, cores: int):
        self.work, self.seed, self.seconds, self.trace, self.cores = work, seed, seconds, trace, cores
        self.spark = None
        self.tracer = M.Tracer()
        self.failures: list[str] = []
        self.attempted = 0
        self.session_times: list[tuple[float, float]] = []

    def fail(self, what: str) -> None:
        self.failures.append(what)

    # -- session -------------------------------------------------------------

    def start_session(self) -> None:
        """(Re)start the SparkSession: the first call launches the JVM, later
        ones start a new application in it (caches keyed by application id
        start cold again)."""
        from drive_health_etl_spark.session import get_spark, ship_package

        if self.spark is not None:
            self.spark.stop()
        t0 = time.monotonic()
        self.spark = get_spark("perfbench", cpus=self.cores)
        self.spark.range(1).count()
        t1 = time.monotonic()
        ship_package(self.spark)
        t2 = time.monotonic()
        self.session_times.append((t1 - t0, t2 - t1))
        if self.trace:
            self.tracer.sc = self.spark.sparkContext

    def setup_rounds(self, make_inputs) -> float:
        """Session start plus input generation, several times; the median."""
        rounds = []
        with self.tracer.span("setup"):
            for _ in range(SETUP_ROUNDS):
                t0 = time.monotonic()
                self.start_session()
                make_inputs()
                rounds.append(time.monotonic() - t0)
        return M.median(rounds)

    # -- queries ---------------------------------------------------------------

    def run_query(self, name: str, build):
        """One query execution: build the DataFrame, write it to the noop
        sink. Returns the wall time and the built DataFrame, or None when it
        raised."""
        self.attempted += 1
        try:
            with self.tracer.span("query", query=name) as q:
                with self.tracer.span("plans.build"):
                    df = build()
                with self.tracer.span("plans.execute"):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failed query is a measured outcome
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            return None
        return q.duration, df

    def session_layers(self) -> dict:
        return {
            "session.get_spark_s": M.median([a for a, _ in self.session_times]),
            "session.ship_package_s": M.median([b for _, b in self.session_times]),
        }


# --- query mixes ----------------------------------------------------------------

def _registry():
    from drive_health_etl_spark.plans.registry import REGISTRY

    return REGISTRY


def _oracle_check(run: Run, frames: dict, sf_dir: str) -> None:
    """Untimed: each query's result against its DuckDB twin on ``sf_dir``;
    every mismatch is a failure. ``frames`` holds the DataFrames the pass
    built, so the check collects the very plan that was timed without
    building it again."""
    import duckdb

    from tests.oracle_check import compare_query

    reg = _registry()
    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, df in frames.items():
            run.attempted += 1
            try:
                r = compare_query(run.spark, con, name, lambda *_, df=df: df, reg[name][1], sf_dir)
            except Exception as e:
                r = {"ok": False, "why": f"{type(e).__name__}: {str(e)[:200]}"}
            if not r["ok"]:
                run.fail(f"oracle {name} on {os.path.basename(sf_dir)}: {r['why'][:300]}")
    finally:
        con.close()


@dataclass
class Pass:
    wall: float
    latencies: list[float]
    fitcache_builds: int
    frames: dict  # query name -> the DataFrame the pass built and ran


def _mix_pass(run: Run, names, sf_dir: str) -> Pass:
    reg = _registry()
    before = M.fitcache_keys()
    lat, frames = [], {}
    with run.tracer.span("pass", sf_dir=sf_dir) as p:
        for name in names:
            r = run.run_query(name, lambda fn=reg[name][0]: fn(run.spark, sf_dir))
            if r is not None:
                lat.append(r[0])
                frames[name] = r[1]
    return Pass(p.duration, lat, M.fitcache_builds(before, M.fitcache_keys()), frames)


def _n_passes(seconds: int, nominal_pass_s: float) -> int:
    """Whole passes filling about ``seconds`` at local[4]. The count
    depends on the run length only, never on how fast passes ran, so every
    run and every commit does the same work and a median never mixes pass
    positions on the JIT warm-up curve."""
    return max(1, round(seconds / nominal_pass_s))


def analytics_mix(run: Run) -> Result:
    """Warm dashboard traffic: every pass re-reads the same dataset."""
    base, data = os.path.join(run.work, "base"), os.path.join(run.work, "data")
    names = ANALYTICS_QUERIES
    setup = run.setup_rounds(
        lambda: gen.permute_tables(gen.write_tables(base, DATA_SEED, SF), data, run.seed))
    rng = np.random.default_rng(run.seed)
    t0 = time.monotonic()
    with run.tracer.span("warmup"):
        warm = _mix_pass(run, names, data)
    setup += time.monotonic() - t0
    with run.tracer.span("check"):
        _oracle_check(run, warm.frames, data)

    passes = []
    for _ in range(_n_passes(run.seconds, ANALYTICS_PASS_S)):
        # a seeded query order per pass: dashboards refresh in no fixed order
        passes.append(_mix_pass(run, [names[i] for i in rng.permutation(len(names))], data))
    builds = [p.fitcache_builds for p in passes]
    if any(builds):
        raise GuardError(f"warm analytics pass rebuilt {builds} FitCache entries")
    return _mix_result(run, setup, passes)


def llm_ops_mix(run: Run) -> Result:
    """One-shot corpus processing: every pass reads a fresh row permutation
    of the tables, a new dataset path, so per-dataset caches start cold."""
    base = os.path.join(run.work, "base")
    names = LLM_OPS_QUERIES
    setup = run.setup_rounds(lambda: gen.write_tables(base, DATA_SEED, SF))
    t0 = time.monotonic()
    with run.tracer.span("warmup"):
        _mix_pass(run, names, base)
    setup += time.monotonic() - t0

    # The query order is fixed: the seed only permutes rows, so every seed
    # does the same work in the same order.
    passes = []
    for i in range(_n_passes(run.seconds, LLM_OPS_PASS_S)):
        sf_dir = gen.permute_tables(base, os.path.join(run.work, f"pass{i}"), run.seed * 1000 + i)
        p = _mix_pass(run, names, sf_dir)
        if p.fitcache_builds == 0:
            raise GuardError(f"LLM-ops pass {i} built no FitCache entries: caches were not cold")
        passes.append(p)
        with run.tracer.span("check"):
            _oracle_check(run, p.frames, sf_dir)
        shutil.rmtree(sf_dir, ignore_errors=True)
    return _mix_result(run, setup, passes)


def _mix_result(run: Run, setup: float, passes: list[Pass]) -> Result:
    builds = [p.fitcache_builds for p in passes]
    lat = [x for p in passes for x in p.latencies]
    res = Result(setup_s=setup, latencies=lat, passes=[p.wall for p in passes], attempted=run.attempted,
                 query_latencies=lat,
                 record={"fitcache_builds_per_pass": builds}, per_pass=True)
    if run.trace:
        res.layers = {"fitcache.builds": M.median(builds), **run.session_layers(),
                      **ingest_probe(run)}
    return res


# --- streaming ingest -------------------------------------------------------------

class _Generator(threading.Thread):
    """Open-loop load generator: writes spool file i at its due time,
    however far the stream has fallen behind. The messages are made before
    it starts, so the thread holds the interpreter only to write files."""

    def __init__(self, spool: str, files: list[M.DueFile], bodies: list[list[dict]]):
        super().__init__(daemon=True)
        self.spool, self.files, self.bodies = spool, files, bodies
        self.error: BaseException | None = None

    def run(self):
        from drive_health_etl_spark.sources.envelope_source import write_spool_file

        try:
            for f, msgs in zip(self.files, self.bodies):
                delay = f.due - time.time()
                if delay > 0:
                    time.sleep(delay)
                write_spool_file(self.spool, msgs, f"{f.index:08d}.jsonl")
                f.written, f.rows = time.time(), len(msgs)
        except BaseException as e:  # reported by the caller after join
            self.error = e


class _Ingest:
    """Paths and traffic of one streaming ingest target."""

    def __init__(self, run: Run, name: str, seed: int):
        d = os.path.join(run.work, name)
        self.spool, self.wh, self.dlq = f"{d}/spool", f"{d}/warehouse", f"{d}/dlq"
        self.parking, self.ckpt = f"{d}/parking", f"{d}/checkpoint"
        self.traffic = gen.EnvelopeTraffic(seed)
        self.files: list[M.DueFile] = []
        os.makedirs(self.spool, exist_ok=True)

    def config(self):
        from drive_health_etl_spark.streaming.ingest_stream import StreamIngestConfig

        return StreamIngestConfig(input_path=self.spool, warehouse_path=self.wh, dlq_path=self.dlq,
                                  checkpoint_path=self.ckpt, audit_rate=1.0, source_format="envelope")

    def write_now(self, n_files: int, per_file: int) -> list[M.DueFile]:
        from drive_health_etl_spark.sources.envelope_source import write_spool_file

        bodies = [self.traffic.next_file(per_file) for _ in range(n_files)]
        now = time.time()
        out = []
        for msgs in bodies:
            f = M.DueFile(index=len(self.files), due=now)
            write_spool_file(self.spool, msgs, f"{f.index:08d}.jsonl")
            f.written, f.rows = time.time(), len(msgs)
            self.files.append(f)
            out.append(f)
        return out


def _progress(query) -> list[dict]:
    import json

    return [json.loads(p.json()) for p in query._jsq.recentProgress()]


def _await_offset(query, n_files: int, timeout: float) -> None:
    """Wait until the stream has committed a batch ending at ``n_files``.
    Polls only the last progress record: the poll shares the interpreter
    with the stream's foreachBatch callback, so it must stay cheap however
    many batches have run."""
    import json

    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        last = query._jsq.lastProgress()
        if last is not None:
            src = (json.loads(last.json()).get("sources") or [{}])[0]
            if M.files_offset(src.get("endOffset")) >= n_files:
                return
        time.sleep(0.1)
    raise TimeoutError(f"stream did not reach {n_files} files in {timeout}s")


def _drain_available_now(run: Run, tgt: _Ingest, n_files: int) -> tuple[list[M.Batch], float, int]:
    """Backlog burst: ``n_files`` spool files appear at once; an
    available-now stream drains them. Returns batches, wall and rows."""
    from drive_health_etl_spark.streaming.ingest_stream import start_stream_ingest

    burst = tgt.write_now(n_files, BURST_FILE_MESSAGES)
    with run.tracer.span("drain") as s:
        q = start_stream_ingest(run.spark, tgt.config(), available_now=True)
        q.awaitTermination()
    bs = [b for b in M.batches_from_progress(_progress(q)) if b.end_files > burst[0].index]
    _batch_spans(run, s, bs)
    return bs, s.duration, sum(f.rows for f in burst)


def _replay_until_parked(run: Run, tgt: _Ingest, max_cycles: int) -> tuple[list[float], list]:
    from drive_health_etl_spark.operators.dlq import run_replay_job

    times, stats = [], []
    for _ in range(max_cycles):
        if not os.path.isdir(tgt.dlq):
            break
        with run.tracer.span("dlq.replay") as s:
            st = run_replay_job(run.spark, tgt.dlq, tgt.wh, tgt.parking, max_attempts=REPLAY_MAX_ATTEMPTS)
        times.append(s.duration)
        stats.append(st)
        if st.n_replayed == 0:
            break
    return times, stats


def ingest_stream(run: Run) -> Result:
    from drive_health_etl_spark.streaming.ingest_stream import start_stream_ingest

    tgt = _Ingest(run, "stream", run.seed)
    setup = run.setup_rounds(lambda: None)
    interval = gen.TRAFFIC["file_interval_s"]
    q = None
    try:
        # Warm-up: start the stream and let it commit one batch, which
        # creates the warehouse. Then the open loop runs for RAMP_S before
        # the first measured file is due: its batches are the first to run
        # the dedup against the warehouse, and the slow early batches of a
        # fresh JVM, with the backlog they leave, are over by then.
        t0 = time.monotonic()
        with run.tracer.span("warmup"):
            q = start_stream_ingest(run.spark, tgt.config(), available_now=False)
            tgt.write_now(WARM_FILES, FILE_MESSAGES)
            _await_offset(q, len(tgt.files), timeout=120)
            n_ramp, n_files = int(RAMP_S / interval), int(run.seconds / interval)
            bodies = [tgt.traffic.next_file(FILE_MESSAGES) for _ in range(n_ramp + n_files)]
            start = time.time() + interval
            planned = [M.DueFile(len(tgt.files) + i, due)
                       for i, due in enumerate(M.due_times(start, interval, n_ramp + n_files))]
            tgt.files += planned
            sched = planned[n_ramp:]
            g = _Generator(tgt.spool, planned, bodies)
            g.start()
            time.sleep(max(0.0, sched[0].due - time.time()))
        setup += time.monotonic() - t0

        # Phase 1: open loop at a fixed rate; the files due in the run length
        # are measured.
        use0 = _usage(run)
        with run.tracer.span("stream") as stream:
            g.join(timeout=run.seconds + 60)
            if g.is_alive() or g.error is not None:
                raise RuntimeError(f"load generator failed: {g.error}")
            _await_offset(q, len(tgt.files), timeout=60)
        use1 = _usage(run)

        # Phase 2: a backlog burst lands at once; the running stream drains it.
        with run.tracer.span("drain") as drain:
            burst = tgt.write_now(BURST_FILES, BURST_FILE_MESSAGES)
            _await_offset(q, len(tgt.files), timeout=120)
        batches = M.batches_from_progress(_progress(q))
    finally:
        if q is not None:
            q.stop()
    stream_batches = [b for b in batches if sched[0].index < b.end_files <= sched[-1].index + 1]
    drain_batches = [b for b in batches if b.end_files > burst[0].index]
    _batch_spans(run, stream, stream_batches)
    _batch_spans(run, drain, drain_batches)
    lat = M.commit_latencies(sched, stream_batches)
    for f in sched:
        if f.index not in lat:
            run.fail(f"spool file {f.index} never committed")
    drain_rate = sum(f.rows for f in burst) / drain.duration

    # Phase 3: the reference's verification reads, closed loop.
    verify_passes, verify_lat = _verify(run, tgt.wh)

    # Phase 4: replay the DLQ until the malformed messages are parked.
    replay_times, replay_stats = _replay_until_parked(run, tgt, max_cycles=4)

    run.attempted += tgt.traffic.expected.sent
    with run.tracer.span("check"):
        _check_ingest(run, tgt, replay_stats)
    res = Result(
        setup_s=setup, latencies=list(lat.values()), passes=verify_passes,
        attempted=run.attempted, query_latencies=verify_lat,
        drain_rows_per_s=drain_rate,
        record={"generator_lag": M.generator_lag(sched, interval),
                "stream_usage": {k: use1[k] - use0[k] for k in use0},
                "stream_batches": [{"files": b.end_files - b.start_files, "trigger_s": b.end - b.start}
                                   for b in stream_batches]},
    )
    if run.trace:
        res.layers = {
            **run.session_layers(), "fitcache.builds": 0,
            **_stream_layers(tgt, sched, stream_batches + drain_batches, drain_rate, lat, interval),
            **_replay_layers(replay_times, replay_stats),
            **_batch_probes(run, tgt.wh),
        }
    return res


def _usage(run: Run) -> dict:
    """Cumulative CPU use: the process tree's, the host's steal, and the
    JVM's garbage collection."""
    beans = run.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return {**M.cpu_times(), "jvm_gc_s": sum(b.getCollectionTime() for b in beans) / 1000}


def _batch_spans(run: Run, parent: M.Span, batches: list[M.Batch]) -> None:
    for b in batches:
        run.tracer.add("micro_batch", parent, b.start, b.end, batch_id=b.batch_id, rows=b.rows)


def _verify(run: Run, wh: str) -> tuple[list[float], list[float]]:
    passes, lat = [], []
    for _ in range(VERIFY_PASSES):
        with run.tracer.span("pass") as p:
            for name, sql in VERIFY_SQL.items():
                r = run.run_query(name, lambda sql=sql: _wh_sql(run.spark, wh, sql))
                if r is not None:
                    lat.append(r[0])
        passes.append(p.duration)
    return passes, lat


def _wh_sql(spark, wh: str, sql: str):
    spark.read.parquet(wh).createOrReplaceTempView("wh")
    return spark.sql(sql)


def _check_ingest(run: Run, tgt: _Ingest, replay_stats) -> None:
    """Untimed: the warehouse holds each distinct valid key exactly once with
    normalized phones; every malformed message reached the DLQ and then the
    parking lot; the verification reads agree with the generator."""
    import json
    from collections import Counter

    from drive_health_etl_spark.functions.phone import normalize_phone_py

    spark, exp = run.spark, tgt.traffic.expected
    rows = spark.read.parquet(tgt.wh).select("idempotency_key", "payload").collect()
    counts = Counter(r["idempotency_key"] for r in rows)
    for k in exp.keys - counts.keys():
        run.fail(f"lost message {k}")
    for k in counts.keys() - exp.keys:
        run.fail(f"misrouted or invented key {k}")
    for k, c in counts.items():
        if c > 1:
            run.fail(f"duplicated key {k} x{c}")
    for r in rows:
        raw = exp.phones.get(r["idempotency_key"])
        if raw is None:
            continue
        payload = json.loads(r["payload"])
        for fld, phone in raw.items():
            if payload.get(fld) != normalize_phone_py(phone):
                run.fail(f"phone {fld} of {r['idempotency_key']}: {payload.get(fld)!r}")
    first_dlq = replay_stats[0].n_replayed + replay_stats[0].n_parked if replay_stats else 0
    if first_dlq != exp.malformed:
        run.fail(f"DLQ held {first_dlq} messages, {exp.malformed} malformed were sent")
    parked = spark.read.parquet(tgt.parking).count() if os.path.isdir(tgt.parking) else 0
    if parked != exp.malformed:
        run.fail(f"parking lot holds {parked}, {exp.malformed} malformed were sent")
    dups = _wh_sql(spark, tgt.wh, VERIFY_SQL["verify_duplicate_keys"]).count()
    if dups:
        run.fail(f"verification read found {dups} duplicate keys")


def _mean(xs) -> float:
    """Progress durations are whole milliseconds; their mean keeps the
    digits a median of a few batches would round away."""
    return sum(xs) / len(xs) if xs else 0.0


def _stream_layers(tgt: _Ingest, sched: list[M.DueFile], batches: list[M.Batch], drain_rate: float,
                   lat: dict, interval: float) -> dict:
    n = max(1, len(batches))
    trig = [b.durations_ms.get("triggerExecution", 0) / 1000 for b in batches]
    add = [b.durations_ms.get("addBatch", 0) / 1000 for b in batches]
    read = [b.durations_ms.get("latestOffset", 0) + b.durations_ms.get("getBatch", 0) for b in batches]
    files = [os.path.join(d, f) for d, _, fs in os.walk(tgt.wh) for f in fs if f.endswith(".parquet")]
    rows = sum(b.rows for b in batches)
    backlog = [b.end_files - b.start_files for b in batches]
    p90 = M.percentile_at(list(lat.values()), 90)
    return {
        "sources.spool_read_ms": _mean(read),
        "sources.backlog_files_max": max(backlog, default=0),
        "sources.generator_lag_s": M.generator_lag(sched, interval)["max_s"],
        "streaming.batches": len(batches),
        "streaming.rows_per_batch": rows / n,
        "streaming.trigger_s": _mean(trig),
        "streaming.add_batch_s": _mean(add),
        "streaming.engine_overhead_s": _mean([t - a for t, a in zip(trig, add)]),
        "streaming.files_written_per_batch": len(files) / n,
        "streaming.bytes_written_per_row": sum(os.path.getsize(f) for f in files) / max(1, rows),
        "streaming.warehouse_files_total": len(files),
        "streaming.drain_rows_per_s": drain_rate,
        "streaming.commit_latency_p90_s": p90 if p90 is not None else max(lat.values(), default=0.0),
    }


def _replay_layers(times, stats) -> dict:
    return {
        "dlq.replay_job_s": M.median(times) if times else 0.0,
        "dlq.n_replayed": sum(s.n_replayed for s in stats),
        "dlq.n_parked": sum(s.n_parked for s in stats),
        "dlq.n_recovered": sum(s.n_recovered for s in stats),
    }


def _batch_probes(run: Run, wh: str) -> dict:
    """Noop-timed calls into the ingest chain on one seeded batch."""
    from pyspark.sql import functions as F

    from drive_health_etl_spark.functions.phone import process_payload_udf
    from drive_health_etl_spark.operators.ingest import decode_messages, ingest, validate_envelopes
    from drive_health_etl_spark.sources.envelopes import fixture_df
    from drive_health_etl_spark.streaming.ingest_stream import dedup_against_warehouse

    spark = run.spark
    traffic = gen.EnvelopeTraffic(run.seed + 2)
    raw = fixture_df(spark, traffic.next_file(PROBE_BATCH_MESSAGES)).persist()
    raw.count()

    def timed(df) -> float:
        ts = []
        for _ in range(3):
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.monotonic() - t0)
        return M.median(ts)

    validated = validate_envelopes(decode_messages(raw))
    payloads = validated.filter(F.col("status").isNull()).select("payload").persist()
    payloads.count()
    res = ingest(raw, normalize_phones=False)
    rows = res.warehouse.withColumn("event_date", F.to_date("occurred_at"))
    out = {
        "ingest.decode_validate_s": timed(validated),
        "ingest.chain_s": timed(res.warehouse),
        "functions.phone_udf_s": timed(payloads.select(process_payload_udf("payload"))),
        "ingest.dedup_against_warehouse_s": timed(dedup_against_warehouse(spark, wh, rows)),
    }
    n_valid = payloads.count()
    out["ingest.dup_drop_ratio"] = 1 - res.warehouse.count() / max(1, n_valid)
    out["ingest.dlq_rows"] = res.dlq.count()
    payloads.unpersist()
    raw.unpersist()
    return out


def ingest_probe(run: Run) -> dict:
    """The ingest layers on the query mixes' traced runs: a backlog drain of
    a fixed seeded spool, one DLQ replay cycle and the batch probes, so
    every workload reports every layer."""
    tgt = _Ingest(run, "probe", run.seed + 3)
    batches, wall, rows = _drain_available_now(run, tgt, PROBE_FILES)
    lat = M.commit_latencies(tgt.files, batches)
    times, stats = _replay_until_parked(run, tgt, max_cycles=1)
    return {
        **_stream_layers(tgt, tgt.files, batches, rows / wall, lat, gen.TRAFFIC["file_interval_s"]),
        **_replay_layers(times, stats),
        **_batch_probes(run, tgt.wh),
    }


def spark_layers(run: Run, log: M.EventLog, res: Result) -> dict:
    """Event-log counts per measured unit (a query-mix pass; the whole
    measured part of an ingest run), as medians over units, plus the plan
    build/execute split and the streaming per-batch job counts."""
    spans = run.tracer.spans
    jobs = M.attribute_jobs(log, spans)
    kids: dict[str | None, list[M.Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(s: M.Span) -> list[M.Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids.get(x.span_id, []))
        return out

    top = [s for s in kids.get(None, []) if s.name not in UNMEASURED_SPANS]
    if res.per_pass:
        units = [[s] for s in top if s.name == "pass"]
    else:
        units = [top]
    per_unit = []
    for unit in units:
        members = [x for s in unit for x in subtree(s)]
        tot = M.spark_totals(log, [j for x in members for j in jobs[x.span_id]])
        wall = sum(s.duration for s in unit)
        tot["core_util"] = tot["task_run_s"] / (wall * run.cores) if wall else 0.0
        per_unit.append(tot)
    out = {f"spark.{k}": M.median([u[k] for u in per_unit]) for k in per_unit[0]}

    measured = [x for unit in units for s in unit for x in subtree(s)]
    builds = [x for x in measured if x.name == "plans.build"]
    execs = [x for x in measured if x.name == "plans.execute"]
    out["plans.build_s"] = M.median([x.duration for x in builds]) if builds else 0.0
    out["plans.execute_s"] = M.median([x.duration for x in execs]) if execs else 0.0
    out["plans.build_jobs"] = M.median([len(jobs[x.span_id]) for x in builds]) if builds else 0

    per_batch = [M.spark_totals(log, jobs[s.span_id]) for s in spans if s.name == "micro_batch"]
    out["streaming.jobs_per_batch"] = _mean([t["jobs"] for t in per_batch])
    out["streaming.stages_per_batch"] = _mean([t["stages"] for t in per_batch])
    return out


LAYER_UNITS = {
    "session.get_spark_s": "s", "session.ship_package_s": "s",
    "sources.spool_read_ms": "ms", "sources.backlog_files_max": "count",
    "sources.generator_lag_s": "s",
    "streaming.batches": "count", "streaming.rows_per_batch": "rows", "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s", "streaming.engine_overhead_s": "s",
    "streaming.jobs_per_batch": "count", "streaming.stages_per_batch": "count",
    "streaming.files_written_per_batch": "count", "streaming.bytes_written_per_row": "B",
    "streaming.warehouse_files_total": "count", "streaming.drain_rows_per_s": "rows/s",
    "streaming.commit_latency_p90_s": "s",
    "ingest.decode_validate_s": "s", "ingest.chain_s": "s", "functions.phone_udf_s": "s",
    "ingest.dedup_against_warehouse_s": "s", "ingest.dup_drop_ratio": "ratio", "ingest.dlq_rows": "count",
    "dlq.replay_job_s": "s", "dlq.n_replayed": "count", "dlq.n_parked": "count", "dlq.n_recovered": "count",
    "plans.build_s": "s", "plans.execute_s": "s", "plans.build_jobs": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.single_task_stages": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.core_util": "ratio",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.input_rows": "rows",
    "fitcache.builds": "count",
}


WORKLOADS = {
    "ingest_stream": ingest_stream,
    "analytics_mix": analytics_mix,
    "llm_ops_mix": llm_ops_mix,
}
