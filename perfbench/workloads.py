"""The benchmark workloads. Each drives only the engine's public entry
points (``get_spark``, ``load_table``, ``REGISTRY[q].builder`` and the
streaming topology functions) on generated files.

- ``batch-dupheavy`` / ``batch-unique``: a closed loop with one client
  running ``MIX`` into the noop sink, caches cleared between queries.
- ``stream-classify``: the reference's production path
  ``read_message_stream(json-files) -> parse_messages ->
  classify_stream_model -> write_idempotent_parquet(trigger_seconds=0)``,
  first as repeated drains of a fixed backlog, then as an open loop at
  ``OPEN_RATE`` rows/s fed by one generator thread.
"""

from __future__ import annotations

import collections
import datetime
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

import corpus
import gate
import probes

from news_categorization_big_data_spark.functions.cachepin import release_pins
from news_categorization_big_data_spark.plans import REGISTRY
from news_categorization_big_data_spark.session import get_spark
from news_categorization_big_data_spark.sources.tables import load_table
from news_categorization_big_data_spark.streaming import topology

MIX = (
    "q_dedup_ngram_jaccard",
    "q_dedup_fuzzy",
    "q_dedup_near",
    "q_pipeline_curate",
    "q_classify_keywords",
    "q_ml_classify",
)
#: Set-ups per run; the first launches the JVM, the others rebuild the
#: session inside it. ``setup_s`` is their median.
SETUPS = 3
#: Nominal warm-pass length: ``--seconds`` becomes a FIXED pass count, so
#: every run stops at the same point of the JIT warm-up curve.
BATCH_PASS_S = 8.0
MIN_WARM = 2
#: Stream shape. Backlog: few large files, one micro-batch per drain.
BACKLOG_FILES, BACKLOG_ROWS = 8, 2500
#: Drains: the cold one, ``WARMUP_DRAINS`` dropped warm-up drains, then the warm ones.
STREAM_DRAINS, WARMUP_DRAINS = 6, 2
#: Open loop: one file every ``OPEN_TICK_S`` carrying ``OPEN_RATE * OPEN_TICK_S`` rows,
#: for ``--seconds``. Per-batch cost still falls for the first seconds of
#: small batches (JIT of the per-trigger path), so event latency is taken
#: over the events due after the first ``OPEN_WARMUP`` share of the loop.
OPEN_RATE, OPEN_TICK_S, OPEN_WARMUP = 1000, 0.1, 1 / 3
DURATION_PARTS = ("addBatch", "commitOffsets", "getBatch", "latestOffset", "queryPlanning", "walCommit")


@dataclass
class Result:
    metrics: dict
    tally: gate.Tally
    inputs: dict
    layers: dict
    spans: list


def median(xs) -> float:
    return float(statistics.median(xs))


def pctl(xs, p: float) -> float:
    return float(statistics.quantiles(xs, n=100, method="inclusive")[int(p) - 1])


def _inputs_dir(inputs_dir: str, kind: str, params, seed: int) -> str:
    """Cache directory of one input set: its generator parameters are part
    of the name, so changing a shape never reuses stale files."""
    key = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
    return os.path.join(inputs_dir, f"{kind}-{key}-{seed}")


def _cached_inputs(path: str, make) -> dict:
    """Build inputs once per seed; later runs reuse them untouched."""
    desc_file = os.path.join(path, "inputs.json")
    if not os.path.exists(desc_file):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        desc = make(tmp)
        with open(os.path.join(tmp, "inputs.json"), "w") as f:
            json.dump(desc, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(desc_file) as f:
        return json.load(f)


def _setups(make_source) -> tuple[object, list[dict]]:
    """Set up SETUPS times: ``get_spark``, a trivial job, the input relation."""
    spark, rows = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark()
        t1 = time.perf_counter()
        spark.range(1).count()
        t2 = time.perf_counter()
        make_source(spark)
        t3 = time.perf_counter()
        rows.append({"get_spark_s": t1 - t0, "first_job_s": t2 - t1, "load_s": t3 - t2, "total_s": t3 - t0})
    return spark, rows


def shutdown_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the launcher exits on EOF
    try:
        gw.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _event_log(spark, run_dir: str) -> probes.EventLog:
    """Stop the session (flushing its event log) and parse that log."""
    app = spark.sparkContext.applicationId
    spark.stop()
    return probes.EventLog(os.path.join(run_dir, "events"), app)


def _common_layers(setups: list[dict]) -> dict:
    return {
        "session.get_spark_s": median(s["get_spark_s"] for s in setups),
        "session.first_setup_s": setups[0]["total_s"],
        "sources.load_s": median(s["load_s"] for s in setups),
    }


def _end_to_end(setups, cold, warm, warm_cpu, rss, latencies) -> dict:
    return {
        "setup_s": median(s["total_s"] for s in setups),
        "cold_pass_s": cold,
        "warm_pass_s": median(warm),
        "warm_pass_cpu_s": median(warm_cpu),
        "peak_rss_mb": rss,
        "event_latency_p50_s": median(latencies),
        "event_latency_p90_s": pctl(latencies, 90),
    }


# ---------------------------------------------------------------- batch


def run_batch(shape: str, seed: int, seconds: float, trace: bool, inputs_dir: str, run_dir: str) -> Result:
    docs_dir = _inputs_dir(inputs_dir, shape, corpus.SHAPES[shape], seed)
    desc = _cached_inputs(docs_dir, lambda d: corpus.write_corpus(seed, shape, d))
    oracles = _oracle_digests(docs_dir)
    spans = probes.Spans(trace, f"batch-{shape}-{seed}")
    with spans.span("setup"):
        spark, setups = _setups(lambda s: load_table(s, docs_dir, "documents"))
    jvm = spark._jvm.ProcessHandle.current().pid()
    n_warm = max(MIN_WARM, round(seconds / BATCH_PASS_S))
    tally = gate.Tally()
    passes = []
    for k in range(1 + n_warm):
        with spans.span(f"pass{k}"):
            passes.append(_batch_pass(spark, docs_dir, k, jvm, spans, trace, tally, oracles if k == n_warm else None))
    rss = probes.peak_rss_mb(jvm)
    if trace:
        for p in passes:  # Catalyst phases of each built frame, outside the timed ops
            for q, op in p.items():
                op["plan_ms"] = _plan_ms(op.pop("df"))
        log = _event_log(spark, run_dir)
        for p in passes:
            for op in p.values():
                op["spark_build"] = log.window(op["w0"], op["w1"])
                op["spark_exec"] = log.window(op["w1"], op["w2"])

    warm = passes[1:]
    metrics = _end_to_end(
        setups,
        cold=sum(op["op_s"] for op in passes[0].values()),
        warm=[sum(op["op_s"] for op in p.values()) for p in warm],
        warm_cpu=[sum(op["cpu_s"] for op in p.values()) for p in warm],
        rss=rss,
        latencies=[op["op_s"] for p in warm for op in p.values()],
    )
    layers = {}
    if trace:
        metrics.update(_common_layers(setups))
        metrics["plans.build_s"] = median(sum(op["build_s"] for op in p.values()) for p in warm)
        metrics["plans.exec_s"] = median(sum(op["exec_s"] for op in p.values()) for p in warm)
        metrics["spark.plan_ms"] = median(sum(op["plan_ms"] for op in p.values()) for p in warm)
        for key in ("jobs", "tasks", "single_task_stages", "task_s", "task_cpu_s", "gc_s", "shuffle_mb"):
            metrics[f"spark.{key}"] = median(
                sum(op["spark_build"][key] + op["spark_exec"][key] for op in p.values()) for p in warm
            )
        metrics["spark.max_task_s"] = median(
            max(max(op["spark_build"]["max_task_s"], op["spark_exec"]["max_task_s"]) for op in p.values())
            for p in warm
        )
        metrics["jvm.jit_cpu_s"] = median(sum(op["jit_s"] for op in p.values()) for p in warm)
        metrics["trace.warm_pass_s"] = metrics["warm_pass_s"]
        layers = _batch_layers(passes, setups)
    inputs = {"workload": f"batch-{shape}", **desc, "warm_passes": n_warm,
              "op_s": {q: [round(p[q]["op_s"], 3) for p in passes] for q in MIX}}
    return Result(metrics, tally, inputs, layers, spans.items)


def _batch_pass(spark, docs_dir, k, jvm, spans, trace, tally, oracles: dict | None) -> dict:
    """One pass over MIX. Each op is timed from cache clearing to the end
    of its noop write; the oracle check runs after the op, untimed. An
    engine exception ends the run: partial passes would read as faster."""
    sc = spark.sparkContext
    ops = {}
    for q in MIX:
        c0, w0, t0 = probes.tree_cpu_s(jvm), time.time(), time.perf_counter()
        release_pins()
        spark.catalog.clearCache()
        if trace:
            sc.setJobGroup(q, f"pass{k}:build")
        with spans.span(f"{q}.build"):
            df = REGISTRY[q].builder(spark, docs_dir)
        t1, w1 = time.perf_counter(), time.time()
        if trace:
            sc.setJobDescription(f"pass{k}:exec")
        with spans.span(f"{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
        t2, w2 = time.perf_counter(), time.time()
        c1 = probes.tree_cpu_s(jvm)
        ops[q] = {"build_s": t1 - t0, "exec_s": t2 - t1, "op_s": t2 - t0, "cpu_s": c1[0] - c0[0],
                  "jit_s": c1[1] - c0[1], "w0": w0, "w1": w1, "w2": w2}
        if trace:
            ops[q]["df"] = df
        why = None
        if oracles is not None:
            if trace:
                sc.setJobGroup(q, f"pass{k}:check")
            why = gate.mismatch([tuple(r) for r in df.collect()], df.columns, oracles[q])
        tally.record(f"pass{k}:{q}", why)
    return ops


def _oracle_digests(docs_dir: str) -> dict[str, dict]:
    """DuckDB oracle digest of each MIX query on the corpus, computed once
    and kept beside the inputs, keyed by the oracle's SQL text."""
    import duckdb

    out, con = {}, None
    try:
        for q in MIX:
            sql = REGISTRY[q].oracle
            path = os.path.join(docs_dir, f"oracle-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.json")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb.connect()
                    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
                with open(path + ".tmp", "w") as f:
                    json.dump(gate.digest(*gate.duckdb_rows(con, sql)), f)
                os.replace(path + ".tmp", path)
            with open(path) as f:
                out[q] = json.load(f)
    finally:
        if con is not None:
            con.close()
    return out


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning of one built frame."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(sum(phases.apply(p).durationMs() for p in ("analysis", "optimization", "planning")))


def _batch_layers(passes: list[dict], setups: list[dict]) -> dict:
    warm = passes[1:]
    out: dict = {"setups": setups}
    for q in MIX:
        ops = [p[q] for p in warm]
        sb = [op["spark_build"] for op in ops]
        se = [op["spark_exec"] for op in ops]
        out[q] = {
            "plans.build_s": median(op["build_s"] for op in ops),
            "plans.exec_s": median(op["exec_s"] for op in ops),
            "plans.cold_s": passes[0][q]["op_s"],
            "plans.jobs_build": median(s["jobs"] for s in sb),
            "plans.jobs_exec": median(s["jobs"] for s in se),
            "spark.plan_ms": median(op["plan_ms"] for op in ops),
            **{f"spark.{k}": median(b[k] + e[k] for b, e in zip(sb, se))
               for k in ("tasks", "single_task_stages", "task_s", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb")},
            "spark.max_task_s": median(max(b["max_task_s"], e["max_task_s"]) for b, e in zip(sb, se)),
        }
    # Does the per-query split account for each pass's wall time?
    out["check.split_over_wall"] = [
        sum(op["build_s"] + op["exec_s"] for op in p.values())
        / (max(op["w2"] for op in p.values()) - min(op["w0"] for op in p.values()))
        for p in passes[:-1]  # the last pass also runs the untimed oracle checks
    ]
    return out


# ---------------------------------------------------------------- stream


_ISO = "%Y-%m-%dT%H:%M:%S.%fZ"


def _iso(t: float) -> str:
    """Epoch seconds as the payload's millisecond UTC stamp."""
    return datetime.datetime.fromtimestamp(t, datetime.timezone.utc).strftime(_ISO)[:-4] + "Z"


def _epoch(stamp: str) -> float:
    return datetime.datetime.strptime(stamp, _ISO).replace(tzinfo=datetime.timezone.utc).timestamp()


def _ms(t: float) -> int:
    return int(round(t * 1000))


def _write_backlog(seed: int, d: str) -> dict:
    src = os.path.join(d, "backlog")
    os.makedirs(src)
    rows = corpus.stream_payloads(seed, BACKLOG_FILES * BACKLOG_ROWS, "backlog")
    base = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc).timestamp()
    for i in range(BACKLOG_FILES):
        with open(os.path.join(src, f"part-{i:04d}.json"), "w") as f:
            for j in range(i * BACKLOG_ROWS, (i + 1) * BACKLOG_ROWS):
                f.write(corpus.payload_line(*rows[j], _iso(base + j / 1000)))
    return {"backlog_files": BACKLOG_FILES, "backlog_rows": len(rows)}


class _SinkTimer:
    """Wraps the sink write ``write_idempotent_parquet`` installs, to record
    when each batch's write returns (the end of its events' latency)."""

    def __init__(self, trace: bool):
        self.trace, self.batches = trace, []
        self._real = topology.idempotent_batch_writer

    def __enter__(self):
        def factory(out_dir: str):
            write = self._real(out_dir)

            def timed(batch_df, batch_id: int) -> None:
                if self.trace:
                    batch_df.sparkSession.sparkContext.setJobGroup(f"stream:{batch_id}", out_dir)
                t0 = time.time()
                write(batch_df, batch_id)
                self.batches.append({"out": out_dir, "batch_id": batch_id, "t0": t0, "t1": time.time()})

            return timed

        topology.idempotent_batch_writer = factory
        return self

    def __exit__(self, *exc):
        topology.idempotent_batch_writer = self._real


def _start(spark, src: str, out: str, ckpt: str):
    stream = topology.classify_stream_model(
        topology.parse_messages(topology.read_message_stream(spark, source="json-files", path=src))
    )
    return topology.write_idempotent_parquet(stream, out, ckpt, trigger_seconds=0)


def _progress(query) -> list[dict]:
    return [{"batch": p.batchId, "rows": p.numInputRows, "ts": p.timestamp, "ms": dict(p.durationMs)}
            for p in query.recentProgress]


def _read_out(out: str) -> tuple[collections.Counter, dict[int, list[float]]]:
    """Multiset of (content, event_ts ms) in a sink directory, and the event
    times (epoch s) of each batch."""
    t = pq.read_table(out, columns=["content", "event_ts", "batch_id"])
    us = t.column("event_ts").cast(pa.timestamp("us")).cast(pa.int64()).to_pylist()
    ms = [(u + 500) // 1000 for u in us]
    per_batch: dict[int, list[float]] = collections.defaultdict(list)
    for b, m in zip(t.column("batch_id").to_pylist(), ms):
        per_batch[int(b)].append(m / 1000)
    return collections.Counter(zip(t.column("content").to_pylist(), ms)), per_batch


def _delivery_faults(out: str, sent: collections.Counter, batch_ids: list[int]) -> int:
    """Rows lost or duplicated in ``out``. Every sink write must land in its
    own ``batch_id`` directory: a replayed or missing batch is one fault more."""
    got, _ = _read_out(out)
    dirs = sorted(int(n.split("=", 1)[1]) for n in os.listdir(out) if n.startswith("batch_id="))
    return sum(((sent - got) + (got - sent)).values()) + (dirs != sorted(batch_ids))


def _category_faults(spark, src: str, out: str) -> int:
    """Rows whose streamed classification differs from the same stage run
    as a batch over the same payload files."""
    cols = ["content", "category", "confidence", "event_ts"]
    want = topology.classify_stream_model(
        topology.parse_messages(spark.read.schema("value string").json(src))
    ).select(cols)
    got = spark.read.parquet(out).select(cols)
    return want.exceptAll(got).count() + got.exceptAll(want).count()


def run_stream(seed: int, seconds: float, trace: bool, inputs_dir: str, run_dir: str) -> Result:
    in_dir = _inputs_dir(inputs_dir, "stream", [BACKLOG_FILES, BACKLOG_ROWS], seed)
    desc = _cached_inputs(in_dir, lambda d: _write_backlog(seed, d))
    backlog = os.path.join(in_dir, "backlog")
    sent_backlog: collections.Counter = collections.Counter()
    for name in sorted(os.listdir(backlog)):
        with open(os.path.join(backlog, name)) as f:
            for line in f:
                p = json.loads(json.loads(line)["value"])
                sent_backlog[(p["content"], _ms(_epoch(p["event_ts"])))] += 1

    spans = probes.Spans(trace, f"stream-{seed}")
    tally = gate.Tally()
    with spans.span("setup"):
        spark, setups = _setups(
            lambda s: topology.read_message_stream(s, source="json-files", path=backlog)
        )
    jvm = spark._jvm.ProcessHandle.current().pid()
    drains, parents = [], {}
    with _SinkTimer(trace) as sink:
        for k in range(STREAM_DRAINS):
            out, ckpt = (os.path.join(run_dir, f"drain{k}", n) for n in ("out", "ckpt"))
            with spans.span(f"drain{k}") as sid:
                parents[out] = sid
                c0, w0, t0 = probes.tree_cpu_s(jvm), time.time(), time.perf_counter()
                query = _start(spark, backlog, out, ckpt)
                t1 = time.perf_counter()
                query.processAllAvailable()
                t2, w2 = time.perf_counter(), time.time()
                c2 = probes.tree_cpu_s(jvm)
            prog = _progress(query)
            query.stop()
            drains.append({"start_s": t1 - t0, "wait_s": t2 - t1, "drain_s": t2 - t0, "cpu_s": c2[0] - c0[0],
                           "jit_s": c2[1] - c0[1], "w0": w0, "w2": w2, "progress": prog, "out": out})
        with spans.span("open_loop") as sid:
            parents[os.path.join(run_dir, "open", "out")] = sid
            open_rec = _open_loop(spark, seed, seconds, run_dir)
    for b in sink.batches:  # sink writes ran on the stream's callback thread
        spans.add(f"sink_write:{b['batch_id']}", b["t0"], b["t1"], parents[b["out"]])
    rss = probes.peak_rss_mb(jvm)

    # Exactly-once delivery of every event and batch/stream classification
    # parity, untimed: each delivered row and each classified row is one
    # operation.
    with spans.span("check"):
        written = collections.defaultdict(list)
        for b in sink.batches:
            written[b["out"]].append(b["batch_id"])
        for k, d in enumerate(drains):
            tally.add(f"drain{k} delivery", sum(sent_backlog.values()),
                      _delivery_faults(d["out"], sent_backlog, written[d["out"]]))
        n_open = sum(open_rec["sent"].values())
        tally.add("open loop delivery", n_open,
                  _delivery_faults(open_rec["out"], open_rec["sent"], written[open_rec["out"]]))
        tally.add("open loop categories", n_open, _category_faults(spark, open_rec["src"], open_rec["out"]))

    _, per_batch = _read_out(open_rec["out"])
    ends = {b["batch_id"]: b["t1"] for b in sink.batches if b["out"] == open_rec["out"]}
    measured_from = open_rec["t0"] + OPEN_WARMUP * seconds
    latencies = [ends[b] - ts for b, tss in per_batch.items() for ts in tss if ts >= measured_from]
    warm = drains[1 + WARMUP_DRAINS:]
    metrics = _end_to_end(
        setups,
        cold=drains[0]["drain_s"],
        warm=[d["drain_s"] for d in warm],
        warm_cpu=[d["cpu_s"] for d in warm],
        rss=rss,
        latencies=latencies,
    )
    layers = {}
    if trace:
        log = _event_log(spark, run_dir)
        windows = [log.window(d["w0"], d["w2"]) for d in warm]
        metrics.update(_common_layers(setups))
        metrics["plans.build_s"] = median(d["start_s"] for d in warm)
        metrics["plans.exec_s"] = median(d["wait_s"] for d in warm)
        metrics["spark.plan_ms"] = median(sum(p["ms"].get("queryPlanning", 0) for p in d["progress"]) for d in warm)
        for key in ("jobs", "tasks", "single_task_stages", "task_s", "task_cpu_s", "gc_s", "max_task_s", "shuffle_mb"):
            metrics[f"spark.{key}"] = median(w[key] for w in windows)
        metrics["jvm.jit_cpu_s"] = median(d["jit_s"] for d in warm)
        metrics["trace.warm_pass_s"] = metrics["warm_pass_s"]
        layers = _stream_layers(drains, open_rec, sink.batches, latencies, setups, log)
        layers["open_loop"]["per_batch"] = [
            {"batch": p["batch"], "rows": p["rows"], "trigger_ms": p["ms"].get("triggerExecution"),
             "latency_p50_s": median(ends[p["batch"]] - t for t in per_batch[p["batch"]])}
            for p in open_rec["progress"] if p["rows"]
        ]
    inputs = {"workload": "stream-classify", **desc, "open_rows": sum(open_rec["sent"].values()),
              "open_rate_rows_s": OPEN_RATE, "latency_samples": len(latencies),
              "latency_batches": len(per_batch), "generator_late_s": open_rec["late_max_s"],
              "drain_s": [round(d["drain_s"], 3) for d in drains]}
    return Result(metrics, tally, inputs, layers, spans.items)


def _open_loop(spark, seed: int, seconds: float, run_dir: str) -> dict:
    """Offer OPEN_RATE rows/s for ``seconds``: one generator thread writes a
    file per tick, stamped with the tick's DUE time, so a stall that delays
    the generator still counts against latency."""
    base = os.path.join(run_dir, "open")
    src, staging, out, ckpt = (os.path.join(base, n) for n in ("src", "staging", "out", "ckpt"))
    os.makedirs(src)
    os.makedirs(staging)
    per_tick = int(OPEN_RATE * OPEN_TICK_S)
    ticks = max(1, int(seconds / OPEN_TICK_S))
    payloads = corpus.stream_payloads(seed, ticks * per_tick, "open")
    sent: collections.Counter = collections.Counter()
    written: list[float] = []
    late = [0.0]
    query = _start(spark, src, out, ckpt)

    t0 = time.time() + OPEN_TICK_S

    def generate() -> None:
        for i in range(ticks):
            due = t0 + i * OPEN_TICK_S
            time.sleep(max(0.0, due - time.time()))
            late[0] = max(late[0], time.time() - due)
            stamp = _iso(due)
            ms = _ms(_epoch(stamp))
            name = f"part-{i:05d}.json"
            with open(os.path.join(staging, name), "w") as f:
                for content, cat in payloads[i * per_tick : (i + 1) * per_tick]:
                    f.write(corpus.payload_line(content, cat, stamp))
                    sent[(content, ms)] += 1
            os.replace(os.path.join(staging, name), os.path.join(src, name))
            written.append(time.time())

    gen = threading.Thread(target=generate, name="perfbench-generator")
    gen.start()
    gen.join(timeout=seconds + 60)
    if gen.is_alive():
        raise RuntimeError("open-loop generator did not finish")
    query.processAllAvailable()
    prog = _progress(query)
    query.stop()
    return {"src": src, "out": out, "sent": sent, "written": written, "per_tick": per_tick, "t0": t0,
            "late_max_s": late[0], "progress": prog}


def _stream_layers(drains, open_rec, batches, latencies, setups, log) -> dict:
    def parts(progress) -> dict:
        return {f"streaming.{k}_ms": median(p["ms"].get(k, 0) for p in progress) for k in DURATION_PARTS}

    def sum_check(progress) -> list[float]:
        return [sum(p["ms"].get(k, 0) for k in DURATION_PARTS) / p["ms"]["triggerExecution"]
                for p in progress if p["ms"].get("triggerExecution")]

    opened = [b for b in batches if b["out"] == open_rec["out"]]
    prog = [p for p in open_rec["progress"] if p["rows"]]
    # Backlog at each trigger: files written by then minus files consumed before it.
    consumed, backlog = 0, []
    for p in prog:
        t = _epoch(p["ts"])
        backlog.append(sum(1 for w in open_rec["written"] if w <= t) - consumed)
        consumed += p["rows"] // open_rec["per_tick"]
    return {
        "setups": setups,
        "drain": {**parts([p for d in drains[1 + WARMUP_DRAINS:] for p in d["progress"]]),
                  "drains_s": [d["drain_s"] for d in drains],
                  "sink_write_s": median(b["t1"] - b["t0"] for b in batches if b["out"] != open_rec["out"]),
                  "check.parts_over_trigger": [x for d in drains for x in sum_check(d["progress"])]},
        "open_loop": {
            **parts(prog),
            "streaming.sink_write_s": median(b["t1"] - b["t0"] for b in opened),
            "streaming.batches": len(prog),
            "streaming.rows_per_batch_p50": median(p["rows"] for p in prog),
            "streaming.backlog_files_max": max(backlog),
            "streaming.generator_late_s": open_rec["late_max_s"],
            "event_latency_p50_s": median(latencies),
            "event_latency_p90_s": pctl(latencies, 90),
            "event_latency_samples": len(latencies),
            "check.parts_over_trigger": sum_check(prog),
            "spark.stream": log.window(min(b["t0"] for b in opened), max(b["t1"] for b in opened)),
        },
    }


def run(workload: str, seed: int, seconds: float, trace: bool, inputs_dir: str, run_dir: str) -> Result:
    if workload == "stream-classify":
        return run_stream(seed, seconds, trace, inputs_dir, run_dir)
    return run_batch(workload.split("-", 1)[1], seed, seconds, trace, inputs_dir, run_dir)
