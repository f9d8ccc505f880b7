"""The two workloads. Each generates its inputs from the seed before any
timing, sets up the session, warms up, runs a timed phase of about
``--seconds``, checks every output, and fills ``bench.e2e`` (tracing off)
and, with ``--trace 1``, ``bench.layer``.

End-to-end metrics, per workload:

==============  ==================================  ==================================
metric          logs_batch                          wiretap_stream
==============  ==================================  ==================================
setup_s         median of 2 cold set-ups: fresh driver JVM, get_spark, Engine, load inputs, one small action
op_p50_ms       closed-loop query latency           record delivery latency (steady phase)
throughput_rps  lines/s through Engine.ingest       records/s a burst drains at (median of 3)
==============  ==================================  ==================================

``Engine.curate`` is not a workload: its call time is bound by driver-side
planning, keeps falling over its first five calls, and moved 4-9.5 s
between sets on a shared host, so it cannot carry a bound. Its figures are
per-layer, from traced ``wiretap_stream`` runs (``_curate_probes``).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import checks
import gen

# -- shared helpers ------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _overhead(bench, untraced: list[float], traced: list[float]) -> None:
    """Traced runs trace only part of the timed phase; the overhead is the
    relative change of the traced part's median over the untraced part's.
    The traced part runs later, on a warmer JIT, so this reads low and can
    be negative."""
    bench.layer["trace.overhead_pct"] = 100.0 * (statistics.median(traced) / statistics.median(untraced) - 1)
    bench.layer["trace.spans"] = len(bench.tracer.spans)


# -- logs_batch ----------------------------------------------------------------

LOG_LINES = 150_000  # 4 chunk files, so 4 read tasks on 4 cores (chunks.read_tasks)
WARM_LINES = 50_000  # warm-up store: same code paths, a quarter of the cost
CHUNK = 1000  # the reference's canonical chunk size
INGEST_REPS = 5
QUERY_KINDS = ["record_count"] + [f"{op}:{cls}" for op in ("grep", "grep_count")
                                  for cls in gen.GREP_PATTERNS]


def logs_batch(bench) -> None:
    src = os.path.join(bench.work, "flow.log")
    warm_src = os.path.join(bench.work, "warm.log")
    manifest = gen.write_flow_log(src, bench.seed, LOG_LINES)
    warm_manifest = gen.write_flow_log(warm_src, bench.seed, WARM_LINES, tag="logs-warm")
    store = os.path.join(bench.work, "store")
    warm_store = os.path.join(bench.work, "warm-store")

    def prep(b):
        b.spark.read.text(src).limit(1).collect()

    bench.setup(prep)
    t0 = time.perf_counter()
    bench.eng.ingest(warm_src, warm_store, chunk_size=CHUNK)
    for kind in QUERY_KINDS:
        _logs_query(bench, warm_manifest, warm_store, kind)
    bench.layer["bench.warmup_s"] = time.perf_counter() - t0
    _logs_phase(bench, manifest, src, store)
    # untimed output checks: every grep's rows, collected in full
    for cls, pattern in gen.GREP_PATTERNS.items():
        rows = [r["value"] for r in bench.eng.grep(store, pattern).collect()]
        bench.check(checks.check_grep_rows(manifest, cls, rows))
    if bench.traced:
        _logs_probes(bench, manifest, store)
    bench.peak_rss()


def _logs_query(bench, manifest: dict, store: str, kind: str) -> None:
    op, _, cls = kind.partition(":")
    eng = bench.eng
    if op == "record_count":
        n = eng.record_count(store).collect()[0]["record_count"]
        bench.check(checks.check_record_count(manifest, n))
    elif op == "grep":
        _noop(eng.grep(store, gen.GREP_PATTERNS[cls]))
        bench.attempted += 1  # rows checked after timing
    else:
        n = eng.grep_count(store, gen.GREP_PATTERNS[cls]).collect()[0]["match_count"]
        bench.check(checks.check_grep_count(manifest, cls, n))


def _logs_phase(bench, manifest: dict, src: str, store: str) -> None:
    """INGEST_REPS ingests, then whole cycles of the QUERY_KINDS in a
    seed-shuffled order until ``--seconds`` of queries have passed. A
    traced run traces every other ingest and every other cycle."""
    import hadoop_stuff_spark.engine as engine_mod

    tracer = bench.tracer
    if bench.traced:
        tracer.patch(engine_mod, "write_chunked", "chunks.write_chunked")
    rng = random.Random(f"logs-order:{bench.seed}")
    latencies: dict[str, list[float]] = {k: [] for k in QUERY_KINDS}
    ingest: dict[bool, list[float]] = {False: [], True: []}  # by traced
    queries: dict[bool, list[float]] = {False: [], True: []}
    start = time.perf_counter()
    with bench.group("timed"):
        for i in range(INGEST_REPS):
            tracer.enabled = bench.traced and i % 2 == 1
            t0 = time.perf_counter()
            with tracer.span("op:ingest"):
                bench.eng.ingest(src, store, chunk_size=CHUNK)
            ingest[tracer.enabled].append(time.perf_counter() - t0)
            bench.attempted += 1
        deadline = time.perf_counter() + bench.seconds
        cycles = 0
        # a traced run needs an untraced and a traced cycle
        while cycles < 1 + bench.traced or time.perf_counter() < deadline:
            tracer.enabled = bench.traced and cycles % 2 == 1
            order = list(QUERY_KINDS)
            rng.shuffle(order)
            for kind in order:
                t0 = time.perf_counter()
                with tracer.span(f"op:{kind}"):
                    _logs_query(bench, manifest, store, kind)
                latencies[kind].append(time.perf_counter() - t0)
                queries[tracer.enabled].append(latencies[kind][-1])
            cycles += 1
    tracer.enabled = False
    tracer.unpatch()
    wall = time.perf_counter() - start
    bench.e2e["op_p50_ms"] = 1000 * statistics.median(queries[False])
    bench.e2e["throughput_rps"] = LOG_LINES / statistics.median(ingest[False])
    bench.record["ingest_s"] = ingest
    bench.record["query_s"] = latencies
    if bench.traced:
        _overhead(bench, queries[False], queries[True])
        bench.counters(f"{bench.run_id}:timed", wall)
        every = [t for ts in latencies.values() for t in ts]
        bench.layer["engine.query_p90_ms"] = 1000 * _pct(every, 0.9)
        bench.layer["chunks.write_chunked_s"] = statistics.median(tracer.durations("chunks.write_chunked"))
        bench.layer["counts.chunked_record_count_s"] = statistics.median(latencies["record_count"])
        for cls in gen.GREP_PATTERNS:
            bench.layer[f"grep.grep_{cls}_s"] = statistics.median(latencies[f"grep:{cls}"])


def _logs_probes(bench, manifest: dict, store: str) -> None:
    from hadoop_stuff_spark.sources.chunks import read_chunked

    spark = bench.spark
    files = [os.path.join(d, f) for d, _, fs in os.walk(store) for f in fs if f.endswith(".parquet")]
    bench.layer["chunks.bytes_per_record"] = sum(map(os.path.getsize, files)) / LOG_LINES
    bench.layer["chunks.read_tasks"] = spark.read.parquet(store).rdd.getNumPartitions()
    scan = _median_time(lambda: _noop(spark.read.parquet(store)))
    bench.layer["chunks.scan_s"] = scan
    bench.layer["codecs.decode_s"] = _median_time(lambda: _noop(read_chunked(spark, store))) - scan
    for cls in gen.GREP_PATTERNS:
        bench.layer[f"grep.match_ratio_{cls}"] = manifest["grep_counts"][cls] / LOG_LINES
    bench.host()
    multi = bench.layer["grep.grep_common_s"]
    # a new context in the same JVM: the engine's module-level UDFs hold
    # handles into this JVM. Spark logs that the old context's Python
    # accumulator server is gone; results are unaffected.
    bench.start_session(master="local[1]")
    one = _median_time(lambda: _noop(bench.eng.grep(store, gen.GREP_PATTERNS["common"])))
    bench.layer["grep.speedup_vs_1core"] = one / multi


# -- wiretap_stream --------------------------------------------------------------

RATE = 1000  # records per second in the steady phase
ROLL_S = 0.5  # one file rolled into the tailed directory per ROLL_S
BURST = 8000  # records appended at once into the idle stream after the steady phase
BURSTS = 3  # one after another, each once the stream has taken in the last
EXCLUDE_S = 1.0  # steady-phase records due earlier than this are not timed
WARM_S = 1.0  # warm-up: this long of the same open loop, untimed
N_SUBS = 16
STREAM_TIMEOUT_S = 60  # guard against a hung stream only; drops are counted, not waited for
ROUTE_BATCH = 500  # lines in the fixed route_batch_literal probe batch


def wiretap_stream(bench) -> None:
    """An open-loop generator rolls one staged file of flow records into a
    tailed directory every ROLL_S seconds (RATE records/s) for
    ``--seconds``; once the stream has taken all of them in, BURSTS bursts
    of BURST records are appended, each at once into the idle stream.
    ``Engine.wiretap`` routes them through N_SUBS regex subscriptions over
    real TCP to subscriber sockets in this process (at most nproc
    connections open). Every subscriber must receive exactly its expected
    records."""
    from subscriber import Subscribers

    bench.subs = gen.wiretap_subscriptions(N_SUBS)
    stage, warm_stage = os.path.join(bench.work, "stage"), os.path.join(bench.work, "warm-stage")
    m = gen.write_wiretap_inputs(stage, bench.seed, RATE, bench.seconds, ROLL_S, BURST, bench.subs,
                                 bursts=BURSTS)
    warm = gen.write_wiretap_inputs(warm_stage, bench.seed, RATE, WARM_S, ROLL_S, 0, bench.subs,
                                    tag="wiretap-warm")
    if bench.traced:
        corpus = os.path.join(bench.work, "corpus.parquet")
        holdout = os.path.join(bench.work, "holdout.parquet")
        corpus_manifest = gen.write_corpus(corpus, holdout, bench.seed, CORPUS_DOCS)

    def prep(b):
        b.spark.read.text(os.path.join(stage, m["schedule"][0]["file"])).limit(1).collect()

    bench.setup(prep)
    server = Subscribers(N_SUBS, bench.cores).start()
    try:
        _stream_phase(bench, server, m, stage, warm, warm_stage)
        if bench.traced:
            _route_probes(bench, server)
    finally:
        server.close()
    if bench.traced:
        _curate_probes(bench, corpus_manifest, corpus, holdout)
    bench.peak_rss()


def _drop(path: str, lines: list[str]) -> None:
    """Atomically add one file to a directory."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def _roll(bench, schedule: list[dict], stage: str, tail: str, prefix: str,
          trace_from: float | None = None) -> tuple[float, float]:
    """Copy staged files into ``tail`` on their schedule, whatever the
    stream does (open loop). A traced run traces the files due
    ``trace_from`` seconds or later. Returns the schedule's start
    (monotonic) and the generator's worst lateness in seconds."""
    tracer = bench.tracer
    lag = 0.0
    t0 = time.monotonic() + 0.1
    for entry in schedule:
        due = t0 + entry["offset"]
        while (left := due - time.monotonic()) > 0:
            time.sleep(min(left, 0.005))
        tracer.enabled = bench.traced and trace_from is not None and entry["offset"] >= trace_from
        dest = os.path.join(tail, prefix + entry["file"])
        with tracer.span("generator.roll"):
            shutil.copyfile(os.path.join(stage, entry["file"]), dest + ".tmp")
            os.replace(dest + ".tmp", dest)
        lag = max(lag, time.monotonic() - due)
    tracer.enabled = False
    return t0, lag


def _wait_processed(query, rows: int, what: str) -> list[dict]:
    """Wait until the stream's micro-batches have taken in ``rows`` input
    rows in all. Progress is reported after a batch's delivery tasks have
    finished, so every record the engine sent is then on the wire. Only a
    stream that stops making progress times out."""
    deadline = time.monotonic() + STREAM_TIMEOUT_S
    while True:
        if query.exception() is not None:
            raise RuntimeError(f"{what}: wiretap query failed: {query.exception()}")
        progress = query.recentProgress
        if sum(p["numInputRows"] for p in progress) >= rows:
            return progress
        if time.monotonic() > deadline:
            raise RuntimeError(f"{what}: stream took in {sum(p['numInputRows'] for p in progress)} "
                               f"of {rows} rows after {STREAM_TIMEOUT_S} s")
        time.sleep(0.01)


def _quiesce(server, want: int) -> None:
    """Let the subscriber thread read what is already on the wire: return
    once ``want`` records have arrived, or once none arrived for 0.5 s."""
    last, still = server.delivered(), time.monotonic()
    while server.delivered() < want and time.monotonic() - still < 0.5:
        time.sleep(0.01)
        if server.delivered() != last:
            last, still = server.delivered(), time.monotonic()


def _stream_phase(bench, server, m: dict, stage: str, warm: dict, warm_stage: str) -> None:
    import hadoop_stuff_spark.streaming.wiretap as wiretap_mod

    tracer = bench.tracer
    tail = os.path.join(bench.work, "tail")
    os.makedirs(tail)
    queries = [f"{s} 127.0.0.1:{p}" for s, p in zip(bench.subs, server.ports)]
    query = bench.eng.wiretap(tail, queries, checkpoint_dir=os.path.join(bench.work, "ckpt"))
    try:
        # warm-up: WARM_S of the same open loop, delivered end to end
        w0 = time.perf_counter()
        _roll(bench, warm["schedule"], warm_stage, tail, "warm-")
        warm_batches = len(_wait_processed(query, warm["records"], "wiretap warm-up"))
        _quiesce(server, sum(map(len, warm["expected"])))
        bench.layer["bench.warmup_s"] = time.perf_counter() - w0
        for r in server.received:
            r.clear()
        if bench.traced:
            tracer.patch(wiretap_mod, "deliver_routed", "wiretap.deliver_routed")
        t0, lag = _roll(bench, [e for e in m["schedule"] if not e["burst"]], stage, tail, "",
                        trace_from=bench.seconds / 2)
        # each burst goes into an idle stream, so its drain does not depend
        # on where it lands in a running micro-batch
        taken = warm["records"] + m["burst_first_seq"]
        burst_at = []
        for entry in (e for e in m["schedule"] if e["burst"]):
            _wait_processed(query, taken, "wiretap")
            burst_at.append(_roll(bench, [dict(entry, offset=0.0)], stage, tail, "")[0])
            taken += entry["records"]
        progress = _wait_processed(query, taken, "wiretap")[warm_batches:]
    finally:
        query.stop()
        tracer.unpatch()
    total = sum(len(e) for e in m["expected"])
    _quiesce(server, total)
    received = [[seq for seq, _ in r] for r in server.received]
    failures, dropped, extra = checks.check_deliveries(m["expected"], received)
    if server.bad_lines:
        failures.append(f"{server.bad_lines} delivered lines without a sequence number")
    bench.check(failures, weight=total, failed=dropped + extra + server.bad_lines)

    first: dict[int, float] = {}
    for r in server.received:
        for seq, t in r:
            first[seq] = min(t, first.get(seq, t))
    per_file = int(RATE * ROLL_S)
    steady: dict[bool, list[float]] = {False: [], True: []}  # by traced half
    for seq, t in first.items():
        if seq < m["burst_first_seq"]:
            due = (seq // per_file) * ROLL_S + ROLL_S * (seq % per_file) / per_file
            if due >= EXCLUDE_S:
                steady[bench.traced and due >= bench.seconds / 2].append(t - (t0 + due))
    drains = []
    for k, at in enumerate(burst_at):
        lo = m["burst_first_seq"] + k * BURST
        done = [t for seq, t in first.items() if lo <= seq < lo + BURST]
        if done:
            drains.append(BURST / (max(done) - at))
    if not steady[False] or len(drains) < BURSTS:
        raise RuntimeError("wiretap: no timed deliveries to measure")
    bench.e2e["op_p50_ms"] = 1000 * statistics.median(steady[False])
    bench.e2e["throughput_rps"] = statistics.median(drains)
    bench.record["burst_rps"] = drains
    if not bench.traced:
        return
    _overhead(bench, steady[False], steady[True])
    bench.counters(str(query.runId), time.monotonic() - t0)
    dur = {k: [p["durationMs"].get(k, 0) for p in progress if p["numInputRows"] > 0]
           for k in ("latestOffset", "getBatch", "addBatch", "queryPlanning", "walCommit")}
    L = bench.layer
    L["wiretap.delivery_p99_ms"] = 1000 * _pct(steady[False] + steady[True], 0.99)
    L["tail.latestOffset_ms"] = statistics.median(dur["latestOffset"])
    L["tail.getBatch_ms"] = statistics.median(dur["getBatch"])
    L["wiretap.addBatch_ms"] = statistics.median(dur["addBatch"])
    L["wiretap.addBatch_max_ms"] = max(dur["addBatch"])
    L["wiretap.queryPlanning_ms"] = statistics.median(dur["queryPlanning"])
    L["wiretap.walCommit_ms"] = statistics.median(dur["walCommit"])
    L["wiretap.batch_rows"] = statistics.median(p["numInputRows"] for p in progress if p["numInputRows"] > 0)
    L["wiretap.deliver_routed_s"] = statistics.median(tracer.durations("wiretap.deliver_routed"))
    L["wiretap.fanout_ratio"] = server.delivered() / m["records"]
    L["wiretap.dropped_records"] = dropped
    L["generator.lag_s"] = lag


def _route_probes(bench, server) -> None:
    """route_batch_literal alone on a fixed batch, at 16 subscriptions and
    at 512 (past the 256-pattern codegen chunk). One call each: the
    512-subscription call compiles for seconds."""
    from hadoop_stuff_spark.streaming.wiretap import route_batch_literal

    path = os.path.join(bench.work, "route_batch.log")
    lines, _, _ = gen.flow_lines(f"route:{bench.seed}", 0, ROUTE_BATCH)
    _drop(path, lines)
    batch = bench.spark.read.text(path).cache()
    batch.count()
    rows16 = [{"sub_id": i + 1, "regex": s, "host": "127.0.0.1", "port": p}
              for i, (s, p) in enumerate(zip(bench.subs, server.ports))]
    rows512 = [{"sub_id": i + 1, "regex": rf"156\.{i % 249 + 1}\.[01]\.{i // 249 + 1}\d*:",
                "host": "127.0.0.1", "port": server.ports[0]} for i in range(512)]
    for n, rows in ((16, rows16), (512, rows512)):
        bench.layer[f"wiretap.route_batch_literal_{n}_s"] = _median_time(
            lambda rows=rows: _noop(route_batch_literal(batch, rows, "value")), reps=1)
    batch.unpersist()


# -- curation (traced wiretap_stream runs) ---------------------------------------

CORPUS_DOCS = 600
CURATE_WARM = 1  # the first call pays class loading and Python worker start
CURATE_CALLS = 2
NEAR_THRESHOLD = 0.4  # Engine.curate's default
TEXT_DOCS = 60  # documents per text-function length probe
TEXT_LEN = 30  # words; the long probe uses 4x this


def _curate_probes(bench, manifest: dict, corpus: str, holdout: str) -> None:
    """``Engine.curate`` end to end, then each curate stage's public
    function timed alone (noop sink) on a checkpointed input, so a stage's
    time excludes everything upstream, then the text functions at two
    document lengths."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.functions import text as T
    from hadoop_stuff_spark.operators import cleaning, clusters, contamination, dedup, sampling

    spark = bench.spark
    docs, hold = spark.read.parquet(corpus), spark.read.parquet(holdout)
    walls, builds = [], []
    digest = None
    with bench.group("curate"):
        for i in range(CURATE_WARM + CURATE_CALLS):
            t0 = time.perf_counter()
            out = bench.eng.curate(docs, hold)
            build = time.perf_counter() - t0
            rows = [(r[0], r[1]) for r in out.select("doc_id", "split").collect()]
            if i >= CURATE_WARM:
                walls.append(time.perf_counter() - t0)
                builds.append(build)
            bench.check(checks.check_curate(manifest, rows, digest))
            digest = digest or checks.curate_digest(rows)
    bench.record["curate_digest"] = digest
    L = bench.layer
    L["engine.curate_ms"] = 1000 * statistics.median(walls)
    L["engine.curate_build_s"] = statistics.median(builds)
    L["cleaning.clean_text_s"] = _median_time(
        lambda: _noop(docs.withColumn("text", cleaning.clean_text("text"))))
    clean = docs.withColumn("text", cleaning.clean_text("text")).repartition(bench.cores).localCheckpoint()
    L["dedup.drop_exact_duplicates_s"] = _median_time(lambda: _noop(dedup.drop_exact_duplicates(clean)))
    L["dedup.minhash_candidates_s"] = _median_time(lambda: _noop(dedup.minhash_candidates(clean)))
    cands = dedup.minhash_candidates(clean).localCheckpoint()
    n_cands = cands.count()
    pairs = cands.filter(F.col("est_jaccard") >= NEAR_THRESHOLD).localCheckpoint()
    L["dedup.candidate_pairs"] = n_cands
    L["dedup.candidate_precision"] = pairs.count() / n_cands if n_cands else 0.0
    L["clusters.dedup_clusters_s"] = _median_time(lambda: _noop(clusters.dedup_clusters(pairs)))
    L["contamination.overlap_report_s"] = _median_time(
        lambda: _noop(contamination.overlap_report(clean, hold, "text", "doc_id", n=3)))
    L["sampling.split_corpus_s"] = _median_time(
        lambda: _noop(sampling.split_corpus(clean, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05})))
    # text functions at two fixed document lengths: growth 1.0 = linear
    texts = {}
    for n in (TEXT_LEN, 4 * TEXT_LEN):
        rows = list(enumerate(gen.zipf_texts(f"text:{bench.seed}", TEXT_DOCS, n)))
        texts[n] = spark.createDataFrame(rows, "doc_id long, text string").repartition(
            bench.cores).localCheckpoint()
    for name, fn in (("tokens", T.tokens), ("shingles", dedup.shingles),
                     ("winnow", T.winnow_fingerprints)):
        short, long_ = (_median_time(lambda n=n: _noop(texts[n].select(fn("text").alias("x"))))
                        for n in (TEXT_LEN, 4 * TEXT_LEN))
        L[f"text.{name}_s"] = short
        L[f"text.{name}_4x_s"] = long_
        L[f"text.{name}_len_growth"] = long_ / (4 * short)
    bench.host()
