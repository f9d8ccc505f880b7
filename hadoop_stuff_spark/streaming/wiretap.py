"""Real-time wiretap with dynamic regex subscriptions (SURVEY.md ST2/ST3,
S7; reference RealTimeCdrWiretap.java:30-86).

The reference registers a query "<regex> <host>:<port>" by reflecting into
a live Spring router's private fields — runtime plan mutation with no
defined epoch. Here the control plane is a *table*: each micro-batch
re-reads the subscriptions table and fans the batch out with one
compile-once literal rlike per subscription (:func:`route_batch_literal`).
Registration = append a row; takes effect at the next micro-batch boundary
(defined, testable semantics — SURVEY.md §7 "genuinely hard" #1). No
reflection, no restart, and the subscription set scales to thousands
because it is one pass over the batch per codegen chunk of patterns
instead of N sequential selectors.

Delivery (S7): EXECUTOR-side (VERDICT r1 #4). Matching already runs on
executors; delivery must too — a driver-side collect() of matched payloads
is a single-JVM bottleneck that dies at 100×. Per micro-batch each routing
task delivers its own matched rows (``foreachPartition`` over the routed
partitions, no shuffle) and opens the sockets of the subscribers it has
matches for; all payload bytes flow executor→subscriber, never through the
driver. The subscriptions table is a driver-local relation, so re-reading
it every micro-batch runs no Spark job. The reference routes to TCP
*or* UDP endpoints (RealTimeCdrWiretap.java:59-72 builds IP adapters from a
template; the producer LoggerTest.java:10-19 is UDP via log4j.xml:11-23) —
both sinks exist here, selected per subscription via its ``proto`` field.

Backpressure (ST4, TailF.java:132-134): a failing subscriber's records are
dropped with a warning, never stall the stream; drops are tallied through a
Spark accumulator so the driver can expose per-endpoint counts.
"""

from __future__ import annotations

import logging
import re
import socket as socketlib
from dataclasses import dataclass
from typing import Callable

_LOG = logging.getLogger(__name__)

import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SUBSCRIPTION_SCHEMA = StructType(
    [
        StructField("sub_id", LongType()),
        StructField("regex", StringType()),
        StructField("host", StringType()),
        StructField("port", IntegerType()),
        StructField("proto", StringType()),  # 'tcp' (default) or 'udp'
    ]
)

# the reference's query grammar: "<regex> <host>:<port>" with an optional
# udp:// scheme on the endpoint (RealTimeCdrWiretap.java:32-38 — regex
# first, endpoint last; TCP vs UDP chosen by the adapter template :59-67)
_QUERY_RE = re.compile(
    r"^(?P<regex>.+)\s+(?:(?P<proto>tcp|udp)://)?(?P<host>[^\s:]+):(?P<port>\d+)$"
)


def parse_subscription(query: str, sub_id: int) -> dict:
    """Parse the reference's wire format into a subscriptions row."""
    m = _QUERY_RE.match(query.strip())
    if not m:
        raise ValueError(f"bad subscription (want '<regex> <host>:<port>'): {query!r}")
    return {
        "sub_id": sub_id,
        "regex": m.group("regex"),
        "host": m.group("host"),
        "port": int(m.group("port")),
        "proto": m.group("proto") or "tcp",
    }


def subscriptions_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """The subscriptions table as a driver-local relation (``LocalTableScan``):
    built from an Arrow table, so collecting it — which the wiretap does
    every micro-batch — runs no Spark job. A list of dicts would plan as
    ``Scan ExistingRDD`` and cost a Python-worker task wave per collect
    (~250 ms against ~20 ms on a 4-core host). The Arrow path is taken
    whatever ``spark.sql.execution.arrow.pyspark.enabled`` says, and an
    empty list gives an empty table with the same schema."""
    rows = [{"proto": "tcp", **r} for r in rows]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(SUBSCRIPTION_SCHEMA))
    return spark.createDataFrame(table, SUBSCRIPTION_SCHEMA)


def route_batch(
    batch: DataFrame,
    subs: DataFrame,
    record_col: str = "value",
    strategy: str = "literal",
    max_collect_subs: int = 100_000,
) -> DataFrame:
    """One micro-batch of the wiretap fan-out: every record tested against
    every subscription's regex (content-based multicast, ST3 — a record can
    match several subscribers). Unified entry point (PLAN_r7 #3) — both
    strategies return (sub_id, host, port, proto, *batch columns):

    - ``"literal"`` (default): collect the subscriptions table (control
      plane — tiny by design; ``start_wiretap`` collects it per micro-batch
      anyway) and delegate to :func:`route_batch_literal`, whose patterns
      compile ONCE per codegen chunk. ~10x faster than the join: no
      per-row Pattern.compile. The collect is capped at
      ``max_collect_subs`` rows (via ``limit``, so the driver never
      materializes more than the cap + 1 regardless of the frame's true
      size): a caller that hands a non-control-plane-sized subscriptions
      frame silently degrades to the join strategy instead of pulling it
      onto the driver every micro-batch (ADVICE r6).
    - ``"join"``: broadcast nested-loop join with a column-valued regex
      predicate, recompiled per row by the JVM. The escape hatch for a
      subscriptions side that genuinely cannot be collected (regexes
      computed per-row from other columns, or a non-control-plane-sized
      frame)."""
    if strategy == "literal":
        rows = subs.limit(max_collect_subs + 1).collect()
        if len(rows) <= max_collect_subs:
            return route_batch_literal(batch, [r.asDict() for r in rows], record_col)
        strategy = "join"  # beyond control-plane size: never bake as literals
    if strategy != "join":
        raise ValueError(f"strategy must be 'literal' or 'join', got {strategy!r}")
    joined = batch.join(
        F.broadcast(subs), F.regexp_like(F.col(record_col), F.col("regex")), "inner"
    )
    return joined.select(
        "sub_id",
        "host",
        "port",
        F.coalesce(F.col("proto"), F.lit("tcp")).alias("proto"),
        *batch.columns,
    )


def route_batch_literal(
    batch: DataFrame,
    subs_rows: list[dict],
    record_col: str = "value",
    codegen_chunk: int = 256,
) -> DataFrame:
    """Fan-out with the subscription set baked in as literals: pass(es)
    over the batch evaluating every pattern as a compile-once literal
    rlike, then explode the per-record match vector. ~10x faster than the
    column-regex join (no per-row Pattern.compile), same semantics.

    subs_rows: [{"sub_id", "regex", "host", "port"}, ...] — the collected
    (tiny) subscriptions table; at 100 TB the stream side still never
    shuffles.

    ``codegen_chunk`` (VERDICT r5 #4, measured 2026-08-14 on a 20k-record
    batch): a SINGLE match-vector projection does NOT stay one codegen
    stage at high subscription counts — whole-stage codegen aborts with
    "Code grows beyond 64 KB" from ~500 literal rlikes (expressions can't
    be method-split inside the WSCG consume path), and at 2000 rlikes
    Janino compiling the one giant generated class OOM'd a default-heap
    driver outright and cost ~26 s of compile when given 6 GB. Chunking
    the subscription set into fixed groups of ``codegen_chunk`` — one
    match-vector projection per group, unioned — bounds every generated
    class to a size Janino compiles fast and in bounded memory, at the
    price of one pass over the micro-batch per group (micro-batches are
    bounded by maxFilesPerTrigger; `foreachBatch` batches are already
    materialized, so the re-scan is memory-speed). Matching throughput is
    inherently O(n_subs × n_records) regex evals either way (~0.25 µs
    per record-pattern here); chunking changes robustness, not
    asymptotics. The ≥2k-subscription soak test pins correctness and the
    per-group plan shape (tests/test_streaming.py)."""
    import functools

    def route_chunk(chunk: list[dict]) -> DataFrame:
        matches = F.array(
            *[
                F.struct(
                    F.lit(int(s["sub_id"])).cast("long").alias("sub_id"),
                    F.lit(s.get("host", "")).alias("host"),
                    F.lit(int(s.get("port", 0))).alias("port"),
                    F.lit(s.get("proto") or "tcp").alias("proto"),
                    F.col(record_col).rlike(s["regex"]).alias("matched"),
                )
                for s in chunk
            ]
        )
        return (
            batch.withColumn("_m", F.explode(matches))
            .filter(F.col("_m.matched"))
            .select(
                F.col("_m.sub_id").alias("sub_id"),
                F.col("_m.host").alias("host"),
                F.col("_m.port").alias("port"),
                F.col("_m.proto").alias("proto"),
                *batch.columns,
            )
        )

    if not subs_rows:
        # no subscribers yet: empty result with the routed schema (the
        # bare reduce() raised TypeError here — caught by code review)
        return (
            batch.limit(0)
            .select(
                F.lit(0).cast("long").alias("sub_id"),
                F.lit("").alias("host"),
                F.lit(0).alias("port"),
                F.lit("tcp").alias("proto"),
                *batch.columns,
            )
        )
    parts = [
        route_chunk(subs_rows[i : i + codegen_chunk])
        for i in range(0, len(subs_rows), codegen_chunk)
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), parts)


@dataclass
class TcpSink:
    """Per-subscriber TCP delivery (reference S7). One connection per
    call; records newline-framed."""

    timeout_s: float = 1.0  # the reference's 1 s send timeout (TailF.java:132)

    def __call__(self, host: str, port: int, records: list[str]) -> None:
        with socketlib.create_connection((host, port), timeout=self.timeout_s) as sock:
            payload = ("\n".join(records) + "\n").encode("utf-8")
            sock.sendall(payload)


@dataclass
class UdpSink:
    """Per-subscriber UDP delivery — the reference's other endpoint flavor
    (RealTimeCdrWiretap.java:59-72 template-built IP adapters; the producer
    side LoggerTest.java:10-19 is UDP via log4j.xml:11-23). One datagram
    per record, newline-terminated; connectionless fire-and-forget."""

    def __call__(self, host: str, port: int, records: list[str]) -> None:
        sock = socketlib.socket(socketlib.AF_INET, socketlib.SOCK_DGRAM)
        try:
            for r in records:
                sock.sendto((r + "\n").encode("utf-8"), (host, port))
        finally:
            sock.close()


class _DropTallyParam(AccumulatorParam):
    """dict[(host, port) -> dropped-record count] accumulator."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for key, n in b.items():
            a[key] = a.get(key, 0) + n
        return a


# records buffered per subscriber inside a delivery task before a socket
# flush — bounds executor memory to FLUSH_EVERY × record size per subscriber
FLUSH_EVERY = 1000


def _deliver_partition(rows, record_col, deliver, drop_acc):
    """Executor-side delivery for one partition of matched rows: buffer per
    (host, port, proto), flush through the subscriber's socket in bounded
    batches. A subscriber whose send fails is marked dead for the rest of
    the partition; its records are tallied as dropped (ST4 drop+warn)."""
    sinks = {"tcp": TcpSink(), "udp": UdpSink()}
    buffers: dict[tuple, list[str]] = {}
    dead: set[tuple] = set()
    dropped: dict[tuple, int] = {}

    def flush(key: tuple) -> None:
        buf = buffers.get(key)
        if not buf:
            return
        host, port, proto = key
        try:
            (deliver or sinks[proto])(host, port, buf)
        except Exception as exc:  # drop + warn, never stall (ST4)
            dead.add(key)
            dropped[(host, port)] = dropped.get((host, port), 0) + len(buf)
            _LOG.warning(
                "wiretap: dropped %d records for %s:%s (%s): %s",
                len(buf), host, port, proto, exc,
            )
        buf.clear()

    for row in rows:
        key = (row["host"], row["port"], row["proto"])
        if key in dead:
            dropped[key[:2]] = dropped.get(key[:2], 0) + 1
            continue
        buf = buffers.setdefault(key, [])
        buf.append(row[record_col])
        if len(buf) >= FLUSH_EVERY:
            flush(key)
    for key in list(buffers):
        flush(key)
    if dropped:
        drop_acc.add(dropped)


def deliver_routed(
    routed: DataFrame,
    record_col: str = "value",
    deliver: Callable[[str, int, list[str]], None] | None = None,
    drop_stats: dict | None = None,
    _drop_acc=None,
) -> None:
    """Executor-side delivery of an already-routed frame (rows carrying
    sub_id/host/port/proto + the record): each partition the routing
    produced is delivered by its own task, which opens the sockets of the
    subscribers it holds matches for. Only (host, port, proto, record)
    leave the JVM; there is no shuffle and no second stage. Shared by the
    streaming wiretap's per-micro-batch path AND the batch→stream bridge
    (`Engine.grep_to_wiretap`) — payload bytes never pass through the
    driver in either. ST4 drop+warn semantics apply (dead subscribers'
    records are tallied into ``drop_stats``).

    The trade-off: a subscriber gets one connection per (delivery task
    holding its matches) per call instead of one, and its records arrive
    in no defined order across tasks. The earlier repartition on sub_id
    did not define that order either: a shuffle read fetches map outputs
    in whatever order they arrive."""
    spark = routed.sparkSession
    drop_acc = _drop_acc or spark.sparkContext.accumulator({}, _DropTallyParam())
    rc, dl = record_col, deliver
    routed.select("host", "port", "proto", record_col).foreachPartition(
        lambda rows: _deliver_partition(rows, rc, dl, drop_acc)
    )
    if drop_stats is not None:
        drop_stats.clear()
        drop_stats.update(drop_acc.value)


def route_and_deliver_batch(
    batch: DataFrame,
    subs_rows: list[dict],
    record_col: str = "value",
    deliver: Callable[[str, int, list[str]], None] | None = None,
    drop_stats: dict | None = None,
) -> None:
    """The reference's commented-out intent, composed for real
    (DistributedGrep.java:33,38-47,57 — batch grep results pushed into
    the live wiretap channel): fan a BATCH query's result out to the
    current subscriber set with the same literal-pattern matcher and the
    same executor-side socket delivery the streaming path uses."""
    deliver_routed(
        route_batch_literal(batch, subs_rows, record_col),
        record_col=record_col,
        deliver=deliver,
        drop_stats=drop_stats,
    )


def start_wiretap(
    stream: DataFrame,
    get_subscriptions: Callable[[SparkSession], DataFrame],
    deliver: Callable[[str, int, list[str]], None] | None = None,
    record_col: str = "value",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = False,
    drop_stats: dict | None = None,
):
    """Run the wiretap: per micro-batch, re-read subscriptions (dynamic
    registration — rows added between batches take effect next batch),
    match executor-side, deliver executor-side.

    Delivery is ``foreachPartition`` over the routed partitions, with no
    shuffle (:func:`deliver_routed` states the connection and ordering
    trade-off): matched payload bytes never pass through the driver (the r1
    design collected every matched record to the driver — a 100×-scale
    bottleneck). The only driver-side collect left is the subscriptions
    table itself (control plane, tiny; from :func:`subscriptions_df` it is
    a local relation, so the collect runs no Spark job).

    ``deliver(host, port, records)`` overrides the socket sinks for every
    subscriber (it is pickled to executors); by default each subscription's
    ``proto`` field picks :class:`TcpSink` or :class:`UdpSink`.

    Delivery failures follow the reference's backpressure policy (ST4,
    TailF.java:132-134): warn and DROP that subscriber's records for the
    batch rather than stalling or failing the stream. Drops are tallied
    per (host, port) into ``drop_stats`` (via a Spark accumulator) when
    given. Returns the StreamingQuery.
    """
    drop_acc = None

    def process(batch: DataFrame, batch_id: int) -> None:
        nonlocal drop_acc
        spark = batch.sparkSession
        if drop_acc is None:
            drop_acc = spark.sparkContext.accumulator({}, _DropTallyParam())
        subs_rows = [r.asDict() for r in get_subscriptions(spark).collect()]
        if not subs_rows:
            return
        matched = route_batch_literal(batch, subs_rows, record_col)
        # delivery runs in the routing tasks, where the data is (the
        # accumulator persists across batches so drop_stats reflects the
        # stream's lifetime tallies)
        deliver_routed(
            matched,
            record_col=record_col,
            deliver=deliver,
            drop_stats=drop_stats,
            _drop_acc=drop_acc,
        )

    writer = stream.writeStream.foreachBatch(process).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def wiretap_batch_shape(
    records: DataFrame, subs: DataFrame, record_col: str = "value", *, keep: list[str] | None = None
) -> DataFrame:
    """The wiretap's per-micro-batch computation as a pure batch query
    (what `process` above runs each trigger): (sub_id, record) matches.
    Oracle-checkable — see plans/registry."""
    subs_rows = [r.asDict() for r in subs.collect()]
    matched = route_batch_literal(records, subs_rows, record_col)
    return matched.select("sub_id", *(keep or [record_col]))
