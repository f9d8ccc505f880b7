"""Streaming wiretap tests (SURVEY.md §5.2 #3): availableNow triggers over
a temp dir, file "rollover" = appending new files (S6), dynamic
subscription registration between micro-batch runs (ST2), per-subscriber
delivered sets (ST3).

Delivery is executor-side (VERDICT r1 #4), so every test receives over a
REAL socket — a driver-side collecting double would never see the sends.
"""

import os
import socket
import socketserver
import threading

from hadoop_stuff_spark.streaming.tail import tail_stream
from hadoop_stuff_spark.streaming.wiretap import (
    parse_subscription,
    start_wiretap,
    subscriptions_df,
)

import pytest

# Tests marked slow belong to the full-sweep suite (see pytest.ini): they
# are deselected from the default run and executed via
# `pytest tests/ -m "" -q`. The unmarked ones cover the wiretap's
# per-micro-batch delivery path in the default run.


class TcpReceiver:
    """Real TCP server collecting newline-framed records."""

    def __init__(self):
        self.received: list[str] = []
        outer = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                for line in self.rfile:
                    outer.received.append(line.decode("utf-8").rstrip("\n"))

        self._server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
        self.port = self._server.server_address[1]
        threading.Thread(target=self._server.serve_forever, daemon=True).start()

    def close(self):
        self._server.shutdown()
        self._server.server_close()


class UdpReceiver:
    """Real UDP socket collecting newline-terminated datagrams."""

    def __init__(self):
        self.received: list[str] = []
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.settimeout(0.2)
        self.port = self._sock.getsockname()[1]
        self._stop = False

        def loop():
            while not self._stop:
                try:
                    data, _ = self._sock.recvfrom(65536)
                    self.received.append(data.decode("utf-8").rstrip("\n"))
                except socket.timeout:
                    continue
                except OSError:
                    break

        threading.Thread(target=loop, daemon=True).start()

    def close(self):
        self._stop = True
        self._sock.close()


def _free_port() -> int:
    """A port that is certainly closed: bind-then-close."""
    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    port = probe.getsockname()[1]
    probe.close()
    return port


def _write_log(directory: str, name: str, lines: list[str]) -> None:
    with open(os.path.join(directory, name), "w") as f:
        f.write("\n".join(lines) + "\n")


@pytest.mark.slow
def test_parse_subscription_reference_grammar():
    sub = parse_subscription(".*126\\.247\\.0\\.97.* 10.0.0.5:5555", sub_id=9)
    assert sub == {
        "sub_id": 9,
        "regex": ".*126\\.247\\.0\\.97.*",
        "host": "10.0.0.5",
        "port": 5555,
        "proto": "tcp",
    }
    # explicit scheme picks the protocol (reference: adapter template
    # decides TCP vs UDP, RealTimeCdrWiretap.java:59-67)
    sub = parse_subscription("^FLOW udp://10.0.0.6:6666", sub_id=10)
    assert sub["proto"] == "udp" and sub["host"] == "10.0.0.6" and sub["port"] == 6666


@pytest.mark.slow
def test_wiretap_routing_and_dynamic_registration(spark, tmp_path):
    logdir = str(tmp_path / "logs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(logdir)

    _write_log(
        logdir,
        "cdr.0.txt",
        [
            "CALL from=17325551212 ip=126.247.0.97 status=OK",
            "CALL from=17325551300 ip=10.1.2.3 status=DROP",
            "FLOW proto=7 src=156.56.0.124 dst=156.56.0.125",
        ],
    )

    r1, r2, r3 = TcpReceiver(), TcpReceiver(), TcpReceiver()
    try:
        subs_rows = [
            {"sub_id": 1, "regex": "126\\.247\\.0\\.97", "host": "127.0.0.1", "port": r1.port},
            {"sub_id": 2, "regex": "status=DROP", "host": "127.0.0.1", "port": r2.port},
        ]
        q = start_wiretap(
            tail_stream(spark, logdir),
            get_subscriptions=lambda s: subscriptions_df(s, subs_rows),
            checkpoint_dir=ckpt,
            trigger_available_now=True,
        )
        assert q.awaitTermination(300)

        assert r1.received == ["CALL from=17325551212 ip=126.247.0.97 status=OK"]
        assert r2.received == ["CALL from=17325551300 ip=10.1.2.3 status=DROP"]

        # --- rollover (new file) + dynamic registration before the next
        # run: a FLOW subscriber appears; only NEW records are processed
        # (checkpoint), and the new subscription takes effect at the next
        # micro-batch.
        subs_rows.append(
            {"sub_id": 3, "regex": "^FLOW", "host": "127.0.0.1", "port": r3.port}
        )
        _write_log(
            logdir,
            "cdr.1.txt",
            [
                "FLOW proto=6 src=1.2.3.4 dst=5.6.7.8",
                "CALL from=17325551400 ip=126.247.0.97 status=OK",
            ],
        )
        r1.received.clear()
        r2.received.clear()
        q2 = start_wiretap(
            tail_stream(spark, logdir),
            get_subscriptions=lambda s: subscriptions_df(s, subs_rows),
            checkpoint_dir=ckpt,
            trigger_available_now=True,
        )
        assert q2.awaitTermination(300)

        # old file NOT re-delivered (checkpoint state), new records routed,
        # including to the dynamically added subscriber
        assert r3.received == ["FLOW proto=6 src=1.2.3.4 dst=5.6.7.8"]
        assert r1.received == ["CALL from=17325551400 ip=126.247.0.97 status=OK"]
        assert r2.received == []
    finally:
        r1.close()
        r2.close()
        r3.close()


@pytest.mark.slow
def test_multicast_one_record_many_subscribers(spark, tmp_path):
    logdir = str(tmp_path / "logs")
    os.makedirs(logdir)
    _write_log(logdir, "a.txt", ["ALPHA BETA GAMMA"])
    s1, s2, s3 = TcpReceiver(), TcpReceiver(), TcpReceiver()
    try:
        rows = [
            {"sub_id": 1, "regex": "ALPHA", "host": "127.0.0.1", "port": s1.port},
            {"sub_id": 2, "regex": "GAMMA", "host": "127.0.0.1", "port": s2.port},
            {"sub_id": 3, "regex": "NOPE", "host": "127.0.0.1", "port": s3.port},
        ]
        q = start_wiretap(
            tail_stream(spark, logdir),
            get_subscriptions=lambda s: subscriptions_df(s, rows),
            trigger_available_now=True,
        )
        assert q.awaitTermination(300)
        assert s1.received == ["ALPHA BETA GAMMA"]
        assert s2.received == ["ALPHA BETA GAMMA"]
        assert s3.received == []
    finally:
        s1.close()
        s2.close()
        s3.close()


@pytest.mark.slow
def test_route_batch_literal_soak_2k_subscriptions(spark):
    """≥2k-subscription soak (VERDICT r5 #4/#5): the reference's ambition
    is thousands of concurrent wiretap subscribers
    (RealTimeCdrWiretap.java:30-47). A single match-vector projection at
    this size OOMs Janino on a default heap ("Code grows beyond 64 KB" /
    giant-class compile), so route_batch_literal chunks the subscription
    set into codegen_chunk groups — this pins correctness, multicast
    semantics, and the per-group plan shape at 2201 subscriptions."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.streaming.wiretap import route_batch_literal

    n_subs, chunk = 2200, 256
    subs = [
        {"sub_id": i, "regex": f"flow {i} ", "host": "h", "port": 1, "proto": "tcp"}
        for i in range(n_subs)
    ]
    # one extra subscriber whose pattern overlaps sub 13's record → that
    # record must multicast to BOTH (content-based fan-out, ST3)
    subs.append(
        {"sub_id": 9999, "regex": "record flow 13 ", "host": "h", "port": 1, "proto": "tcp"}
    )
    batch = spark.range(3000).select(
        F.concat(
            F.lit("record flow "), (F.col("id") % 4400).cast("string"), F.lit(" end")
        ).alias("value")
    )
    out = route_batch_literal(batch, subs, codegen_chunk=chunk)
    # ids 0..2199 each match exactly their own sub; id 13 also matches 9999
    got = [(r.sub_id, r.value) for r in out.collect()]
    assert len(got) == 2201
    by_sub = {}
    for sid, v in got:
        by_sub.setdefault(sid, []).append(v)
    assert by_sub[0] == ["record flow 0 end"]
    assert by_sub[2199] == ["record flow 2199 end"]
    assert by_sub[9999] == ["record flow 13 end"]
    assert 2200 not in by_sub  # no record for subs beyond the id range

    # plan shape: one scan per codegen chunk (9 groups for 2201 subs),
    # every group JVM-side — no Python eval anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_groups = -(-len(subs) // chunk)
    assert plan.count("Range (0, 3000") == n_groups, plan[:2000]
    assert "BatchEvalPython" not in plan


@pytest.mark.slow
def test_route_batch_literal_empty_subscriptions(spark):
    """No subscribers yet must route to an empty frame with the routed
    schema, not crash (reduce() of empty iterable — code review)."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.streaming.wiretap import route_batch_literal

    batch = spark.range(5).select(F.lit("x").alias("value"))
    out = route_batch_literal(batch, [])
    assert out.count() == 0
    assert out.columns == ["sub_id", "host", "port", "proto", "value"]
    # and unions cleanly with a non-empty routed frame (schema-compatible)
    routed = route_batch_literal(
        batch, [{"sub_id": 1, "regex": "x", "host": "h", "port": 1, "proto": "tcp"}]
    )
    assert out.unionByName(routed).count() == 5


@pytest.mark.slow
def test_real_tcp_delivery_and_dead_subscriber_drop(spark, tmp_path):
    """S7 with a REAL TCP socket + ST4 drop-and-warn: live subscriber gets
    its records over the wire; the dead one is dropped without failing the
    stream, with drops tallied (executor-side, via accumulator)."""
    live = TcpReceiver()
    dead_port = _free_port()

    logdir = str(tmp_path / "logs")
    os.makedirs(logdir)
    _write_log(logdir, "a.txt", ["CALL alpha", "FLOW beta", "CALL gamma"])

    subs = [
        {"sub_id": 1, "regex": "^CALL", "host": "127.0.0.1", "port": live.port},
        {"sub_id": 2, "regex": "FLOW", "host": "127.0.0.1", "port": dead_port},
    ]
    drops: dict = {}
    try:
        q = start_wiretap(
            tail_stream(spark, logdir),
            get_subscriptions=lambda s: subscriptions_df(s, subs),
            trigger_available_now=True,
            drop_stats=drops,
        )
        assert q.awaitTermination(300)
    finally:
        live.close()

    assert sorted(live.received) == ["CALL alpha", "CALL gamma"]
    assert drops == {("127.0.0.1", dead_port): 1}


@pytest.mark.slow
def test_udp_delivery(spark, tmp_path):
    """S7's UDP flavor (RealTimeCdrWiretap.java:59-72 / LoggerTest.java:
    10-19): a udp-proto subscription receives its matches as datagrams while
    a tcp one on the same stream still works."""
    udp = UdpReceiver()
    tcp = TcpReceiver()

    logdir = str(tmp_path / "logs")
    os.makedirs(logdir)
    _write_log(logdir, "a.txt", ["CALL alpha", "FLOW beta", "CALL gamma"])

    subs = [
        {"sub_id": 1, "regex": "^CALL", "host": "127.0.0.1", "port": udp.port, "proto": "udp"},
        {"sub_id": 2, "regex": "FLOW", "host": "127.0.0.1", "port": tcp.port},
    ]
    try:
        q = start_wiretap(
            tail_stream(spark, logdir),
            get_subscriptions=lambda s: subscriptions_df(s, subs),
            trigger_available_now=True,
        )
        assert q.awaitTermination(300)
        # UDP is fire-and-forget but loopback delivery is reliable in
        # practice; give the receiver thread a beat
        import time

        deadline = time.time() + 5
        while time.time() < deadline and len(udp.received) < 2:
            time.sleep(0.05)
        assert sorted(udp.received) == ["CALL alpha", "CALL gamma"]
        assert tcp.received == ["FLOW beta"]
    finally:
        udp.close()
        tcp.close()


@pytest.mark.slow
def test_grep_to_wiretap_batch_stream_bridge(spark):
    """The reference's commented-out batch→stream bridge, demonstrated end
    to end (DistributedGrep.java:33,38-47,57: grep matches pushed to the
    wiretap channel): a BATCH grep's matches arrive at a live TCP
    subscriber over a real socket, multicast per each subscriber's own
    regex, with a dead subscriber dropped and tallied — same executor-side
    delivery path as the streaming wiretap."""
    from hadoop_stuff_spark.engine import Engine

    live = TcpReceiver()
    dead_port = _free_port()
    df = spark.createDataFrame(
        [("CALL alpha",), ("FLOW beta",), ("CALL gamma 42",), ("noise",)],
        "value string",
    )
    drops: dict = {}
    try:
        Engine(spark).grep_to_wiretap(
            df,
            pattern="^(CALL|FLOW)",
            subscriptions=[
                f"CALL 127.0.0.1:{live.port}",
                f"FLOW 127.0.0.1:{dead_port}",
            ],
            drop_stats=drops,
        )
        import time

        deadline = time.time() + 5
        while time.time() < deadline and len(live.received) < 2:
            time.sleep(0.05)
    finally:
        live.close()

    assert sorted(live.received) == ["CALL alpha", "CALL gamma 42"]
    assert drops == {("127.0.0.1", dead_port): 1}


@pytest.mark.slow
def test_route_batch_strategies_agree(spark):
    """Unified matcher entry point (PLAN_r7 #3): route_batch's default
    literal strategy and the column-regex join escape hatch must return
    the same (sub_id, record) multicast with the same column layout."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.streaming.wiretap import route_batch, subscriptions_df

    batch = spark.createDataFrame(
        [("CALL alpha",), ("FLOW beta",), ("CALL FLOW both",), ("noise",)],
        "value string",
    )
    subs = subscriptions_df(
        spark,
        [
            {"sub_id": 1, "regex": "^CALL", "host": "h1", "port": 10},
            {"sub_id": 2, "regex": "FLOW", "host": "h2", "port": 20, "proto": "udp"},
        ],
    )

    def rows(df):
        return {(r.sub_id, r.host, r.port, r.proto, r.value) for r in df.collect()}

    lit = route_batch(batch, subs)  # default: literal
    jn = route_batch(batch, subs, strategy="join")
    assert lit.columns == jn.columns == ["sub_id", "host", "port", "proto", "value"]
    assert rows(lit) == rows(jn)
    assert rows(lit) == {
        (1, "h1", 10, "tcp", "CALL alpha"),
        (1, "h1", 10, "tcp", "CALL FLOW both"),
        (2, "h2", 20, "udp", "FLOW beta"),
        (2, "h2", 20, "udp", "CALL FLOW both"),
    }

    import pytest

    with pytest.raises(ValueError, match="strategy"):
        route_batch(batch, subs, strategy="bogus")


def test_subscriptions_df_is_a_driver_local_relation(spark):
    """The wiretap re-reads the subscriptions table every micro-batch, so
    building and collecting it must run no Spark job: the table plans as a
    LocalTableScan (never Scan ExistingRDD), with or without Arrow enabled
    for pandas conversion, and also when it is empty."""
    from hadoop_stuff_spark.streaming.wiretap import SUBSCRIPTION_SCHEMA

    rows = [
        {"sub_id": 1, "regex": "^CALL", "host": "h1", "port": 10},
        {"sub_id": 2, "regex": "FLOW", "host": "h2", "port": 20, "proto": "udp"},
    ]
    expected = [(1, "^CALL", "h1", 10, "tcp"), (2, "FLOW", "h2", 20, "udp")]
    sc = spark.sparkContext
    arrow_conf = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(arrow_conf)
    try:
        for arrow in ("true", "false"):
            spark.conf.set(arrow_conf, arrow)
            for subs, want in ((rows, expected), ([], [])):
                group = f"subs-{arrow}-{len(subs)}"
                sc.setJobGroup(group, group)
                try:
                    df = subscriptions_df(spark, subs)
                    got = [tuple(r) for r in df.collect()]
                finally:
                    sc._jsc.clearJobGroup()
                assert sc.statusTracker().getJobIdsForGroup(group) == []
                assert got == want
                assert df.schema == SUBSCRIPTION_SCHEMA
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    finally:
        spark.conf.set(arrow_conf, saved)


def test_deliver_routed_multi_partition_exactly_once_without_shuffle(spark, monkeypatch):
    """Delivery runs in the routing tasks: a 3-partition routed frame goes
    out with no Exchange in the executed plan, every matched record reaches
    each of its subscribers exactly once (a record matching two
    subscriptions goes to both), and the dead port's records are dropped
    and tallied per (host, port) — ST4 — without failing the call."""
    from pyspark.sql import functions as F

    from hadoop_stuff_spark.streaming.wiretap import deliver_routed, route_batch_literal

    n = 60
    tags = ["A", "B", "C"]
    batch = spark.range(0, n, 1, numPartitions=3).select(
        F.concat(
            F.lit("rec "), F.col("id").cast("string"), F.lit(" "),
            F.element_at(F.array(*map(F.lit, tags)), (F.col("id") % 3 + 1).cast("int")),
        ).alias("value")
    )
    # record the executed plan of every frame handed to foreachPartition
    plans = []
    frame_cls = type(batch)
    original = frame_cls.foreachPartition

    def spy(self, f):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return original(self, f)

    monkeypatch.setattr(frame_cls, "foreachPartition", spy)
    a, b = TcpReceiver(), TcpReceiver()
    dead_port = _free_port()
    subs = [
        {"sub_id": 1, "regex": " A$", "host": "127.0.0.1", "port": a.port, "proto": "tcp"},
        {"sub_id": 2, "regex": " [AB]$", "host": "127.0.0.1", "port": b.port, "proto": "tcp"},
        {"sub_id": 3, "regex": " C$", "host": "127.0.0.1", "port": dead_port, "proto": "tcp"},
    ]
    want_a = sorted(f"rec {i} A" for i in range(n) if i % 3 == 0)
    want_b = sorted(f"rec {i} {tags[i % 3]}" for i in range(n) if i % 3 < 2)
    drops: dict = {}
    try:
        routed = route_batch_literal(batch, subs)
        assert routed.rdd.getNumPartitions() == 3
        deliver_routed(routed, drop_stats=drops)
        import time

        deadline = time.time() + 10
        while time.time() < deadline and (
            len(a.received) < len(want_a) or len(b.received) < len(want_b)
        ):
            time.sleep(0.05)
    finally:
        a.close()
        b.close()

    assert sorted(a.received) == want_a
    assert sorted(b.received) == want_b
    assert drops == {("127.0.0.1", dead_port): n // 3}
    assert len(plans) == 1 and "Exchange" not in plans[0], plans
