"""User-facing engine facade — the reference's entry points as one class.

The reference exposes three gradle JavaExec tasks taking a comma-delimited
positional config string (build.gradle:36-55; parsed at
DistributedGrep.java:85-93): `ingest`, `recordCount`, `grep` — plus the
wiretap registered via raw "<regex> <host>:<port>" messages
(RealTimeCdrWiretap.java:30-38). A user of the reference switches by
replacing each task invocation with the corresponding method here (or the
`python -m hadoop_stuff_spark` CLI in `__main__.py`):

    gradle ingest      → Engine().ingest(src_txt, dst_store)
    gradle recordCount → Engine().record_count(dst_store)
    gradle grep        → Engine().grep(dst_store, pattern)
    wiretap register   → Engine().wiretap(log_dir, ["<regex> <host>:<port>", ...])
    (no SQL existed)   → Engine().sql("SELECT ...")  — the surface the
                         reference lacked (SURVEY.md §2.6), free from Spark

No remote-user impersonation / namenode / jobtracker / jar-path plumbing
survives the translation: session conf replaces all of it (SURVEY.md §3.1
steps 1-4 collapse into `get_spark()`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hadoop_stuff_spark.catalog import register_views
from hadoop_stuff_spark.operators.counts import record_count as _record_count
from hadoop_stuff_spark.operators.counts import chunked_record_count
from hadoop_stuff_spark.operators.grep import grep as _grep
from hadoop_stuff_spark.operators.grep import grep_count
from hadoop_stuff_spark.session import get_spark
from hadoop_stuff_spark.sources.chunks import read_chunked, write_chunked
from hadoop_stuff_spark.streaming.tail import tail_stream
from hadoop_stuff_spark.streaming.wiretap import (
    parse_subscription,
    start_wiretap,
    subscriptions_df,
)


class Engine:
    """Facade over the engine's operators, bound to one SparkSession."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()

    # -- ingest (reference: gradle ingest → IngestTest.main) ----------------

    def ingest(
        self,
        source_path: str,
        target_path: str,
        chunk_size: int = 1000,
        partition_cols: list[str] | None = None,
    ) -> None:
        """Line-oriented text → gzip-chunked parquet store (S1→S3: the
        reference's threaded chunk/compress/write pipeline as one
        declarative write; chunk_size ≙ IngestTest.java:53's knob)."""
        lines = self.spark.read.text(source_path)
        write_chunked(
            lines, "value", target_path, chunk_size, partition_cols
        )

    # -- batch queries (reference: gradle grep / recordCount) ---------------

    def _load(self, path: str, fmt: str = "chunked") -> DataFrame:
        if fmt == "chunked":
            return read_chunked(self.spark, path, line_name="value")
        if fmt == "text":
            return self.spark.read.text(path)
        if fmt == "parquet":
            return self.spark.read.parquet(path)
        if fmt == "orc":
            # ORC ships in Spark proper (Avro would need the external
            # spark-avro jar, absent in this environment)
            return self.spark.read.orc(path)
        raise ValueError(f"unknown format {fmt!r} (chunked|text|parquet|orc)")

    def grep(self, path: str, pattern: str, fmt: str = "chunked") -> DataFrame:
        """Distributed grep (T4, DistributedGrep.java:51-60) — matching
        records, not just the reference's stdout prints."""
        return _grep(self._load(path, fmt), pattern, "value")

    def grep_count(self, path: str, pattern: str, fmt: str = "chunked") -> DataFrame:
        """Fused grep+count (the flagship shape)."""
        return grep_count(self._load(path, fmt), pattern, "value")

    def record_count(self, path: str, fmt: str = "chunked") -> DataFrame:
        """Record count (A1-A4, RecordCount.java): for chunked stores every
        chunk is gunzipped and its lines counted map-side, so no per-record
        rows are made and only one partial sum per task is shuffled (the
        reference's manual map-side pre-aggregation, RecordCount.java:43).
        The decode is the cost: it reads and decompresses every payload,
        like a grep over the same store."""
        if fmt == "chunked":
            return chunked_record_count(self.spark.read.parquet(path))
        return _record_count(self._load(path, fmt))

    # -- SQL surface (absent in reference, §2.6) ----------------------------

    def sql(self, query: str, sf_dir: str | None = None) -> DataFrame:
        """ANSI SQL over registered views. With ``sf_dir``, the ten
        testdata tables are (re)registered first."""
        if sf_dir:
            register_views(self.spark, sf_dir)
        return self.spark.sql(query)

    # -- streaming wiretap (ST1-ST3) ----------------------------------------

    def wiretap(
        self,
        log_dir: str,
        subscriptions: list[str],
        deliver=None,
        checkpoint_dir: str | None = None,
        available_now: bool = False,
    ):
        """Tail ``log_dir`` and route matches per subscription, each given
        in the reference's wire grammar "<regex> <host>:<port>"
        (RealTimeCdrWiretap.java:32-38). Returns the StreamingQuery."""
        subs = [parse_subscription(s, i + 1) for i, s in enumerate(subscriptions)]
        return start_wiretap(
            tail_stream(self.spark, log_dir),
            get_subscriptions=lambda s: subscriptions_df(s, subs),
            deliver=deliver,
            checkpoint_dir=checkpoint_dir,
            trigger_available_now=available_now,
        )

    def grep_to_wiretap(
        self,
        df: DataFrame,
        pattern: str,
        subscriptions: list[str],
        record_col: str = "value",
        deliver=None,
        drop_stats: dict | None = None,
    ) -> None:
        """The batch→stream bridge the reference sketched but never wired
        (DistributedGrep.java:33,38-47,57 — grep matches pushed to the
        wiretap channel): run a BATCH grep over ``df`` and deliver the
        matches to live wiretap subscribers through the SAME executor-side
        socket path the streaming wiretap uses. Subscriptions use the
        reference's wire grammar "<regex> <host>:<port>"; each match must
        also satisfy the subscriber's own regex (the wiretap contract), so
        the batch result is multicast, not broadcast. Matched payload
        bytes flow executor→subscriber, never through the driver."""
        from hadoop_stuff_spark.operators.grep import grep
        from hadoop_stuff_spark.streaming.wiretap import route_and_deliver_batch

        subs = [parse_subscription(s, i + 1) for i, s in enumerate(subscriptions)]
        route_and_deliver_batch(
            grep(df, pattern, record_col),
            subs,
            record_col=record_col,
            deliver=deliver,
            drop_stats=drop_stats,
        )

    # ------------------------------------------------------------------
    # round-3 surface: quality gate, sketches, resample, plan lint

    def check_quality(self, df: DataFrame, rules: dict) -> DataFrame:
        """One-scan data-quality summary (operators/quality.check_rows)."""
        from hadoop_stuff_spark.operators.quality import check_rows

        return check_rows(df, rules)

    def enforce_quality(self, df: DataFrame, rules: dict):
        """(clean, quarantine) split with per-row failed_rules."""
        from hadoop_stuff_spark.operators.quality import enforce

        return enforce(df, rules)

    def audit(self, sf_dir: str) -> dict[str, DataFrame]:
        """One-call schema-wide integrity audit over a catalog directory:
        referential integrity across every FK edge, primary-key
        uniqueness across every table, and the per-column profile of the
        fact tables — the publish gate a warehouse load runs before
        flipping a snapshot pointer. Returns the certified report frames
        (one dict entry each — count them in the test, not here; quoted
        counts in prose go stale) unmaterialized (the caller decides what to collect/land),
        so composing them costs nothing until an action runs — with one
        exception: the source-similarity matrix runs an eager distinct-
        source probe at BUILD time (its pair grid and driver collect are
        sized by the source count, so the guard must fire before the
        plan exists); past its max_sources cap that entry is omitted
        with a warning rather than failing the whole audit."""
        from hadoop_stuff_spark.catalog import load_table
        from hadoop_stuff_spark.operators.profile import profile_table
        from hadoop_stuff_spark.operators.quality import (
            duplicate_key_report,
            referential_integrity_report,
        )

        from hadoop_stuff_spark.operators.profile import (
            benford_first_digit_audit,
        )
        from hadoop_stuff_spark.operators.profile import (
            n3_length_psi_by_source,
        )
        from hadoop_stuff_spark.operators.textstats import (
            source_js_divergence_matrix,
        )

        out = {
            "referential": referential_integrity_report(self.spark, sf_dir),
            "duplicate_keys": duplicate_key_report(self.spark, sf_dir),
            "orders_profile": profile_table(load_table(self.spark, sf_dir, "orders")),
            # round-8 addition: fabricated-money tripwire (certified
            # EXTRA oracle; unmaterialized like the three above)
            "benford": benford_first_digit_audit(self.spark, sf_dir),
            # round-9 addition: per-source length-distribution drift
            # (certified EXTRA oracle; unmaterialized)
            "length_drift": n3_length_psi_by_source(self.spark, sf_dir),
        }
        try:
            # eager source-count probe inside (see docstring)
            out["source_similarity"] = source_js_divergence_matrix(
                self.spark, sf_dir
            )
        except ValueError as exc:
            # swallow ONLY the documented max_sources cap — any other
            # ValueError is a real bug and must stay loud (r9 review)
            if "max_sources" not in str(exc):
                raise
            import warnings

            warnings.warn(
                f"audit: source_similarity skipped — {exc}", stacklevel=2
            )
        return out

    def distinct_sketches(self, df: DataFrame, lg_k: int = 12) -> DataFrame:
        """Mergeable per-(day,type) HLL sketch table over an events-shaped
        frame (operators/sketches.build_user_sketches)."""
        from hadoop_stuff_spark.operators.sketches import build_user_sketches

        return build_user_sketches(df, lg_k=lg_k)

    def resample(self, df: DataFrame, ts_col: str, key_cols: list[str],
                 agg_cols: dict, step: str = "1 hour", fill: str = "zero") -> DataFrame:
        """Regular-grid resampling with zero/ffill gap fill."""
        from hadoop_stuff_spark.operators.temporal import resample

        return resample(df, ts_col, key_cols, agg_cols, step=step, fill=fill)

    def lint(self, df: DataFrame, **kwargs) -> list:
        """Physical-plan anti-pattern findings (plans/lint.lint_plan)."""
        from hadoop_stuff_spark.plans.lint import lint_plan

        return lint_plan(df, **kwargs)

    def chunk(self, df: DataFrame, window: int = 64, overlap: int = 16) -> DataFrame:
        """Split documents into overlapping token windows (RAG prep)."""
        from hadoop_stuff_spark.operators.chunking import chunk_documents

        return chunk_documents(df, window=window, overlap=overlap)

    def embed(self, df: DataFrame, text_col: str = "chunk_text") -> DataFrame:
        """Add an L2-normalized embedding column (stub encoder; swap point
        documented in operators/embedding.py)."""
        from hadoop_stuff_spark.operators.embedding import embed_text

        return embed_text(df, text_col=text_col)

    def scd2_merge(self, history: DataFrame, snapshot: DataFrame,
                   key_cols: list[str], tracked_cols: list[str], batch_ts: str) -> DataFrame:
        """Fold a dimension snapshot into an SCD2 history table."""
        from hadoop_stuff_spark.operators.scd import scd2_merge

        return scd2_merge(history, snapshot, key_cols, tracked_cols, batch_ts)

    # ------------------------------------------------------------------
    # round-4 surface: set-algebra/quantile/frequency sketches, upsert,
    # typed file skipping

    def theta_sketches(self, df: DataFrame, lg_k: int = 14) -> DataFrame:
        """Per-(day,type) theta sketch table — distinct counts PLUS set
        algebra (overlap/retention) from the persisted blobs."""
        from hadoop_stuff_spark.operators.sketches import build_user_theta_sketches

        return build_user_theta_sketches(df, lg_k=lg_k)

    def audience_overlap(self, sketches: DataFrame, type_a: str, type_b: str) -> DataFrame:
        """|A|, |B|, A∩B, A∪B, A\\B, B\\A, Jaccard between two event
        types' audiences — one scan of the sketch table, no fact rescan."""
        from hadoop_stuff_spark.operators.sketches import theta_audience_overlap

        return theta_audience_overlap(sketches, type_a, type_b)

    def retention(self, sketches: DataFrame, date_a: str, date_b: str) -> DataFrame:
        """Users active on date_a who returned (or churned) by date_b."""
        from hadoop_stuff_spark.operators.sketches import theta_retention

        return theta_retention(sketches, date_a, date_b)

    def quantile_sketches(self, df: DataFrame, k: int = 200) -> DataFrame:
        """Per-(day,type) mergeable KLL sketch table of `value`."""
        from hadoop_stuff_spark.operators.sketches import build_value_kll_sketches

        return build_value_kll_sketches(df, k=k)

    def quantiles(self, sketches: DataFrame, probs=(0.5, 0.95, 0.99)) -> DataFrame:
        """Per-type quantiles from the KLL sketch table (rank-error
        bounded), never rescanning facts."""
        from hadoop_stuff_spark.operators.sketches import kll_quantiles_by_type

        return kll_quantiles_by_type(sketches, probs=list(probs))

    def frequency_sketches(self, df: DataFrame, eps: float = 1e-3) -> DataFrame:
        """Per-day mergeable count-min sketch table of user_id occurrences."""
        from hadoop_stuff_spark.operators.sketches import build_user_cms

        return build_user_cms(df, eps=eps)

    def frequency_estimates(
        self, sketches: DataFrame, items: list[int],
        start: str | None = None, end: str | None = None,
    ) -> dict[int, int]:
        """Point occurrence estimates (>= true, <= true + eps*N) for
        ``items`` over a date range of the CMS table."""
        from hadoop_stuff_spark.operators.sketches import cms_point_estimates

        return cms_point_estimates(self.spark, sketches, items, start=start, end=end)

    def upsert(
        self, target_path: str, delta: DataFrame,
        keys: list[str], partition_cols: list[str],
    ) -> dict:
        """MERGE a delta into a partitioned parquet table at O(affected
        partitions) (sources/upsert.upsert_by_key)."""
        from hadoop_stuff_spark.sources.upsert import upsert_by_key

        return upsert_by_key(self.spark, target_path, delta, keys, partition_cols)

    def corpus_overlap(self, corpus_a: DataFrame, corpus_b: DataFrame,
                       text_col: str = "text") -> DataFrame:
        """No-join content-overlap report between two corpora (theta
        sketches over normalized fingerprints): shared/unique doc counts
        and Jaccard — the cross-dedup planning query."""
        from hadoop_stuff_spark.operators.sketches import corpus_overlap

        return corpus_overlap(corpus_a, corpus_b, text_col=text_col)

    def sketch_corpus_for_prescreen(
        self, docs: DataFrame, text_col: str = "text", n: int = 3, lg_k: int = 20
    ) -> bytes:
        """Build (one slice of) the corpus shingle sketch the curate
        pre-screen can consume with ZERO corpus scans at curate time:
        applies the SAME `clean_text` normalization `curate` applies
        before shingling — the gate's superset proof requires the
        maintained sketch to cover the CLEANED text's shingles — then
        sketches the word n-gram shingles. Blobs from corpus slices
        (per ingest batch) union losslessly via
        `operators.sketches.merge_theta_blobs`; pass the folded blob as
        ``curate(prescreen=True, prescreen_corpus_blob=blob)``."""
        from hadoop_stuff_spark.operators.cleaning import clean_text
        from hadoop_stuff_spark.operators.sketches import sketch_shingles_blob

        return sketch_shingles_blob(
            docs.withColumn(text_col, clean_text(text_col)), text_col, n, lg_k
        )

    def score_by_frequency(
        self, sketches: DataFrame, probes: DataFrame, key_col: str,
        out_col: str = "est_count",
        start: str | None = None, end: str | None = None,
    ) -> DataFrame:
        """Executor-side CMS frequency column over a probe frame; picks
        the vectorized long-key or string-key estimator by column type."""
        from pyspark.sql.types import StringType

        from hadoop_stuff_spark.operators.sketches import (
            with_frequency_estimates,
            with_string_frequency_estimates,
        )

        is_str = isinstance(probes.schema[key_col].dataType, StringType)
        fn = with_string_frequency_estimates if is_str else with_frequency_estimates
        return fn(self.spark, sketches, probes, key_col,
                  out_col=out_col, start=start, end=end)

    def drift_report(self, sketches: DataFrame, split_date: str,
                     n_probes: int = 99) -> DataFrame:
        """Per-type KS drift statistic between before/after ``split_date``
        from a KLL sketch table — no fact rescan."""
        from hadoop_stuff_spark.operators.sketches import kll_drift_by_type

        return kll_drift_by_type(sketches, split_date, n_probes=n_probes)

    def advise(self, df: DataFrame, **kwargs) -> list:
        """Size-aware plan advisory (plans/advisor.advise): missed
        broadcasts and large shuffles from Catalyst's own estimates."""
        from hadoop_stuff_spark.plans.advisor import advise

        return advise(df, **kwargs)

    def curate(
        self,
        docs: DataFrame,
        holdout: DataFrame | None = None,
        text_col: str = "text",
        id_col: str = "doc_id",
        near_threshold: float = 0.4,
        max_contamination: float = 0.05,
        max_dup_word_frac: float = 0.9,
        weights: dict[str, float] | None = None,
        prescreen: bool = False,
        prescreen_corpus_blob: bytes | None = None,
        qlog=None,
    ) -> DataFrame:
        """One-call LLM training-data curation — the certified pipeline
        (tests/test_llm_pipeline_e2e.py) as product API:

        clean → exact dedup (content fingerprint) → MinHash-LSH near-dup
        removal (banded candidates, min-id canonical per cluster) →
        contamination filter vs ``holdout`` (drop docs whose CONTAMINATED
        3-gram FRACTION exceeds ``max_contamination`` — a fractional
        threshold, because generic prose always shares a few n-grams with
        any benchmark and an any-overlap rule empties real corpora; pass
        0.0 for the strict drop-on-any-overlap posture) → repetition gate
        (duplicate-word fraction) → deterministic train/val/test split.

        Returns the surviving rows with a ``split`` column. Every stage
        is the scale-path operator (no all-pairs anywhere); determinism
        is hash-based throughout, so re-running on the same input yields
        the same corpus.

        ``prescreen=True`` (VERDICT r5 #7) runs the theta shingle
        disjointness gate (`operators.sketches.shingle_overlap_gate`)
        before the contamination stage and SKIPS the shingle join when
        corpus×holdout shingle overlap is provably zero (both sketches
        exact-mode) — output is byte-identical either way, because the
        skipped join is a certified no-op. Off by default: the gate
        costs one extra corpus scan — UNLESS ``prescreen_corpus_blob``
        carries an incrementally maintained sketch (built per corpus
        slice with `sketch_corpus_for_prescreen`, folded with
        `operators.sketches.merge_theta_blobs`), which makes the gate
        zero-scan. Soundness of the blob path: the blob sketches the
        CLEANED full corpus's shingles, a superset of the post-dedup
        survivors' shingles, so proven disjointness transfers; a stale
        blob missing newly-added docs breaks that superset premise, so
        only pass blobs covering every doc in ``docs``.

        ``qlog`` (VERDICT r5 #6): pass a `plans.qlog.QueryLog` to make
        the composite attributable — each stage is then eagerly
        materialized under a timed `curate:<stage>` log row (wall
        seconds, exchanges, lint findings), so the pipeline's cost
        decomposes stage by stage. The barriers change scheduling, not
        results (every stage is deterministic); leave it None for the
        fully-fused lazy plan.

        Eager side effect (ADVICE r12): in fused mode (``qlog=None``)
        the two fan-out points (exact dedup, near-dup survivors) are
        pinned with EAGER localCheckpoints at pipeline-CONSTRUCTION
        time, so merely calling ``curate()`` runs the clean/dedup Spark
        jobs even if the caller never triggers an action on the result
        — a plan-only/explain-only caller pays them. The checkpointed
        blocks are also executor-local and non-replicated: on a real
        cluster a lost executor fails the query instead of recomputing
        (the basket_affinity ``materialize="persist"`` trade-off,
        accepted here because the barrier is what stops Catalyst
        re-executing the scan+clean+dedup subtree per fan-out consumer
        — 8 documents scans in the fused plan without it)."""
        from pyspark.sql import functions as F

        from hadoop_stuff_spark.functions import text as T
        from hadoop_stuff_spark.operators.cleaning import clean_text
        from hadoop_stuff_spark.operators.clusters import dedup_clusters
        from hadoop_stuff_spark.operators.contamination import overlap_report
        from hadoop_stuff_spark.operators.dedup import (
            drop_exact_duplicates,
            minhash_candidates,
        )
        from hadoop_stuff_spark.operators.sampling import split_corpus

        import time as _time

        # r13 (guide §2.2): spread a narrow input scan across the cores
        # BEFORE the CPU-heavy clean/fingerprint projection — the bench
        # corpus arrives as one single-row-group parquet partition, and
        # without this the regex clean + md5 fingerprinting runs
        # single-task. spread() is a no-op whenever the scan already
        # yields >= cores partitions (production shape).
        from hadoop_stuff_spark.catalog import spread as _spread

        docs = _spread(docs)
        _wide = max(
            self.spark.sparkContext.defaultParallelism,
            int(self.spark.conf.get("spark.sql.shuffle.partitions")),
        )

        def stage(name: str, build) -> DataFrame:
            # Attribution must cover CONSTRUCTION too: iterative operators
            # (dedup_clusters' pointer-jumping rounds, minhash_candidates'
            # eager signature checkpoint) execute jobs while the frame is
            # being built, before any action runs on it.
            if qlog is None:
                return build()
            t0 = _time.perf_counter()
            df = build()
            built = _time.perf_counter() - t0
            return qlog.run(
                f"curate:{name}",
                df,
                action=lambda d: d.localCheckpoint(eager=True),
                extra_wall_s=built,
            )

        exact = stage(
            "clean_exact_dedup",
            lambda: drop_exact_duplicates(
                docs.withColumn(text_col, clean_text(text_col)), text_col
            ),
        )
        if qlog is None:
            # fan-out barrier (r12): `exact` feeds BOTH the minhash
            # signature pass and the survivor anti-join; fused-lazily,
            # Catalyst re-executes the scan + clean + exact-dedup
            # subtree per reference (the r12 plan audit counted 8
            # documents scans in the one fused plan). In qlog mode the
            # stage wrapper has already checkpointed. Results unchanged
            # — the barrier only cuts lineage. r13: the checkpoint is
            # WIDENED first — localCheckpoint preserves partitioning,
            # and the exact-dedup exchange AQE-coalesces to ~1
            # partition at bench scale, which would serialize the
            # expensive MinHash HOF signature pass reading it.
            exact = exact.repartition(_wide).localCheckpoint(eager=True)

        def build_near_dedup() -> DataFrame:
            pairs = minhash_candidates(exact, id_col, text_col).filter(
                F.col("est_jaccard") >= near_threshold
            )
            losers = (
                dedup_clusters(pairs)
                .filter(F.col("doc_id") != F.col("cluster_id"))
                .select(F.col("doc_id").alias(id_col))
            )
            return exact.join(losers, id_col, "left_anti")

        survivors = stage("near_dedup", build_near_dedup)
        if qlog is None and holdout is not None:
            # same fan-out rule: survivors feed the contamination
            # report AND the post-filter anti-join; widened for the
            # same reason as `exact` (the shingle explode + probe join
            # reading this checkpoint is CPU-heavy per row)
            survivors = survivors.repartition(_wide).localCheckpoint(eager=True)
        if holdout is not None:
            skip_contamination = False
            if prescreen:
                from hadoop_stuff_spark.operators.sketches import (
                    shingle_overlap_gate,
                )

                # survivors is already materialized at this point in
                # every mode (the fused-mode fan-out barrier above, or
                # qlog's stage checkpoint), so the gate's sketch scan
                # never re-executes the upstream pipeline
                gate = shingle_overlap_gate(
                    survivors,
                    holdout,
                    text_col,
                    n=3,
                    corpus_blob=prescreen_corpus_blob,
                )
                skip_contamination = gate["provably_disjoint"]
            if not skip_contamination:
                base = survivors

                def build_contamination() -> DataFrame:
                    contaminated = (
                        overlap_report(base, holdout, text_col, id_col, n=3)
                        .filter(F.col("contam_frac") > max_contamination)
                        .select(id_col)
                    )
                    return base.join(contaminated, id_col, "left_anti")

                survivors = stage("contamination", build_contamination)
        toks = T.tokens(text_col)
        gated = stage(
            "repetition_gate",
            lambda: survivors.withColumn(
                "_dup_frac",
                1 - F.size(F.array_distinct(toks)) / F.greatest(F.size(toks), F.lit(1)),
            )
            .filter(F.col("_dup_frac") <= max_dup_word_frac)
            .drop("_dup_frac"),
        )
        return stage(
            "split",
            lambda: split_corpus(
                gated, id_col, weights or {"train": 0.9, "val": 0.05, "test": 0.05}
            ),
        )
