"""Structured Streaming ingestion: continuous crawl → extraction.

The reference processes one page at a time as it is fetched; the batch
pipeline (plans/pipeline.py) processes a finished crawl table. This
module covers the middle ground — a crawler continuously landing
parquet files of pages into a directory (or a Kafka topic of WARC
records on a real cluster) — as a Structured Streaming job:

    readStream (file source, schema = input_hint)
      → extract(...)            # same compiled rule tree, mapInArrow
      → writeStream parquet, partitioned, exactly-once via checkpoint

Because extraction is stateless and map-only, the whole rule-tree
engine lifts to streaming unchanged: no watermarks needed (no
aggregation), checkpointing gives exactly-once file-to-file delivery,
and the same per-doc failure isolation applies. Use
``trigger=availableNow`` for catch-up/backfill runs and the default
micro-batch trigger for continuous tailing.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from goose_parser_spark.extractor import extract
from goose_parser_spark.rules.compiler import CompiledRules, RuleCompiler
from goose_parser_spark.sources.fixtures import pages_schema


def _start_parquet_sink(df, output_dir: str, checkpoint_dir: str,
                        available_now: bool):
    """Start an append-mode parquet sink at ``output_dir``; the sink
    commit log under ``checkpoint_dir`` makes delivery exactly-once.
    ``available_now`` drains the input present at start, then stops."""
    writer = (df.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_extract(
    spark: SparkSession,
    input_dir: str,
    rules: dict | CompiledRules,
    output_dir: str,
    checkpoint_dir: str,
    schema=None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start a streaming extraction over a directory of pages parquet.

    Returns the StreamingQuery. Exactly-once: the file-source log +
    sink commit log both live under ``checkpoint_dir``; restarting
    after a kill resumes from the last committed micro-batch without
    reprocessing finished files (the streaming counterpart of the
    batch bucket-resume protocol, SURVEY.md §2.8 I3).
    """
    reader = (spark.readStream
              .schema(schema or pages_schema())
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.load(input_dir)

    extracted = extract(pages, rules)

    return _start_parquet_sink(extracted, output_dir, checkpoint_dir,
                               available_now)


def stream_dedup_exact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema=None,
    text_col: str = "html",
    available_now: bool = True,
):
    """Streaming exact dedup: emit each distinct content exactly once
    ACROSS micro-batches (a continuous crawl re-fetches the same page
    endlessly; the first sighting wins, forever).

    Custom stateful operator via ``applyInPandasWithState``: the
    stream is keyed by ``xxhash64(content)`` (a narrow 8-byte shuffle
    key — never the blob), and per-key state is a single "seen" flag
    persisted in the checkpoint's state store. Deterministic within a
    batch: the minimum-url row of a new key is the survivor. At 100 TB
    state is O(distinct keys) longs, partitioned by the state store
    exactly like the shuffle — no driver-side anything. Exactly-once
    end to end: state + sink commit logs share ``checkpoint_dir``.

    Returns the StreamingQuery; output schema = input + ``content_h``.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    in_schema = schema or pages_schema()
    reader = spark.readStream.schema(in_schema).format("parquet")
    pages = reader.load(input_dir)
    keyed = pages.withColumn("content_h", F.xxhash64(F.col(text_col)))

    out_schema = StructType(in_schema.fields
                            + [StructField("content_h", LongType(), True)])
    state_schema = StructType([StructField("seen", LongType(), True)])

    def dedup_fn(key, pdf_iter, state):
        if state.exists:
            return  # key already emitted in an earlier batch: drop all
        first = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            cand = pdf.sort_values("url").iloc[:1]
            if first is None or cand["url"].iloc[0] < first["url"].iloc[0]:
                first = cand
        # mark seen ONLY when a survivor was actually emitted — if the
        # runner ever hands us all-empty chunks, the key must stay
        # unseen so a later sighting still emits (ADVICE r02)
        if first is not None:
            state.update((1,))
            yield first

    dedup = (keyed.groupBy("content_h")
             .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                     "append", GroupStateTimeout.NoTimeout))
    return _start_parquet_sink(dedup, output_dir, checkpoint_dir,
                               available_now)


def stream_windowed_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
    available_now: bool = True,
):
    """Watermarked tumbling-window counts per key — the late-data
    pattern for streaming event aggregation: events later than
    ``watermark`` behind the max seen ``ts`` are dropped and each
    window finalizes (append mode emits it exactly once) when the
    watermark passes its end. State is one count per open
    (window, key) — bounded by the watermark horizon, not the stream
    length. Returns the StreamingQuery.

    Columns: ``window_start, window_end, <key_col>, n``.
    """
    from pyspark.sql import functions as F

    events = (spark.readStream.schema(schema).format("parquet")
              .load(input_dir))
    agg = (events
           .withWatermark(ts_col, watermark)
           .groupBy(F.window(F.col(ts_col), window_duration),
                    F.col(key_col))
           .agg(F.count("*").alias("n"))
           .select(F.col("window.start").alias("window_start"),
                   F.col("window.end").alias("window_end"),
                   F.col(key_col), F.col("n")))
    return _start_parquet_sink(agg, output_dir, checkpoint_dir,
                               available_now)


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    available_now: bool = True,
):
    """Streaming gap-based sessionization — the custom stateful
    operator Structured Streaming has no built-in for: group events by
    key, close a session when ``gap_seconds`` passes with no event.

    ``applyInPandasWithState`` with EVENT-TIME timeout: per-key state
    is the open session (start, last_ts, n). Within a batch, sorted
    events split on gaps and every CLOSED session is emitted
    immediately; the still-open tail stays in state with a timeout at
    ``last_ts + gap`` — when the WATERMARK (not wall clock) passes it,
    the final session flushes. State is one row per key with an open
    session, bounded by the watermark horizon. Exactly-once via the
    shared checkpoint. Late data older than the watermark is dropped
    by the watermark itself (standard semantics).

    Output: ``<key_col>, session_start, session_end, n_events``.
    Batch counterpart: driver_queries.q_events_sessionize (same gap
    discipline via windows); equality on a replayed corpus is
    pytest-asserted.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StructField, StructType, TimestampType,
    )

    events = (spark.readStream.schema(schema).format("parquet")
              .load(input_dir)
              .withWatermark(ts_col, f"{gap_seconds} seconds"))

    key_type = schema[key_col].dataType
    out_schema = StructType([
        StructField(key_col, key_type, True),
        StructField("session_start", TimestampType(), True),
        StructField("session_end", TimestampType(), True),
        StructField("n_events", LongType(), True),
    ])
    state_schema = StructType([
        StructField("start_us", LongType(), True),
        StructField("last_us", LongType(), True),
        StructField("n", LongType(), True),
    ])
    gap_us = gap_seconds * 1_000_000

    def fn(key, pdf_iter, state):
        import pandas as pd

        def emit(start_us, last_us, n):
            return pd.DataFrame({
                key_col: [key[0]],
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": [n],
            })

        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield emit(start_us, last_us, n)
            return

        ts_list = []
        for pdf in pdf_iter:
            if len(pdf):
                ts_list.extend(
                    int(v.value // 1_000) for v in pd.to_datetime(pdf[ts_col]))
        if not ts_list:
            return
        ts_list.sort()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = ts_list[0]
            n = 0
        for t in ts_list:
            if n and t - last_us > gap_us:
                yield emit(start_us, last_us, n)
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)

    sessions = (events.groupBy(key_col)
                .applyInPandasWithState(fn, out_schema, state_schema,
                                        "append",
                                        GroupStateTimeout.EventTimeTimeout))
    return _start_parquet_sink(sessions, output_dir, checkpoint_dir,
                               available_now)


def stream_dedup_near(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    index_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Streaming NEAR-dup admission control against a standing corpus
    — the production shape of continuous crawl ingestion: every
    micro-batch of freshly crawled docs is

    1. self-deduped within the batch (minhash pairs → connected
       components → keep canonical), then
    2. checked against the persisted ``build_minhash_index`` table of
       the standing corpus (:func:`ops.dedup.dedup_against_index` —
       cost ∝ batch and its collisions, never corpus²), and
    3. survivors land in ``output_dir`` under a ``batch_id=N``
       partition written with DYNAMIC PARTITION OVERWRITE — a replayed
       micro-batch rewrites exactly its own partition, which is the
       standard foreachBatch idempotence discipline (exactly-once
       without a transactional sink).

    The index/corpus dirs are the STANDING snapshot: merging admitted
    survivors back into them is the periodic batch compaction job
    (append survivors + their band rows), deliberately decoupled so
    the hot path never rewrites the big tables. At 100 TB the
    per-batch index join prunes to matching (band, bh) buckets of an
    index table partitioned by band.
    """
    from goose_parser_spark.ops.dedup import (
        connected_components, dedup_against_index, keep_canonical,
        minhash_lsh_dedup)
    from pyspark.sql import functions as F

    def admit(batch_df, batch_id: int):
        sess = batch_df.sparkSession
        docs = batch_df.select(id_col, text_col)
        # 1. in-batch near-dedup
        pairs = minhash_lsh_dedup(docs, n=n, num_hashes=num_hashes,
                                  bands=bands, threshold=threshold,
                                  text_col=text_col, id_col=id_col)
        clusters = connected_components(docs.select(id_col), pairs,
                                        id_col=id_col)
        kept = keep_canonical(batch_df, clusters, id_col=id_col)
        # 2. cross-corpus check via the standing index
        from pyspark.errors import AnalysisException
        try:
            index = sess.read.parquet(index_dir)
            corpus = sess.read.parquet(corpus_dir)
        except AnalysisException:
            index = corpus = None  # first run: no standing corpus yet
        if index is not None:
            dup_new = (dedup_against_index(
                kept.select(id_col, text_col), index, corpus, n=n,
                num_hashes=num_hashes, bands=bands, threshold=threshold,
                text_col=text_col, id_col=id_col)
                .select(F.col("new_id").alias(id_col)).distinct())
            kept = kept.join(dup_new, on=id_col, how="left_anti")
        # 3. idempotent append: replayed batch overwrites its partition
        (kept.withColumn("batch_id", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(output_dir))

    reader = spark.readStream.schema(schema).format("parquet")
    writer = (reader.load(input_dir)
              .writeStream
              .foreachBatch(admit)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_admitted(
    spark: SparkSession,
    admitted_dir: str,
    corpus_dir: str,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> int:
    """Periodic compaction companion to :func:`stream_dedup_near`:
    fold the admitted survivors back into the standing corpus and its
    MinHash-LSH index so future batches dedup against them too.

    Two parquet APPENDS — the corpus rows (batch_id dropped) and their
    :func:`ops.dedup.build_minhash_index` band rows. Only NEW docs are
    appended (left-anti on ids already in the corpus), so re-running
    compaction after a crash between the two appends is idempotent for
    the corpus side; an index append replayed after such a crash adds
    duplicate band rows, which only cost extra (deduped) candidates —
    correctness is unaffected. At 100 TB both appends are Iceberg
    appends and the index is partitioned by band. Returns the number
    of docs folded in.
    """
    from pyspark.errors import AnalysisException
    from goose_parser_spark.ops.dedup import build_minhash_index

    try:
        admitted = spark.read.parquet(admitted_dir)
    except AnalysisException:
        return 0  # nothing admitted yet
    new_docs = admitted.drop("batch_id").select(id_col, text_col)
    try:
        existing = spark.read.parquet(corpus_dir).select(id_col)
        new_docs = new_docs.join(existing, on=id_col, how="left_anti")
    except AnalysisException:
        pass  # corpus dir doesn't exist yet: everything is new
    new_docs = new_docs.localCheckpoint()  # stable across the 2 appends
    n_new = new_docs.count()
    if n_new == 0:
        return 0
    new_docs.write.mode("append").parquet(corpus_dir)
    (build_minhash_index(new_docs, n=n, num_hashes=num_hashes,
                         bands=bands, text_col=text_col, id_col=id_col)
     .write.mode("append").parquet(index_dir))
    return n_new


def stream_distinct_hll(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema,
    ts_col: str = "ts",
    item_col: str = "url",
    window_duration: str = "5 minutes",
    watermark: str = "10 minutes",
    p: int = 9,
    available_now: bool = True,
):
    """Windowed distinct-count SKETCHING on a stream: per tumbling
    window, maintain the HyperLogLog registers of the item column
    (the streaming "distinct urls per window" question a crawl
    monitor asks — an exact streaming countDistinct would hold every
    item in state; the registers hold ≤ 2^p ints per window
    regardless of stream volume, and the watermark bounds how many
    windows are open).

    One watermarked aggregation — ``max(rho)`` per (window, bucket) —
    finalized exactly once per register in append mode. The emitted
    rows ARE the sketch: estimate with
    ``ops.sketches.hll_estimate(registers, group_cols=["window_start",
    "window_end"])``, or union/merge across streams and days by
    ``max(rho)`` first (registers are mergeable; the estimate is not).

    Columns: ``window_start, window_end, bucket, rho``.
    """
    from pyspark.sql import functions as F

    from goose_parser_spark.ops.sketches import hll_bucket_rho

    events = (spark.readStream.schema(schema).format("parquet")
              .load(input_dir))
    bucket, rho = hll_bucket_rho(F.col(item_col), p)
    agg = (events
           .withWatermark(ts_col, watermark)
           .select(F.col(ts_col), bucket.alias("bucket"),
                   rho.alias("_rho"))
           .groupBy(F.window(F.col(ts_col), window_duration),
                    F.col("bucket"))
           .agg(F.max("_rho").alias("rho"))
           .select(F.col("window.start").alias("window_start"),
                   F.col("window.end").alias("window_end"),
                   F.col("bucket"), F.col("rho")))
    return _start_parquet_sink(agg, output_dir, checkpoint_dir,
                               available_now)
