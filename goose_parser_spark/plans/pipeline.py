"""Production extraction pipeline: partitioning, lineage, resume.

Implements the engine-infra operators the north rule requires on top
of the reference's capabilities (SURVEY.md §2.8, BASELINE.json:14):

I1  Url-hash bucketing — every row gets a deterministic
    ``bucket = pmod(xxhash64(url), buckets)`` column; ``ExtractJob.run``
    extracts on the scan splits, then repartitions the extracted rows
    on ``bucket`` into ``min(buckets, max(32, 2 × parallelism))``
    partitions, so each bucket lands wholly in one write task (one
    file set per bucket) and no ``rand()`` keeps resume stable across
    runs.
I2  Per-partition lineage + metrics — one row per bucket with
    docs_in/ok/failed, bytes, parse time, engine version and the
    rules' sha256, written alongside the output.
I3  Checkpoint-based resume — a bucket is complete iff its metrics
    row is committed (metrics are written AFTER data, per bucket
    set); a run reads the committed buckets once and filters them out
    of the pages and of its metrics pass, so finished partitions are
    NEVER recomputed; when every bucket is committed the run stops
    there. Idempotent via dynamic partition overwrite; ``resume=False``
    replaces the metrics rows of the committed buckets it rewrote.
I4  Failure isolation — lives in the extractor (error column); the
    metrics here count it.

Scale design notes (100 TB / 10^12 docs):
- The job is two stages: scan → Python runner → exchange → write.
  No join, aggregation or exchange touches the html blobs: pages are
  extracted where they are read, and the only shuffle moves the
  extracted rows once, hash-distributed by bucket.
- Resume state is one ``collect()`` of the metrics table (≤ one row
  per committed bucket — thousands, not billions) into a driver-side
  set; skipping is a ``NOT bucket IN (...)`` literal filter, so no
  join touches the 100 TB side and the metrics pass's re-read of the
  ``bucket``-partitioned output prunes to the buckets this run wrote.
- Metrics aggregate from the extractor's per-doc parse_ns/bytes_in
  columns AFTER re-reading the committed output (columnar, light
  columns only) — so a metrics row can never exist for data that
  didn't commit, and no per-document row ever ``collect()``s through
  the driver.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from goose_parser_spark.extractor import extract
from goose_parser_spark.rules.compiler import CompiledRules, RuleCompiler


def rules_sha256(spec: dict) -> str:
    return hashlib.sha256(
        json.dumps(spec, ensure_ascii=False, sort_keys=True).encode("utf-8")
    ).hexdigest()


def with_bucket(df: DataFrame, buckets: int, url_col: str = "url",
                hash_mode: str = "xxhash64") -> DataFrame:
    """Deterministic url-hash bucket column (I1/I3). xxhash64 is a
    JVM-side codegen'd expression — no Python involved.
    ``hash_mode='md5'`` derives the bucket from the first 15 hex chars
    of md5 as a 60-bit integer — byte-reproducible in DuckDB, so the
    bucketing CONTRACT (stable, uniform assignment) sits under a hard
    value oracle; xxhash64 stays the production default."""
    if hash_mode == "md5":
        h = F.conv(F.substring(F.md5(F.col(url_col)), 1, 15), 16, 10) \
            .cast("long")
    elif hash_mode == "xxhash64":
        h = F.xxhash64(F.col(url_col))
    else:
        raise ValueError(f"unknown hash_mode: {hash_mode!r}")
    return df.withColumn(
        "bucket", F.pmod(h, F.lit(buckets)).cast("int")
    )


class ExtractJob:
    """End-to-end extraction run over a pages table.

    Layout under ``output_dir``::

        data/bucket=K/*.parquet      extracted rows for bucket K
        metrics/*.parquet            one lineage row per completed bucket

    Resume protocol (I3): metrics are written only after the data write
    for a run commits, so ``bucket ∈ metrics ⇒ bucket data complete``.
    A restart filters input to buckets without metrics rows and
    re-writes only those (dynamic partition overwrite → idempotent).
    Every run, resumed or not, first checks that committed metrics were
    written under this job's buckets, url column and rules.
    """

    def __init__(
        self,
        spark: SparkSession,
        rules: dict,
        output_dir: str,
        buckets: int = 256,
        fmt: str = "parquet",
        url_col: str = "url",
        html_col: str = "html",
    ) -> None:
        self.spark = spark
        self.rules_spec = rules
        self.compiled: CompiledRules = RuleCompiler().compile(rules)
        self.output_dir = output_dir.rstrip("/")
        self.buckets = buckets
        self.fmt = fmt
        self.url_col = url_col
        self.html_col = html_col
        self.data_dir = f"{self.output_dir}/data"
        self.metrics_dir = f"{self.output_dir}/metrics"

    # -- resume state ----------------------------------------------------------

    def _committed_buckets(self) -> set[int]:
        """The buckets with a committed metrics row, read once per run
        after checking the config they were written under. One
        ``collect()`` of distinct (bucket, config) rows: at most one per
        committed bucket, so ≤ ``buckets`` rows. Metrics are written
        last, so this snapshot cannot change before this run appends
        its own rows."""
        try:
            m = self.spark.read.format(self.fmt).load(self.metrics_dir)
        except AnalysisException as e:
            # first run: no metrics dir, or one holding no committed
            # file (a run killed in its metrics write leaves _temporary/)
            if e.getCondition() in ("PATH_NOT_FOUND",
                                    "UNABLE_TO_INFER_SCHEMA"):
                return set()
            raise
        if "buckets" not in m.columns:  # metrics written pre-upgrade
            return {r["bucket"]
                    for r in m.select("bucket").distinct().collect()}
        rows = m.select("bucket", "buckets", "url_col",
                        "rules_sha256").distinct().collect()
        self._validate_resume_config(rows)
        return {r["bucket"] for r in rows}

    def _validate_resume_config(self, rows: list) -> None:
        """Fail fast when this job's config disagrees with the one the
        committed metrics were written under (ADVICE r01, medium).

        Bucket membership is ``pmod(xxhash64(url), buckets)``: resuming
        with a different ``buckets`` (or a different url column) reuses
        committed bucket ids whose MEMBERSHIP changed — the resume
        filter would silently skip never-extracted documents and
        re-extract others. Same for a changed rule tree: committed
        buckets would hold a different output schema/content than new
        ones. All three are corruption-with-no-error, so they are hard
        errors here — also under ``resume=False``, which rewrites the
        buckets in its input but keeps the other buckets' committed
        metrics rows (and their lineage).
        """
        # ADVICE r02: a metrics dir can mix pre-upgrade rows (config
        # columns NULL under schema evolution) with new rows. Check ALL
        # distinct non-null config tuples: deterministic, and a dir
        # written under two different configs is itself an error.
        configs = {(r["buckets"], r["url_col"], r["rules_sha256"])
                   for r in rows}
        configs = [c for c in configs if None not in c]
        if not configs:
            return
        if len(configs) > 1:
            raise ValueError(
                f"resume config mismatch: metrics at {self.metrics_dir} "
                f"carry {len(configs)} distinct (buckets, url_col, "
                "rules_sha256) configs — the output dir mixes runs with "
                "incompatible bucket membership. Use a fresh output_dir.")
        (buckets, url_col, sha), = configs
        if buckets != self.buckets:
            raise ValueError(
                f"resume config mismatch: output at {self.metrics_dir} was "
                f"written with buckets={buckets}, this job has "
                f"buckets={self.buckets}; bucket membership differs — "
                "resume would skip/redo the wrong documents. Use the "
                "original bucket count or a fresh output_dir.")
        if url_col != self.url_col:
            raise ValueError(
                f"resume config mismatch: url_col was {url_col!r}, "
                f"this job uses {self.url_col!r}; bucket membership "
                "differs. Use the original url column or a fresh "
                "output_dir.")
        if sha != rules_sha256(self.rules_spec):
            raise ValueError(
                "resume config mismatch: the rule tree changed since the "
                "committed run (rules_sha256 differs); committed buckets "
                "would hold different outputs than resumed ones. Re-run "
                "into a fresh output_dir (or resume with the original "
                "rules).")

    # -- the run -----------------------------------------------------------------

    def run(self, pages: DataFrame, resume: bool = True) -> dict:
        """Execute (or resume) the extraction. Returns a small summary
        dict (driver-side scalars only — never row data).

        One plan: bucket column → filter out the committed buckets
        (I3, under ``resume``) → ``extract`` on the scan splits →
        repartition the extracted rows on ``bucket`` (I1) → partitioned
        write. The exchange carries results, not pages, and lands each
        bucket wholly in one task, so the write produces one file set
        per bucket instead of tasks×buckets fragments. The metrics pass
        then aggregates only the buckets not committed before this run,
        and under ``resume=False`` also the committed buckets it
        rewrote, whose metrics rows it replaces. A restart that finds
        every bucket committed runs nothing after reading its resume
        state.
        """
        run_id = uuid.uuid4().hex
        t0 = time.time()

        done = self._committed_buckets()
        summary = {
            "run_id": run_id,
            "buckets_total": self.buckets,
            "buckets_skipped_by_resume": len(done) if resume else 0,
        }
        if resume and done.issuperset(range(self.buckets)):
            return {**summary, "wall_seconds": time.time() - t0}

        bucketed = with_bucket(
            pages.select(self.url_col, self.html_col), self.buckets, self.url_col
        )
        # ≤ `buckets` literals: no join, and a partition filter on the
        # bucket-partitioned output (I3)
        todo = ~F.col("bucket").isin(sorted(done))
        if resume and done:
            bucketed = bucketed.where(todo)

        parallelism = self.spark.sparkContext.defaultParallelism
        num_parts = min(self.buckets, max(32, parallelism * 2))
        extracted = extract(
            bucketed,
            self.compiled,
            html_col=self.html_col,
            url_col=self.url_col,
            keep_cols=("bucket",),
        ).repartition(num_parts, F.col("bucket"))
        # a run that rewrites committed buckets learns which ones from
        # its own write (≤ `buckets` ints, no extra scan)
        rewrites = not resume and bool(done)
        if rewrites:
            written = Observation("written")
            extracted = extracted.observe(
                written, F.collect_set("bucket").alias("buckets"))

        # data write: partitioned by bucket, dynamic overwrite so a
        # re-run of an uncommitted bucket replaces its partial files
        (extracted.write.format(self.fmt)
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .save(self.data_dir))

        # metrics AFTER data, derived from the committed output files —
        # re-read only the light columns (columnar scan skips html/
        # extracted entirely) of the buckets without a metrics row (and
        # of the rewritten ones), aggregate per bucket, append.
        out = self.spark.read.format(self.fmt).load(self.data_dir)
        todo_metrics = out.select("bucket", "error", "parse_ns", "bytes_in")
        if rewrites:
            rewritten = sorted(written.get["buckets"])
            todo = todo | F.col("bucket").isin(rewritten)
        if done:
            todo_metrics = todo_metrics.where(todo)
        metrics = (todo_metrics
            .groupBy("bucket")
            .agg(
                F.count("*").alias("docs_in"),
                F.count(F.when(F.col("error").isNull(), 1)).alias("docs_ok"),
                F.count(F.when(F.col("error").isNotNull(), 1)).alias("docs_failed"),
                F.sum("parse_ns").alias("parse_ns"),
                F.sum("bytes_in").alias("bytes_in"),
            )
            .withColumn("run_id", F.lit(run_id))
            .withColumn("engine_version", F.lit(_engine_version()))
            .withColumn("rules_sha256", F.lit(rules_sha256(self.rules_spec)))
            # job config in every lineage row so a restart can detect a
            # config change and refuse to mix incompatible bucket ids
            .withColumn("buckets", F.lit(self.buckets))
            .withColumn("url_col", F.lit(self.url_col))
            .withColumn("completed_at", F.current_timestamp()))
        mode = "append"
        if rewrites:
            # replace the rewritten buckets' rows: the other committed
            # rows (≤ `buckets`) go through the driver, so the overwrite
            # never reads the directory it deletes. A crash mid-overwrite
            # leaves no metrics, and the next run recomputes every bucket.
            committed = self.spark.read.format(self.fmt).load(self.metrics_dir)
            kept = committed.where(~F.col("bucket").isin(rewritten))
            metrics = metrics.unionByName(
                self.spark.createDataFrame(kept.collect(), kept.schema),
                allowMissingColumns=True)
            mode = "overwrite"
        metrics.write.format(self.fmt).mode(mode).save(self.metrics_dir)

        return {**summary, "wall_seconds": time.time() - t0}


def _engine_version() -> str:
    import goose_parser_spark
    return goose_parser_spark.__version__


def quarantine_failures(spark: SparkSession, data_dir: str, dest: str,
                        fmt: str = "parquet") -> int:
    """S5 snapshot-action analog (SURVEY.md §2.1): copy failed rows
    (url, bucket, error) from the output to a quarantine table for
    debugging. Columnar scan reads only the light columns. Returns the
    number of quarantined rows (a count, not collected data)."""
    out = spark.read.format(fmt).load(data_dir)
    bad = out.where(F.col("error").isNotNull()) \
             .select("url", "bucket", "error")
    bad.write.format(fmt).mode("overwrite").save(dest)
    return spark.read.format(fmt).load(dest).count()


def export_json_lines(df: DataFrame, path: str, url_col: str = "url") -> None:
    """S4 result emission analog: one JSON object per line, exactly the
    shape the reference's ``parse()`` resolves with, keyed by url —
    ``to_json`` runs JVM-side."""
    (df.select(F.to_json(F.struct(F.col(url_col),
                                  F.col("extracted"))).alias("value"))
       .write.mode("overwrite").text(path))
