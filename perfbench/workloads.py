"""The two workloads and the curation probe: inputs, warm pass, timed
pass, output check and per-layer metrics. ``README.md`` in this
directory says why each was chosen and which layer metric should move
which end-to-end metric."""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import io
import json
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from collect import PhaseMetrics, log

# name -> unit of every per-layer metric; a workload that does not run
# a layer reports 0 for that layer's metrics
PER_LAYER = {
    "sources.warc_records": "count",
    "sources.python_run_s": "s",
    "sources.bytes_to_python": "bytes",
    "dom.parse_ms_per_doc": "ms",
    "dom.elements_per_doc": "count",
    "dom.kb_per_doc": "KiB",
    "selector.index_ms_per_doc": "ms",
    "selector.select_ms_per_doc": "ms",
    "selector.calls_per_doc": "count",
    "selector.pool_per_call": "count",
    "selector.match_ratio": "ratio",
    "rules.compile_ms": "ms",
    "rules.evaluate_ms_per_doc": "ms",
    "rules.self_ms_per_doc": "ms",
    "functions.chain_calls_per_doc": "count",
    "functions.chain_ms_per_doc": "ms",
    "functions.lowered_leaves": "count",
    "extractor.python_run_s": "s",
    "extractor.python_init_s": "s",
    "extractor.python_start_s": "s",
    "extractor.bytes_to_python_per_doc": "bytes",
    "extractor.bytes_from_python_per_doc": "bytes",
    "extractor.doc_ms_p50": "ms",
    "extractor.doc_ms_p99": "ms",
    "plans.exchanges": "count",
    "plans.shuffle_bytes_per_doc": "bytes",
    "plans.tasks": "count",
    "plans.files_written": "count",
    "plans.bytes_written_per_doc": "bytes",
    "plans.write_s": "s",
    "plans.metrics_s": "s",
    "plans.buckets_skipped": "count",
    "plans.resume_wall_s": "s",
    "ops.sql_executions": "count",
    "ops.exchanges": "count",
    "ops.shuffle_bytes_per_doc": "bytes",
    "ops.spill_bytes": "bytes",
    "ops.lsh_candidate_pairs": "count",
    "ops.duplicate_pairs": "count",
    "ops.pair_yield": "ratio",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_deser_s": "s",
    "trace.overhead_share": "ratio",
}

WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"
TRACE_SAMPLE = 40
# warm passes read a small input generated from seed + WARM_SEED
WARM_SEED = 1_000_003


def _per_pass(m: PhaseMetrics, passes: int) -> dict:
    """Spark engine metrics of one main pass (mean over the passes)."""
    return {
        "spark.stages": m.stages / passes,
        "spark.tasks": m.tasks / passes,
        "spark.executor_run_s": m.executor_run_s / passes,
        "spark.executor_cpu_s": m.executor_cpu_s / passes,
        "spark.gc_s": m.gc_s / passes,
        "spark.task_deser_s": m.task_deser_s / passes,
    }


def _extractor(m: PhaseMetrics, passes: int, docs: int) -> dict:
    return {
        "extractor.python_run_s":
            m.node("extract", "time to run Python workers") / passes,
        "extractor.python_init_s":
            m.node("extract", "time to initialize Python workers") / passes,
        "extractor.python_start_s":
            m.node("extract", "time to start Python workers") / passes,
        "extractor.bytes_to_python_per_doc":
            m.node("extract", "data sent to Python workers") / passes / docs,
        "extractor.bytes_from_python_per_doc":
            m.node("extract", "data returned from Python workers")
            / passes / docs,
    }


def _lowered_leaves(compiled) -> int:
    def walk(rule) -> int:
        return (bool(rule.lowered_specs)
                + sum(walk(c) for c in rule.children))
    return sum(walk(br.rules) for br in compiled.branches)


def _md5_prefix(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)


def expected_digest(plan: gen.Plan) -> tuple:
    """(docs, error docs, non-NULL docs, checksum) the output must have;
    the checksum sums the first 32 bits of the md5 of each document's
    JSON."""
    values = [v for v in plan.expected.values() if v is not None]
    return (plan.docs, len(plan.error_urls), len(values),
            sum(_md5_prefix(v) for v in values))


def output_digest(out) -> tuple:
    """The same digest of an extraction output, computed by Spark, plus
    the p50 and p99 of ``parse_ns``."""
    from pyspark.sql import functions as F
    md5 = F.md5(F.to_json("extracted"))
    row = out.agg(
        F.count(F.lit(1)), F.count("error"), F.count("extracted"),
        F.sum(F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")),
        F.expr("percentile(parse_ns, array(0.5, 0.99))"),
    ).collect()[0]
    return tuple(row[:4]), tuple(row[4])


def diagnose(spark, out, plan: gen.Plan, path: str, label: str) -> list[str]:
    """Per-document comparison, run only when a digest disagrees: name
    the first mismatching documents."""
    from pyspark.sql import functions as F
    urls = list(plan.expected)
    errors = set(plan.error_urls)
    pq.write_table(pa.table({
        "url": pa.array(urls, pa.string()),
        "exp": pa.array([plan.expected[u] for u in urls], pa.string()),
        "exp_error": pa.array([u in errors for u in urls], pa.bool_()),
    }), path)
    got = out.select("url", F.to_json("extracted").alias("got"), "error")
    j = got.join(spark.read.parquet(path), "url", "full_outer")
    bad = ~F.col("got").eqNullSafe(F.col("exp")) \
        | (F.col("error").isNotNull() != F.coalesce("exp_error", F.lit(False)))
    return [f"{label} url={r['url']} error={r['error']!r} "
            f"got={(r['got'] or '')[:200]!r} "
            f"expected={(r['exp'] or '')[:200]!r}"
            for r in j.where(bad).limit(5).collect()]


def check_output(spark, out, plan: gen.Plan, path: str, label: str):
    """Compare an extraction output with the plan; return (failure
    messages, digest, parse_ns percentiles)."""
    got, pct = output_digest(out)
    want = expected_digest(plan)
    if got == want:
        return [], got, pct
    return ([f"{label}: digest (docs, errors, non-NULL, checksum) {got} "
             f"!= expected {want}"]
            + diagnose(spark, out, plan, path, label)), got, pct


class _Extraction:
    """Common part of the two extraction workloads."""

    rules: dict = {}

    def __init__(self, run) -> None:
        self.run = run
        self.rng = random.Random(f"{type(self).__name__}/{run.args.seed}")

    def compile(self) -> None:
        from goose_parser_spark import RuleCompiler
        self.compiled = RuleCompiler().compile(self.rules)

    def _sample(self, htmls: list) -> list:
        """``TRACE_SAMPLE`` documents, one from each equal slice of the
        documents ordered by size, at a seeded offset: every seed
        replays the same spread of small and heavy pages."""
        ranked = sorted(htmls, key=len)
        n = min(TRACE_SAMPLE, len(ranked))
        at = self.rng.random()
        return [ranked[int((k + at) * len(ranked) / n)] for k in range(n)]

    def attempted(self, passes: int) -> int:
        return self.docs * passes

    def _layer_common(self, m: PhaseMetrics, passes: int, htmls: list,
                      spans: str) -> dict:
        from tracing import replay

        out = dict.fromkeys(PER_LAYER, 0)
        out.update(_per_pass(m, passes))
        out.update(_extractor(m, passes, self.docs))
        out.update(replay(self.rules, htmls, spans))
        out["functions.lowered_leaves"] = _lowered_leaves(self.compiled)
        out["extractor.doc_ms_p50"] = self.pct[0] / 1e6
        out["extractor.doc_ms_p99"] = self.pct[1] / 1e6
        return out


def _metric_dict(values: dict) -> dict:
    missing = set(PER_LAYER) - set(values)
    if missing:
        raise KeyError(f"per-layer metrics not measured: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": PER_LAYER[k]}
            for k in PER_LAYER}


class ListingGrids(_Extraction):
    """``extract()`` over parquet listing pages with an aggregate sink;
    the traced run adds the curation probe."""

    rules = gen.LISTING_RULES
    PAGES = 600
    FILES = 20

    def generate(self) -> None:
        seed = self.run.args.seed
        self.plan = gen.gen_listing(self.run.path("pages"), seed,
                                    self.PAGES, self.FILES)
        gen.gen_listing(self.run.path("warm"), seed + WARM_SEED, 16, 4)
        self.docs = self.plan.docs
        if self.run.args.trace:
            self.curation = CurateProbe(self.run)
            self.curation.generate()

    def _out(self, name: str):
        from goose_parser_spark import extract
        pages = self.run.spark.read.parquet(self.run.path(name))
        return extract(pages, self.compiled)

    def warm(self) -> None:
        output_digest(self._out("warm"))

    def main_pass(self, i: int) -> tuple:
        # the aggregate sink: a digest of every document's output
        return output_digest(self._out("pages"))

    def verify(self, passes: list) -> list[str]:
        want = expected_digest(self.plan)
        failures = [f"{x['group']}: digest (docs, errors, non-NULL, checksum) "
                    f"{x['info'][0]} != expected {want}"
                    for x in passes if x["info"][0] != want]
        if failures:
            failures += diagnose(self.run.spark, self._out("pages"), self.plan,
                                 self.run.path("expected.parquet"), "listing")
        self.errors = passes[-1]["info"][0][1]
        self.pct = passes[-1]["info"][1]
        if self.run.args.trace and not failures:
            failures += self.curation.measure()
            log("curation probe done")
        return failures

    def layer_metrics(self, passes: list, spans: str) -> dict:
        m = self.run.collector.read(*[x["group"] for x in passes])
        rows = []
        d = self.run.path("pages")
        for f in sorted(os.listdir(d)):
            rows += [h for h in pq.read_table(os.path.join(d, f),
                                              columns=["html"])
                     .column(0).to_pylist() if h is not None]
        out = self._layer_common(m, len(passes), self._sample(rows), spans)
        out.update(self.curation.metrics)
        return _metric_dict(out)


class CrawlJob(_Extraction):
    """``read_warc`` -> ``ExtractJob.run`` over WARC shards; the traced
    run adds a restart after half of the buckets committed."""

    rules = gen.ARTICLE_RULES
    DOCS = 1200
    SHARDS = 16
    BUCKETS = 32
    # the warm pass runs the same job shape over 16 pages; four buckets
    # keep it from paying 32 tasks' worker start-up for a handful of rows
    WARM_BUCKETS = 4

    def generate(self) -> None:
        seed = self.run.args.seed
        self.plan = gen.gen_crawl(self.run.path("warc"), seed, self.DOCS,
                                  self.SHARDS)
        gen.gen_crawl(self.run.path("warm"), seed + WARM_SEED, 16, 4)
        self.docs = self.plan.docs

    def _pages(self, name: str = "warc"):
        """WARC responses as pages; an empty body is a missing page."""
        from pyspark.sql import functions as F
        from goose_parser_spark.sources import read_warc
        pages = read_warc(self.run.spark, self.run.path(name))
        return pages.withColumn(
            "html", F.when(F.length("html") > 0, F.col("html")))

    def _job(self, out: str, buckets: int = BUCKETS):
        from goose_parser_spark.plans import ExtractJob
        return ExtractJob(self.run.spark, self.rules, out, buckets=buckets)

    def warm(self) -> None:
        self._job(self.run.path("warm-out"),
                  self.WARM_BUCKETS).run(self._pages("warm"))

    def main_pass(self, i: int) -> dict:
        return self._job(self.run.path(f"out-{i}")).run(self._pages())

    def _check(self, name: str) -> list[str]:
        """Check one job output; keep its error rows and ``parse_ns``
        percentiles (the last pass's are reported)."""
        out = self.run.spark.read.parquet(self.run.path(name, "data"))
        failures, digest, pct = check_output(
            self.run.spark, out, self.plan,
            self.run.path("expected.parquet"), name)
        self.errors, self.pct = digest[1], pct
        return failures

    def verify(self, passes: list) -> list[str]:
        """Check every pass's output; a traced run also runs and checks
        the restart."""
        failures = []
        for i in range(len(passes)):
            failures += self._check(f"out-{i}")
        last = (self.errors, self.pct)
        if self.run.args.trace and not failures:
            failures += self._resume()
            log("restart probe done")
        self.errors, self.pct = last
        return failures

    def _resume(self) -> list[str]:
        """A first attempt commits the buckets below BUCKETS/2; the timed
        restart must skip them and extract the rest."""
        from pyspark.sql import functions as F
        from goose_parser_spark.plans import with_bucket
        out = self.run.path("resume")
        pages = self._pages()
        first = (with_bucket(pages, self.BUCKETS)
                 .where(F.col("bucket") < self.BUCKETS // 2).drop("bucket"))
        col = self.run.collector
        with col.group("resume-first"):
            self._job(out).run(first)
        t0 = time.perf_counter()
        with col.group("resume"):
            self.resume_info = self._job(out).run(pages)
        self.resume_wall = time.perf_counter() - t0
        failures = self._check("resume")
        skipped = self.resume_info["buckets_skipped_by_resume"]
        if skipped != self.BUCKETS // 2:
            failures.append(f"restart skipped {skipped} buckets, "
                            f"expected {self.BUCKETS // 2}")
        return failures

    def layer_metrics(self, passes: list, spans: str) -> dict:
        from goose_parser_spark.sources.warc import iter_warc_records
        m = self.run.collector.read(*[x["group"] for x in passes])
        n, docs = len(passes), self.docs
        htmls = []
        d = self.run.path("warc")
        for f in sorted(os.listdir(d))[:4]:
            with open(os.path.join(d, f), "rb") as fh:
                htmls += [r["payload"] for r in iter_warc_records(fh.read())
                          if r["record_type"] == "response" and r["payload"]]
        sample = [h.decode("utf-8", "replace") for h in self._sample(htmls)]
        out = self._layer_common(m, n, sample, spans)
        write_s = metrics_s = 0.0
        for names, wall in m.executions:
            if "extract" in names:
                write_s += wall
            elif WRITE_NODE in names:
                metrics_s += wall
        out.update({
            "sources.warc_records":
                m.node("read_warc", "number of output rows") / n,
            "sources.python_run_s":
                m.node("read_warc", "time to run Python workers") / n,
            "sources.bytes_to_python":
                m.node("read_warc", "data sent to Python workers") / n,
            "plans.exchanges": m.exchanges / n,
            "plans.shuffle_bytes_per_doc": m.shuffle_write_bytes / n / docs,
            "plans.tasks": m.tasks / n,
            "plans.files_written":
                m.node(WRITE_NODE, "number of written files") / n,
            "plans.bytes_written_per_doc":
                m.node(WRITE_NODE, "written output") / n / docs,
            "plans.write_s": write_s / n,
            "plans.metrics_s": metrics_s / n,
            "plans.buckets_skipped":
                self.resume_info["buckets_skipped_by_resume"],
            "plans.resume_wall_s": self.resume_wall,
        })
        return _metric_dict(out)


class CurateProbe:
    """The ``jobs/curate.py`` stage chain (clean -> quality -> exact
    dedup -> MinHash-LSH near dedup -> connected components -> keep
    canonical -> split -> shards) over a seeded corpus with planted
    duplicates and junk, with the per-layer ``ops`` metrics it yields."""

    ORIGINALS = 600
    FILES = 8
    MIN_QUALITY = 0.5
    # the near-dedup configuration jobs/curate.py runs
    LSH = {"n": 3, "num_hashes": 32, "bands": 32, "threshold": 0.5}

    def __init__(self, run) -> None:
        self.run = run
        path = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "jobs", "curate.py")
        spec = importlib.util.spec_from_file_location("curate_job", path)
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def curate(self, src: str, out: str) -> dict:
        argv = ["--input", src, "--output", out, "--clean",
                "--min-quality", str(self.MIN_QUALITY), "--near-dedup",
                "--split", "train=0.9,val=0.05,test=0.05", "--shards", "8"]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.job.main(argv)
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def check(self, out: str, survivors: set) -> list[str]:
        from pyspark.sql import functions as F
        spark = self.run.spark
        exp = spark.createDataFrame([(d,) for d in sorted(survivors)],
                                    "doc_id long").withColumn("e", F.lit(True))
        row = (spark.read.parquet(out).groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("k"),
                    F.first("split").alias("split"),
                    F.first("shard").alias("shard"))
               .join(exp, "doc_id", "full_outer")
               .agg(F.count(F.when(F.col("k").isNull(), 1)).alias("lost"),
                    F.count(F.when(F.col("e").isNull(), 1)).alias("extra"),
                    F.count(F.when(F.col("k") > 1, 1)).alias("repeated"),
                    F.count(F.when(~F.col("split").isin("train", "val", "test")
                                   | ~F.col("shard").between(0, 7), 1))
                    .alias("misfiled"))
               .collect()[0])
        if any(row):
            return [f"curation survivors: {row.asDict()}"]
        return []

    def pair_counts(self, src: str) -> tuple[int, int]:
        """LSH candidate pairs and verified duplicate pairs for the
        documents as the near-dedup stage sees them (cleaned, quality-
        filtered, exact-deduplicated), with the configuration
        jobs/curate.py uses: one signature row per band, so a candidate
        pair is two documents sharing any signature slot."""
        from pyspark.sql import functions as F
        from goose_parser_spark.ops.dedup import (minhash_lsh_dedup,
                                                  minhash_signature)
        from goose_parser_spark.ops.textstats import clean_text, quality_score
        docs = (self.run.spark.read.parquet(src)
                .withColumn("text", clean_text("text"))
                .where(quality_score("text") >= self.MIN_QUALITY))
        docs = docs.join(docs.groupBy("text").agg(F.min("doc_id")
                                                  .alias("doc_id")),
                         on=["doc_id", "text"], how="left_semi")
        cfg = self.LSH
        sig = minhash_signature(docs, n=cfg["n"], num_hashes=cfg["num_hashes"])
        slots = sig.select("doc", F.posexplode("signature").alias("slot", "h"))
        cand = (slots.alias("x").join(slots.alias("y"), ["slot", "h"])
                .where(F.col("x.doc") < F.col("y.doc"))
                .select("x.doc", "y.doc").distinct().count())
        dups = minhash_lsh_dedup(docs.select("doc_id", "text"), **cfg).count()
        return cand, dups

    def generate(self) -> None:
        self.plan = gen.gen_curate(self.run.path("corpus"),
                                   self.run.args.seed, self.ORIGINALS,
                                   self.FILES)

    def measure(self) -> list[str]:
        """Run the chain once over the corpus and check what it keeps;
        on success ``self.metrics`` holds the ``ops`` metrics."""
        col = self.run.collector
        src, out = self.run.path("corpus"), self.run.path("curated")
        docs, survivors = self.plan.docs, self.plan.survivors
        with col.group("ops"):
            summary = self.curate(src, out)
        log("curation chain done")
        failures = self.check(out, survivors)
        if (summary["rows_in"], summary["rows_out"]) != (docs, len(survivors)):
            failures.append(f"curation summary {summary}, expected "
                            f"rows_in={docs} rows_out={len(survivors)}")
        if failures:
            return failures
        m = col.read("ops")
        with col.group("pairs"):
            cand, dups = self.pair_counts(src)
        self.metrics = {
            "ops.sql_executions": m.sql_executions,
            "ops.exchanges": m.exchanges,
            "ops.shuffle_bytes_per_doc": m.shuffle_write_bytes / docs,
            "ops.spill_bytes": m.spill_bytes,
            "ops.lsh_candidate_pairs": cand,
            "ops.duplicate_pairs": dups,
            "ops.pair_yield": dups / max(1, cand),
        }
        return []


WORKLOADS = {
    "listing_grids": ListingGrids,
    "crawl_job": CrawlJob,
}
