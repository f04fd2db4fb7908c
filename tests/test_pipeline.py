"""Infra tests: url-hash bucketing (I1), metrics/lineage (I2),
checkpoint resume (I3) — SURVEY.md §2.8, BASELINE.json:14."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from goose_parser_spark.plans.pipeline import (
    ExtractJob,
    rules_sha256,
    with_bucket,
)
from goose_parser_spark.sources.fixtures import FAMILIES, pages_rows, pages_schema

RULES = FAMILIES["f01"].rules
N = 200


@pytest.fixture(scope="module")
def pages_df(spark):
    return spark.createDataFrame(pages_rows(N), schema=pages_schema()).cache()


def test_bucket_is_deterministic_jvm_side(spark, pages_df):
    a = with_bucket(pages_df, 64).select("url", "bucket").collect()
    b = with_bucket(pages_df, 64).select("url", "bucket").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert all(0 <= r["bucket"] < 64 for r in a)
    # no Python eval in the bucketing expression
    plan = with_bucket(pages_df, 64)._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan.lower()
    assert "pythonudf" not in plan.lower().replace(" ", "")


def test_job_writes_data_and_metrics(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    job = ExtractJob(spark, RULES, out, buckets=16)
    summary = job.run(pages_df, resume=True)
    assert summary["buckets_skipped_by_resume"] == 0

    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N
    assert "bucket" in data.columns

    metrics = spark.read.parquet(f"{out}/metrics")
    mrows = metrics.collect()
    assert sum(r["docs_in"] for r in mrows) == N
    assert all(r["docs_failed"] == 0 for r in mrows)
    assert all(r["rules_sha256"] == rules_sha256(RULES) for r in mrows)
    assert all(r["bytes_in"] > 0 for r in mrows)
    # one metrics row per bucket present in the data
    assert ({r["bucket"] for r in mrows}
            == {r["bucket"] for r in data.select("bucket").distinct().collect()})


def test_resume_skips_all_committed_buckets(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    job = ExtractJob(spark, RULES, out, buckets=16)
    job.run(pages_df, resume=True)
    files_before = sorted(glob.glob(f"{out}/data/**/*.parquet", recursive=True))
    mtimes = {f: os.path.getmtime(f) for f in files_before}

    summary2 = job.run(pages_df, resume=True)
    # every committed bucket skipped; zero recomputation (BASELINE.md)
    n_buckets = (spark.read.parquet(f"{out}/metrics")
                 .select("bucket").distinct().count())
    assert summary2["buckets_skipped_by_resume"] == n_buckets

    files_after = sorted(glob.glob(f"{out}/data/**/*.parquet", recursive=True))
    assert files_before == files_after
    assert all(os.path.getmtime(f) == mtimes[f] for f in files_after)
    # metrics unchanged: no duplicate rows appended
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.count() == n_buckets


def test_resume_completes_partial_run(spark, pages_df, tmp_path):
    """Kill-and-restart: first run covers half the buckets (as if the
    job died mid-way), restart must compute ONLY the missing ones."""
    out = str(tmp_path / "out")
    job = ExtractJob(spark, RULES, out, buckets=16)

    bucketed = with_bucket(pages_df, 16)
    first_half = bucketed.filter(F.col("bucket") < 8).drop("bucket")
    job.run(first_half, resume=True)
    m1 = spark.read.parquet(f"{out}/metrics")
    committed1 = {r["bucket"] for r in m1.select("bucket").distinct().collect()}
    assert committed1 and all(b < 8 for b in committed1)
    run1_ids = {r["run_id"] for r in m1.collect()}

    summary = job.run(pages_df, resume=True)
    assert summary["buckets_skipped_by_resume"] == len(committed1)

    # all rows present exactly once
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N
    assert data.select("url").distinct().count() == N

    # second run's metrics rows cover only the previously-missing buckets
    m2 = spark.read.parquet(f"{out}/metrics")
    new_rows = [r for r in m2.collect() if r["run_id"] not in run1_ids]
    assert new_rows and all(r["bucket"] not in committed1 for r in new_rows)
    assert m2.count() == m2.select("bucket").distinct().count()


def test_no_resume_recomputes_everything(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    job = ExtractJob(spark, RULES, out, buckets=8)
    job.run(pages_df, resume=True)
    summary = job.run(pages_df, resume=False)
    assert summary["buckets_skipped_by_resume"] == 0
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N  # dynamic overwrite → still exactly one copy


def test_bucket_exchange_consolidates_bucket_files(spark, pages_df, tmp_path):
    """With the I1 exchange, each bucket's data lands in one task →
    one file set per bucket (not tasks × buckets fragments)."""
    out = str(tmp_path / "out")
    job = ExtractJob(spark, RULES, out, buckets=8)
    job.run(pages_df.repartition(16), resume=False)  # skewed-ish input layout
    for b in (spark.read.parquet(f"{out}/data")
              .select("bucket").distinct().collect()):
        files = glob.glob(f"{out}/data/bucket={b['bucket']}/*.parquet")
        assert len(files) == 1, (b["bucket"], files)


def _seq(obj) -> list:
    return [obj.apply(i) for i in range(obj.size())]


def _run_executions(spark, run) -> list:
    """Call ``run()``; return the SQL executions it started, in order,
    as ``(graph, {node id: node}, {accumulator id: value})`` read from
    Spark's status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    before = {ex.executionId() for ex in _seq(store.executionsList())}
    run()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for ex in sorted(_seq(store.executionsList()),
                     key=lambda ex: ex.executionId()):
        if ex.executionId() in before:
            continue
        graph = store.planGraph(ex.executionId())
        out.append((graph, {n.id(): n for n in _seq(graph.allNodes())},
                    store.executionMetrics(ex.executionId())))
    return out


def test_exchange_carries_extracted_rows_not_pages(spark, pages_df, tmp_path):
    """The data write's only bucket exchange sits ABOVE the extract
    MapInArrow: pages are extracted on the scan splits and the shuffle
    moves results, never the html."""
    executions = _run_executions(spark, lambda: ExtractJob(
        spark, RULES, str(tmp_path / "out"), buckets=8).run(
            pages_df, resume=False))
    writes = [(graph, nodes) for graph, nodes, _ in executions
              if any(n.name() == "MapInArrow" for n in nodes.values())]
    assert len(writes) == 1  # the data write; the metrics write has none
    graph, nodes = writes[0]
    parent = {e.fromId(): e.toId() for e in _seq(graph.edges())}

    def ancestors(node_id):
        while node_id in parent:
            node_id = parent[node_id]
            yield node_id

    (udf,) = [i for i, n in nodes.items() if n.name() == "MapInArrow"]
    (exchange,) = [i for i, n in nodes.items() if n.name() == "Exchange"
                   and "hashpartitioning(bucket#" in n.desc()]
    assert exchange in set(ancestors(udf))
    assert udf not in set(ancestors(exchange))


def test_restart_reads_committed_metrics_once_and_prunes_them(
        spark, pages_df, tmp_path):
    """A half-committed restart reads its resume state in one query,
    joins nothing, and its metrics pass scans only the data files of
    the buckets it wrote: the committed buckets are a partition filter
    on the bucket-partitioned output."""
    out = str(tmp_path / "out")
    first = with_bucket(pages_df, 16).filter(F.col("bucket") < 8)
    ExtractJob(spark, RULES, out, buckets=16).run(first.drop("bucket"))
    summary = {}
    executions = _run_executions(spark, lambda: summary.update(
        ExtractJob(spark, RULES, out, buckets=16).run(pages_df)))
    assert summary["buckets_skipped_by_resume"] == 8

    # resume-state read, data write, metrics write
    assert len(executions) == 3
    for _, nodes, _ in executions:
        assert not any("BroadcastHashJoin" in n.name()
                       for n in nodes.values())
    _, nodes, values = executions[-1]  # the metrics write
    (files_read,) = [int(values.get(m.accumulatorId()).get().replace(",", ""))
                     for n in nodes.values() for m in _seq(n.metrics())
                     if m.name() == "number of files read"]
    written = [f for b in range(8, 16)
               for f in glob.glob(f"{out}/data/bucket={b}/*.parquet")]
    assert written and files_read == len(written)


def test_restart_metrics_pass_lists_only_the_written_buckets(
        spark, pages_df, tmp_path):
    """The metrics pass loads the directories of the buckets the run
    wrote, not ``data/``: listing ``data/`` walks every committed
    bucket's directory before any partition filter applies. A run that
    writes no rows writes no metrics."""
    out = str(tmp_path / "out")
    first = with_bucket(pages_df, 16).filter(F.col("bucket") < 8)
    ExtractJob(spark, RULES, out, buckets=16).run(first.drop("bucket"))
    metrics_before = sorted(map(tuple, spark.read.parquet(
        f"{out}/metrics").collect()))
    executions = _run_executions(spark, lambda: ExtractJob(
        spark, RULES, out, buckets=16).run(first.drop("bucket")))
    assert len(executions) == 2  # resume-state read, empty data write
    assert sorted(map(tuple, spark.read.parquet(
        f"{out}/metrics").collect())) == metrics_before

    executions = _run_executions(spark, lambda: ExtractJob(
        spark, RULES, out, buckets=16).run(pages_df))
    _, nodes, _ = executions[-1]  # the metrics write
    (scan,) = [n.desc() for n in nodes.values()
               if n.name().startswith("Scan parquet")]
    written = sorted(b for b in range(8, 16)
                     if glob.glob(f"{out}/data/bucket={b}/*.parquet"))
    assert written
    assert f"InMemoryFileIndex({len(written)} paths)" in scan, scan


def test_unreadable_metrics_fail_the_run(spark, pages_df, tmp_path):
    """Only a metrics dir with no committed file means a first run (a
    run killed in its metrics write leaves just ``_temporary/``); one
    that cannot be read must fail the run, not recompute every bucket
    and append a second metrics row for each."""
    out = tmp_path / "out"
    (out / "metrics" / "_temporary" / "0").mkdir(parents=True)
    summary = ExtractJob(spark, RULES, str(out), buckets=4).run(pages_df)
    assert summary["buckets_skipped_by_resume"] == 0

    bad = tmp_path / "bad"
    (bad / "metrics").mkdir(parents=True)
    (bad / "metrics" / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="part-0.parquet"):
        ExtractJob(spark, RULES, str(bad), buckets=4).run(pages_df)


def test_no_resume_still_rejects_changed_rules(spark, pages_df, tmp_path):
    """``resume=False`` rewrites every bucket's data but keeps the
    committed metrics rows; with a changed rule tree those rows would
    carry the old rules_sha256 over the new output, and a later resume
    under the old rules would serve the new output as theirs."""
    out = str(tmp_path / "out")
    ExtractJob(spark, RULES, out, buckets=4).run(pages_df)
    job_b = ExtractJob(spark, {"name": "t", "scope": "title"}, out, buckets=4)
    with pytest.raises(ValueError, match="rules_sha256"):
        job_b.run(pages_df, resume=False)


def test_resume_rejects_changed_bucket_count(spark, pages_df, tmp_path):
    """ADVICE r01 (medium): restarting with a different `buckets` value
    changes bucket MEMBERSHIP — the resume filter would silently
    skip never-extracted documents. Must fail fast instead."""
    import pytest
    out = str(tmp_path / "out")
    ExtractJob(spark, RULES, out, buckets=8).run(pages_df, resume=True)
    job2 = ExtractJob(spark, RULES, out, buckets=16)
    with pytest.raises(ValueError, match="buckets=8"):
        job2.run(pages_df, resume=True)


def test_resume_rejects_changed_url_col_and_rules(spark, pages_df, tmp_path):
    import pytest
    out = str(tmp_path / "out")
    ExtractJob(spark, RULES, out, buckets=8).run(pages_df, resume=True)
    # changed url column
    renamed = pages_df.withColumnRenamed("url", "link")
    job_u = ExtractJob(spark, RULES, out, buckets=8, url_col="link")
    with pytest.raises(ValueError, match="url_col"):
        job_u.run(renamed, resume=True)
    # changed rule tree
    other_rules = {"name": "t", "scope": "title"}
    job_r = ExtractJob(spark, other_rules, out, buckets=8)
    with pytest.raises(ValueError, match="rules_sha256"):
        job_r.run(pages_df, resume=True)
    # unchanged config still resumes cleanly
    summary = ExtractJob(spark, RULES, out, buckets=8).run(pages_df,
                                                           resume=True)
    assert summary["buckets_skipped_by_resume"] > 0


def test_fully_committed_restart_runs_only_the_resume_read(
        spark, pages_df, tmp_path):
    """A restart that finds every bucket committed returns after its
    one read of ``metrics/``: no scan of the pages, no write and no
    metrics pass."""
    out = str(tmp_path / "out")
    ExtractJob(spark, RULES, out, buckets=4).run(pages_df)
    metrics_before = sorted(map(tuple, spark.read.parquet(
        f"{out}/metrics").collect()))
    summary = {}
    executions = _run_executions(spark, lambda: summary.update(
        ExtractJob(spark, RULES, out, buckets=4).run(pages_df)))
    assert len(executions) == 1
    assert summary["buckets_skipped_by_resume"] == summary["buckets_total"] == 4
    assert sorted(map(tuple, spark.read.parquet(
        f"{out}/metrics").collect())) == metrics_before


def test_no_resume_replaces_metrics_of_rewritten_buckets(
        spark, pages_df, tmp_path):
    """``resume=False`` over a different input rewrites the committed
    buckets' data and their metrics rows: one row per bucket, counting
    the second input. A bucket the second input does not reach keeps
    its data and its first-run row."""
    out = str(tmp_path / "out")
    bucketed = with_bucket(pages_df, 4)
    ExtractJob(spark, RULES, out, buckets=4).run(pages_df)
    run1 = {r["bucket"]: r for r in spark.read.parquet(f"{out}/metrics")
            .collect()}
    assert sorted(run1) == [0, 1, 2, 3]
    second = bucketed.where((F.col("bucket") != 3)
                            & (F.crc32("url") % 2 == 0)).drop("bucket")
    ExtractJob(spark, RULES, out, buckets=4).run(second, resume=False)

    rows = spark.read.parquet(f"{out}/metrics").collect()
    assert sorted(r["bucket"] for r in rows) == [0, 1, 2, 3]
    want = {r["bucket"]: r["n"] for r in with_bucket(second, 4)
            .groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    data = {r["bucket"]: r["n"] for r in spark.read.parquet(f"{out}/data")
            .groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    for r in rows:
        if r["bucket"] == 3:
            assert r["run_id"] == run1[3]["run_id"]
            assert r["docs_in"] == run1[3]["docs_in"] == data[3]
        else:
            assert r["docs_in"] == r["docs_ok"] == want[r["bucket"]]
            assert r["docs_in"] == data[r["bucket"]] < run1[r["bucket"]]["docs_in"]
            assert r["run_id"] != run1[r["bucket"]]["run_id"]
