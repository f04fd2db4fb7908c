"""Tests of the benchmark itself: seeded generators, the expectations
they emit, and the metric names and units the runner prints.

    python -m pytest perfbench/tests -q
"""

import json
import os

import pyarrow.parquet as pq

import collect
import gen
import run
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _files(d):
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def fingerprint(plan):
    return json.dumps([plan.docs, sorted(plan.expected.items(), key=str),
                       sorted(plan.poison.items()), plan.error_urls,
                       sorted(plan.survivors)], sort_keys=True)


def test_generators_are_deterministic(tmp_path):
    for name, make in [("listing", lambda d, s: gen.gen_listing(d, s, 40, 4)),
                       ("crawl", lambda d, s: gen.gen_crawl(d, s, 30, 3)),
                       ("curate", lambda d, s: gen.gen_curate(d, s, 40, 2))]:
        a = make(str(tmp_path / f"{name}-a"), 5)
        b = make(str(tmp_path / f"{name}-b"), 5)
        c = make(str(tmp_path / f"{name}-c"), 6)
        assert fingerprint(a) == fingerprint(b), name
        assert fingerprint(a) != fingerprint(c), name
        assert _files(tmp_path / f"{name}-a") == _files(tmp_path / f"{name}-b")
        assert a.error_urls or a.survivors


def test_work_per_input_is_fixed_across_seeds(tmp_path):
    for make in (lambda d, s: gen.gen_listing(d, s, 200, 4),
                 lambda d, s: gen.gen_crawl(d, s, 60, 3)):
        a = make(str(tmp_path / "a"), 1)
        b = make(str(tmp_path / "b"), 2)
        assert a.stats == b.stats
        assert {k: len(v) for k, v in a.poison.items()} == \
            {k: len(v) for k, v in b.poison.items()}


def test_listing_expectations_match_extract(spark, tmp_path):
    from pyspark.sql import functions as F
    from goose_parser_spark import extract
    plan = gen.gen_listing(str(tmp_path / "pages"), 3, 60, 3)
    out = extract(spark.read.parquet(str(tmp_path / "pages")),
                  gen.LISTING_RULES)
    rows = out.select("url", F.to_json("extracted").alias("got"),
                      "error").collect()
    assert len(rows) == plan.docs
    for r in rows:
        assert r["got"] == plan.expected[r["url"]], r["url"]
        assert (r["error"] is not None) == (r["url"] in plan.error_urls)
    digest, _ = workloads.output_digest(out)
    assert digest == workloads.expected_digest(plan)


def test_crawl_expectations_match_read_warc_and_extract(spark, tmp_path):
    from pyspark.sql import functions as F
    from goose_parser_spark import extract
    from goose_parser_spark.sources import read_warc
    plan = gen.gen_crawl(str(tmp_path / "warc"), 4, 120, 3)
    pages = read_warc(spark, str(tmp_path / "warc"))
    assert pages.count() == plan.docs
    pages = pages.withColumn("html", F.when(F.length("html") > 0,
                                            F.col("html")))
    out = extract(pages, gen.ARTICLE_RULES)
    rows = out.select("url", F.to_json("extracted").alias("got"),
                      "error").collect()
    for r in rows:
        assert r["got"] == plan.expected[r["url"]], r["url"]
        assert (r["error"] is not None) == (r["url"] in plan.error_urls)
    assert set(plan.poison) == {"empty", "bad_utf8", "truncated"}


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_every_end_to_end_metric_is_printed_with_its_unit():
    passes = [{"wall": 2.0, "cpu": 6.0}, {"wall": 2.5, "cpu": 7.0},
              {"wall": 2.2, "cpu": 6.5}]
    got = run.end_to_end(4.5, passes, 100, 1, 130.0)
    want = {m["name"]: m["unit"] for m in _benchmark()["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["docs_per_s"]["value"] == 100 / 2.2
    assert got["setup_s"]["value"] == 4.5
    assert got["doc_error_share"]["value"] == 0.01


def test_every_per_layer_metric_is_printed_with_its_unit():
    want = {m["name"]: m["unit"] for m in _benchmark()["per_layer"]}
    assert workloads.PER_LAYER == want
    got = workloads._metric_dict(dict.fromkeys(want, 1))
    assert {k: v["unit"] for k, v in got.items()} == want


def test_benchmark_lists_the_runner_workloads():
    assert [w["name"] for w in _benchmark()["workloads"]] == \
        list(workloads.WORKLOADS)


def test_parse_metric_reads_spark_formats():
    assert collect.parse_metric("2,000") == 2000
    assert collect.parse_metric("745 ms") == 0.745
    assert collect.parse_metric("6.9 KiB") == 6.9 * 1024
    multi = "total (min, med, max (stageId: taskId))\n2.1 s (0 ms, 1.0 s, " \
            "1.1 s (stage 1.0: task 3))"
    assert collect.parse_metric(multi) == 2.1
    assert collect.parse_metric(None) == 0.0


def test_trace_spans_nest_and_sum_to_evaluate_total(tmp_path):
    gen.gen_listing(str(tmp_path / "p"), 9, 20, 1)
    htmls = [h for h in pq.read_table(str(tmp_path / "p"))
             .column("html").to_pylist() if h]
    m = tracing.replay(gen.LISTING_RULES, htmls, str(tmp_path / "spans"))
    assert m["selector.calls_per_doc"] > 0
    assert 0 < m["selector.match_ratio"] <= 1
    assert m["rules.self_ms_per_doc"] < m["rules.evaluate_ms_per_doc"]
    with open(tmp_path / "spans") as fh:
        spans = [json.loads(line) for line in fh]
    roots = [s for s in spans if s[3] == -1]
    assert len(roots) == len(htmls)
    assert {s[0] for s in roots} == {"rules.evaluate"}
    tr = tracing.Tracer()
    tr.spans = [tuple(s) for s in spans]
    assert tr.nesting_errors() == []
    self_ns = tr.self_ns()
    assert sum(self_ns.values()) == tr.total_ns("rules.evaluate")


def test_trace_nesting_check_finds_a_stray_span():
    tr = tracing.Tracer()
    tr.spans = [("rules.evaluate", 10, 20, -1, 0),
                ("selector.select", 12, 25, 0, 0),  # ends after its parent
                ("dom.parse", 30, 31, -1, 1),        # outside any document
                ("functions.chain", 0, 0, 0, 0)]     # never closed
    assert len(tr.nesting_errors()) == 3


def _scanned_per_call(html, scope, field):
    rules = {"scope": scope, "collection": [[{"name": "x", "scope": field}]]}
    return tracing.replay(rules, [html], None)["selector.pool_per_call"]


def test_trace_counts_candidates_scanned_not_pool_size():
    """On the interval path (one simple compound under a grid row) a
    row scans only its own slice of the pool; a multi-step selector
    scans the whole pool for every row."""
    rows = 200
    html = "<html><body>" + "".join(
        f'<div class="row"><span class="v">{i}</span>'
        f'<b><i class="w">{i}</i></b></div>' for i in range(rows)) \
        + "</body></html>"
    interval = _scanned_per_call(html, "div.row", "span.v")
    walked = _scanned_per_call(html, "div.row", "b i.w")
    assert interval < 3
    assert walked > rows / 2
def test_proc_tree_sees_this_process():
    tree = collect.ProcTree()
    assert tree.cpu_s() > 0
    assert tree.worker_hwm_mb() >= 0


def test_runner_fails_outside_a_checkout(tmp_path):
    """Without the program next to it the runner exits non-zero and
    prints no result."""
    import shutil
    import subprocess
    import sys
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "listing_grids",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
