"""Rule-tree extraction over a pages DataFrame.

The hot path of the engine runs on the per-document map kernel
(kernel.map_docs): one Arrow-batched ``mapInArrow`` is the ONLY
JVM↔Python boundary in the job, amortized per batch (no per-row
Python, BASELINE.json:15; design per "Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022 — see PAPERS.md). Per batch the
kernel loops documents in Python (DOM parsing is inherently
per-document); each page's HTML is parsed once and the entire
compiled rule tree is evaluated against it (SURVEY.md §3.2).

Failure isolation (SURVEY.md §2.8 I4): a poison document yields
``extracted = NULL`` plus an ``error`` string — it never kills the
job.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql.types import StringType, StructField, StructType

from goose_parser_spark.kernel import map_docs
from goose_parser_spark.rules.compiler import CompiledRules, RuleCompiler
from goose_parser_spark.rules.evaluator import (
    evaluate_document,
    evaluate_document_many,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame


def extract(
    df: "DataFrame",
    rules: dict | CompiledRules,
    html_col: str = "html",
    url_col: str = "url",
    keep_cols: tuple[str, ...] = (),
) -> "DataFrame":
    """Run rule-tree extraction over a pages DataFrame.

    Output: ``url, extracted, error, parse_ns, bytes_in, *keep_cols``.
    The per-document map kernel selects only the needed columns FIRST
    so Catalyst prunes the scan to ``url, html`` (+ keep_cols) — at
    10^12 docs the html blob is the only heavy column we should ever
    deserialize (SURVEY.md §4.1/§4.2).
    """
    compiled = rules if isinstance(rules, CompiledRules) else RuleCompiler().compile(rules)
    extracted = StructField("extracted",
                            compiled.udf_schema or compiled.schema, True)

    def fn(html):
        return ((evaluate_document(compiled, html, skip_lowered=True),),)

    out = map_docs(df, fn, [extracted], url_col, html_col, keep=keep_cols,
                   text=True)
    if compiled.has_lowered:
        # apply the native transform suffixes post-UDF: per-value work
        # Catalyst can run byte-identically stays out of the Python
        # workers entirely (functions/native.py; SURVEY.md §2.5)
        out = out.withColumn("extracted", _lowered_extracted(compiled, out))
    return out


def extract_many(
    df: "DataFrame",
    rules_by_name: dict[str, dict | CompiledRules],
    html_col: str = "html",
    url_col: str = "url",
) -> "DataFrame":
    """Multi-tenant extraction: evaluate SEVERAL rule trees against one
    parse of each document — at 100 TB the scan + DOM parse dominate,
    so N consumers' rules in one pass cost ~1/N of N separate jobs.
    The per-document selector memo is shared across trees (overlapping
    scopes are evaluated once).

    Output: ``url, extracted (struct of per-tree structs), error,
    parse_ns, bytes_in``. A tree whose evaluation fails yields NULL for
    that tree and a ``tree=<name>: <err>`` entry in ``error`` — one bad
    ruleset never poisons the other tenants (I4 per-tree isolation,
    :func:`evaluate_document_many`).
    """
    from pyspark.sql import functions as F

    compiled = {
        name: (r if isinstance(r, CompiledRules) else RuleCompiler().compile(r))
        for name, r in rules_by_name.items()
    }
    fields = [
        StructField("extracted", StructType([
            StructField(name, c.schema, True) for name, c in compiled.items()
        ]), True),
        StructField("_tree_errors", StringType(), True),
    ]

    def fn(html):
        row, errors = evaluate_document_many(compiled, html)
        return ((row, "; ".join(errors) or None),)

    out = map_docs(df, fn, fields, url_col, html_col, text=True)
    return out.select(url_col, "extracted",
                      F.coalesce("error", "_tree_errors").alias("error"),
                      "parse_ns", "bytes_in")


def _lowered_extracted(compiled: CompiledRules, df: "DataFrame"):
    """Column expression rebuilding `extracted` with each leaf's
    lowered transform suffix applied (single-branch trees only — the
    compiler clears lowering on conditional specs)."""
    from pyspark.sql import functions as F
    from goose_parser_spark.functions.native import apply_native_suffix
    from goose_parser_spark.rules.compiler import CompiledRule

    def rebuild(rule: CompiledRule, col):
        if rule.children:
            fields = [c for c in rule.children if not c.virtual]

            def build(node):
                return F.struct(*[
                    rebuild(c, node.getField(c.name or "")).alias(c.name or "")
                    for c in fields
                ])

            if rule.is_grid:
                return F.transform(col, build)
            return build(col)
        return apply_native_suffix(rule.lowered_specs, col)

    root = compiled.branches[0].rules
    col = F.col("extracted")
    if root.children:
        new = rebuild(root, col)
    else:
        name = root.name or ""
        new = F.struct(rebuild(root, col.getField(name)).alias(name))
    # error docs carry extracted = NULL; keep them NULL (a rebuilt
    # struct of NULL fields would un-NULL the column)
    return F.when(col.isNotNull(), new)
