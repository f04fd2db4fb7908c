"""goose-spark — declarative rule-based web extraction on PySpark.

A from-scratch PySpark-native engine with the query capabilities of
redco/goose-parser (reference behavior spec: SURVEY.md; golden
contract: FIXTURES.md — /root/reference was empty this session, see
SURVEY.md §0). Rule JSON trees are compiled on the driver into an
output StructType plus a batched extraction plan, then executed by the
per-document map kernel (kernel.map_docs, one Arrow-batched
mapInArrow) that parses each page's HTML once and evaluates the whole
rule tree against it.
"""

from goose_parser_spark.rules.compiler import RuleCompiler, CompiledRules
from goose_parser_spark.extractor import extract, extract_many
from goose_parser_spark.functions.transforms import (
    TransformRegistry,
    default_registry,
)
from goose_parser_spark.deploy import cache_zip_directories

__version__ = "0.1.0"

__all__ = [
    "RuleCompiler",
    "CompiledRules",
    "extract_many",
    "extract",
    "TransformRegistry",
    "default_registry",
]

# executor closures import the package while their first task unpickles,
# so a reused Python worker stops re-reading Spark's zip archives before
# every task (deploy.cache_zip_directories). Called last: the importers
# the package's own imports create are then shared from the first task.
cache_zip_directories()
