from goose_parser_spark.plans.pipeline import (
    ExtractJob,
    rules_sha256,
    with_bucket,
)

__all__ = ["ExtractJob", "rules_sha256", "with_bucket"]
