"""Sink substrate: chunked batch-POST with retry (reference S3/X1/X2)."""

from project_fauna_spark.sinks.batch_post import post_batches_globally_indexed

__all__ = ["post_batches_globally_indexed"]
