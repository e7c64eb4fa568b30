"""Source substrate: paginated HTTP scan + point-get detail fetch
(reference operators S1/S2/S4), distributed via mapInArrow."""

from project_fauna_spark.sources.http import (
    FileBackedTransport,
    FlakyTransport,
    HttpError,
    RetryPolicy,
    ValidationHttpError,
    fetch_details_df,
    fetch_listed_details_df,
    paginated_ids_df,
    request_with_retry,
)

__all__ = [
    "FileBackedTransport",
    "FlakyTransport",
    "HttpError",
    "RetryPolicy",
    "ValidationHttpError",
    "fetch_details_df",
    "fetch_listed_details_df",
    "paginated_ids_df",
    "request_with_retry",
]
