from tamer_spark.sources.jdbc import JdbcTumblingSource, TimeWindow, advance_window
from tamer_spark.sources.objectstore import (
    LocalFSLister,
    ObjectCursorSource,
    OciObjectStorageSource,
    objects_cursor,
    oci_s3_compat_endpoint,
    parse_instant_from_key,
    parse_number_from_key,
)
from tamer_spark.sources.rest import (
    Authentication,
    BasicAuth,
    BearerAuth,
    Offset,
    PaginatedRestSource,
    PeriodicOffset,
    advance_offset,
    advance_periodic_offset,
    filter_page,
)

__all__ = [
    "JdbcTumblingSource",
    "TimeWindow",
    "advance_window",
    "LocalFSLister",
    "ObjectCursorSource",
    "OciObjectStorageSource",
    "objects_cursor",
    "oci_s3_compat_endpoint",
    "parse_instant_from_key",
    "parse_number_from_key",
    "Authentication",
    "BasicAuth",
    "BearerAuth",
    "Offset",
    "PaginatedRestSource",
    "PeriodicOffset",
    "advance_offset",
    "advance_periodic_offset",
    "filter_page",
]
