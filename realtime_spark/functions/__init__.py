from realtime_spark.functions.filters import (  # noqa: F401
    FILTER_OPS,
    Filter,
    filters_match_expr,
    parse_filter_string,
)
from realtime_spark.functions.casts import pg_type_to_spark  # noqa: F401
