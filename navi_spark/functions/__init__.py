"""Column-level kernels: URL canonicalization, host extraction, stemming."""

from navi_spark.functions.urlnorm import (  # noqa: F401
    normalize_url_py,
    normalize_url_udf,
    host_of_py,
    host_expr,
)
