"""Column-level kernels: URL canonicalization, hashing, text analysis."""

from navi_spark.functions.urlnorm import (  # noqa: F401
    normalize_url_py,
    normalize_url_udf,
    host_of_py,
    host_expr,
    base_url_py,
    url_hash64,
)
