"""navi_spark — a PySpark-native crawler core (URL frontier + fetch scheduler).

A from-scratch reimplementation of the query/data-processing capabilities of
the reference search-engine crawler (Esraa-Hassan0/Navi, Java/MongoDB), built
Spark-first: DataFrame/SQL plans optimized by Catalyst, vectorized
pandas/Arrow UDFs where the built-ins can't express the semantics, and a
snapshot-committed table layer for checkpoint/resume.

Subpackages
-----------
functions   pure column-level kernels (URL canonicalization, hashing, text)
operators   crawler/indexer/ranker operators (frontier, robots, fetch, ...)
sources     deterministic synthetic data generation + image codec
plans       plan-inspection helpers (explain, pushed filters)
streaming   Structured Streaming seen-filter and rollup
"""

__version__ = "0.1.0"
