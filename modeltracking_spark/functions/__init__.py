"""Scalar/column function layer (SURVEY.md §2.3, F1–F10).

Every function returns a Spark ``Column`` built from JVM builtins so it
stays inside whole-stage codegen; the single exception is the Vincenty
geodesic (``geo.vincenty_km_udf``), which is a vectorized pandas UDF
because no builtin exists (reference pulls the ``vincenty`` pip package,
``rucool.yml:213``).
"""
