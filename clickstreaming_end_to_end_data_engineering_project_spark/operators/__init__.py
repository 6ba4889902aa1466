"""Reusable DataFrame operators.

Each module composes built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen friendly); Python/pandas UDFs appear only where the
built-ins genuinely cannot express the semantics (see groupedmap.py).
"""
