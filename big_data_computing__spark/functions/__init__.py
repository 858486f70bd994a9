"""Catalyst expression helpers shared by the operator library.

Helpers return ``pyspark.sql.Column`` objects, or, with the
``_spark_sql`` suffix, the same expressions as Spark SQL text for plans
built by one ``spark.sql`` call (whole-stage codegen friendly either
way — no Python UDFs). A plain ``_sql`` suffix marks a DuckDB twin for
the oracles.
"""
