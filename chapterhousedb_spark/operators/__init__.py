"""Beyond-reference operators: the LLM-data-pipeline surface.

The reference engine has none of these (SURVEY.md §2.4); they are the
extension operators a 100 TB training-data pipeline needs. Every
operator is a DataFrame -> DataFrame transform built on Spark
primitives: built-in higher-order functions on the hot path (JVM-side,
whole-stage codegen), shuffle-based candidate generation (never
driver-side loops), Pandas UDFs only where Python is genuinely needed
(multimodal decode).

Import each operator from its submodule (`...operators.dedup`, ...).
This package imports none of them, so a Python worker that unpickles a
UDF from one submodule loads that module alone.
"""
