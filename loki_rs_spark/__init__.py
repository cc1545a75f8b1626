"""loki_rs_spark — a PySpark-native re-expression of the Loki-RS signature
evaluation core (reference: Neo23x0/Loki-RS) as a parse → enrich → route →
aggregate log pipeline over a table of multi-turn agent transcripts.

This is NOT a port of the reference's Rust filesystem scanner: the reference
tells us WHAT to compute (signature formats, match semantics, the weighted
score fold, severity routing — see SURVEY.md §2), while the HOW here is
idiomatic Spark: declarative DataFrame plans, broadcast hash joins for IOC
lookup, higher-order array functions for the score fold, and one scalar Arrow
UDF (pyarrow compute kernels) for the multi-pattern string-rule engine (the
single computation with no Spark builtin).
"""

__version__ = "0.1.0"
