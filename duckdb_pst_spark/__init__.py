"""duckdb_pst_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the ``intellekthq/duckdb-pst`` reference.

Architecture stance (SURVEY.md §7): the reference is {PST source} + {DuckDB
engine}. Here the engine is Spark SQL itself; this package provides

- ``operators/``   — the relational capability surface the reference's own
  README/tests exercise (SURVEY.md §2.B), plus large-scale training-data
  pipeline operators (dedup, similarity, text analysis) — all declarative
  DataFrame builders that Catalyst optimizes.
- ``sources/``     — the PST source layer: a binary [MS-PST] reader behind
  ``spark.read.format("pst")`` (SURVEY.md §2.A semantics: class filter,
  read_limit, body truncation, attachment gating), plus error-tolerant
  CSV/JSONL readers.
- ``functions/``   — column-level helpers (portable hashing, vector math via
  higher-order functions) that stay JVM-side.
- ``streaming/``   — Structured Streaming equivalents (windowed aggregation
  with watermarks) for the events stream.
- ``plans/``       — explain-plan assertion helpers (pushdown / pruning /
  codegen checks).

Everything is built on public PySpark 4.x APIs only.
"""

__version__ = "0.1.0"
