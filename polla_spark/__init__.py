"""polla_spark — a PySpark-native analytics engine.

Re-expresses the full data-processing surface of the reference app
(cortega26/polla: multi-source ingest -> Spanish-format parsing ->
majority-vote consensus -> change-detection -> decision -> publish)
as idiomatic Spark DataFrame / SQL plans, and extends it with the
relational + LLM-data-pipeline operator inventory declared in
SURVEY.md §2.6 (joins, windows, rollups, dedup families, similarity
search, text analysis, multimodal columns), plus the daily pipeline
run as a Structured Streaming ``foreachBatch``.

Design rules (SURVEY.md §7):
- explicit StructType schemas everywhere, never inference in prod paths;
- declarative DataFrame plans -> Catalyst owns pushdown/pruning/join choice;
- Python UDFs only for genuinely non-relational kernels, always
  Arrow-vectorized (`pandas_udf` / `mapInPandas`);
- no `.collect()` on data paths — only the single decision row;
- deterministic ordering made explicit (source_priority columns,
  sort_array) so results are stable under any task ordering.
"""

__version__ = "0.1.0"

API_VERSION = "v1.2"  # parity: reference polla_app/contracts.py:6
