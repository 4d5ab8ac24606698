"""Structured Streaming form of the ingest->consensus->decide pipeline
(``pipeline.py``): a ``foreachBatch`` over the shared consensus
kernel. ``stateful.py`` holds the ``applyInPandasWithState``
sessionizer and the stateful incremental-LSH kernels."""
