"""pdf_parser_spark — a PySpark-native PDF text/image extraction engine.

A from-scratch reimplementation of the capabilities of the reference
``Kotaro7750/pdf_parser`` (Rust), re-architected for Apache Spark:

- ``kernel/``    pure-Python parsing cores (no Spark imports): COS
  lexer/parser, stream filters, xref/trailer, page tree, content-stream
  text interpreter, image decode, HTML boilerplate strip. Runs *inside*
  Arrow-batched ``mapInArrow`` kernels — never per-row Python.
- ``operators/`` Spark DataFrame operators: PDF/HTML extraction, dedup
  (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
  ANN similarity search, text statistics (tokens/quality/lang-ID/
  fingerprints), multimodal column plumbing.
- ``pipeline/``  production job layer: salted repartition for skewed
  conversations, per-partition lineage rows, idempotent resume.
- ``sources/``   table abstraction (parquet dirs; Iceberg when jars are
  present) + deterministic synthetic ``turns``/HTML corpora + goldens.
- ``queries``    the driver-contract catalog (Spark + DuckDB oracles).
"""

__version__ = "0.1.0"
