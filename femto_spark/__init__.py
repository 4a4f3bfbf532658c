"""femto_spark — a PySpark-native inverted-index + BM25 full-text engine.

Capability reference: femto-dev/femto (an external-memory FM-index engine,
surveyed in SURVEY.md). This package is a from-scratch Spark-first redesign:
the FM-index/BWT core is replaced by term-partitioned compressed posting
lists built and queried with the DataFrame API + vectorized Arrow UDFs.

Layout:
  femto_spark.tokenizer  — shared tokenization (pure python + Spark + SQL forms)
  femto_spark.scoring    — shared BM25 math (single source of truth for oracle parity)
  femto_spark.codec      — delta+varint posting-block codec (numpy, vectorized)
  femto_spark.corpus     — synthetic Common-Crawl-style page generator + reference
                           html→text extractor (byte-stable invariant)
  femto_spark.oracle     — single-process pure-Python reference engine
                           (the analogue of the reference's test.pl Perl oracle)
  femto_spark.index      — distributed index build (salted merge, manifests, resume)
  femto_spark.query      — query engine (BM25 top-k, block-max WAND, boolean,
                           proximity, extract, extend, scan fallback)
  femto_spark.ops        — training-data pipeline operators (dedup, similarity
                           search, text analysis, multimodal plumbing)
"""

__version__ = "0.1.0"

from femto_spark._zipdirs import keep_zip_directories

keep_zip_directories()  # Python workers: no per-task pyspark.zip re-read
