"""PySpark-native main-content-extraction + evaluation engine.

A from-scratch rebuild of the capabilities of
``tomazk/Text-Extraction-Evaluation`` (a single-machine Python harness
that runs boilerplate-removal extractors over gold-annotated HTML
corpora and scores them with token-level P/R/F1) as an idiomatic
PySpark engine: DataFrame API + Arrow-vectorized python-map kernels
(``mapInArrow`` on the extraction hot path, ``mapInPandas``
elsewhere), designed for Common-Crawl-scale page tables.

NOTE: the reference checkout at /root/reference/ was empty at survey
time (SURVEY.md §0); behavioral parity is pinned against the vendored
pure-Python oracle in ``oracle/`` which shares the algorithm modules
in ``text_extraction_evaluation_spark.algo`` — byte-identical by
construction, frozen by golden files in tests/.
"""

from text_extraction_evaluation_spark import _zipcache

# Before anything else: Spark workers import this package when they
# unpickle a kernel, so every later task on that worker skips
# re-reading pyspark.zip (see _zipcache).
_zipcache.install()

__version__ = "0.1.0"
