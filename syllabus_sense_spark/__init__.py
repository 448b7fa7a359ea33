"""syllabus_sense_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference document-ETL pipeline (PempheroKamundi/syllabus_sense),
re-expressed Spark-first: DataFrame/SQL logical plans optimized by
Catalyst, Arrow-vectorized Python only where built-ins cannot express
the semantics, and every operator designed to scale to a large
multi-executor cluster.

Layout
------
- ``session``    : SparkSession factory (AQE + Arrow + sane shuffle conf)
- ``tables``     : loaders for the test-harness parquet tables
- ``schemas``    : StructTypes for the document/question data model
- ``operators``  : reusable dataflow operators (sessionize, batch,
                   joins incl. as-of, dedup, similarity, text stats)
- ``pipeline``   : the flagship syllabus pipeline with deterministic
                   extraction stand-ins (the LLM seam)
- ``sources``    : document sources (DOCX plumbing, synthetic elements)
- ``sinks``      : partitioned append writers
- ``streaming``  : Structured Streaming variants of the pipeline
"""

__version__ = "0.2.0"

from .errors import (  # noqa: E402,F401  (public error surface, A20)
    InvalidDocumentSourceError,
    InvalidOutputDirectoryError,
    StreamDrainTimeoutError,
    StreamStalledError,
    SyllabusSenseSparkError,
    TableNotFoundError,
)
