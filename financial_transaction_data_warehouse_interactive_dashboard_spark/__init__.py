"""PySpark-native analytics engine with the query and data-processing
capabilities of thomasalfio/Financial-Transaction-Data-Warehouse-Interactive-Dashboard.

Brand-new implementation on the Spark DataFrame/SQL stack (Catalyst, AQE,
whole-stage codegen, Structured Streaming). The reference is a single-process
pandas warehouse (etl.ipynb + streamlit.py); this engine re-expresses every
operator it executes (SURVEY.md section 2) as lazy, distributed Spark plans,
and adds the large-scale training-data operators (text analysis, MinHash
near-dup clustering, windowed event analytics) a 100 TB pipeline needs.

Layout:
    session.py    SparkSession factory (AQE on, UTC, tuned shuffle partitions)
    schemas.py    explicit StructTypes for every table (no inferSchema in prod)
    sources/      BOM-safe CSV ingest, parquet registry over /root/testdata
    plans/        reference ETL (star schema + gold) and the named query library
    operators/    reusable relational ops: top-k, surrogate keys, remap,
                  MinHash/LSH, graph, sketches
    functions/    scalar/text function library (quarters, tokenization, quality)
    streaming/    windowed/sessionized event analytics (batch-first, streaming-ready)
"""

__version__ = "0.1.0"
