"""PySpark-native analytics engine with the query and data-processing
capabilities of RENCI/apsviz-timeseriesdb-ingest.

Layout:
    session     -- tuned SparkSession builder (AQE, arrow, UTC)
    schemas     -- explicit StructTypes for every table (SURVEY.md section 1.3)
    functions/  -- scalar helpers (timemark parsing, portable hashing, overlaps)
    operators/  -- engine operators (keep-latest dedup, crosstab pivot, as-of join)
    sources/    -- harvest CSV readers + parquet table catalog
    plans/      -- end-to-end pipelines (bootstrap, obs ingest, model ingest,
                   read API)
    streaming/  -- Structured Streaming wrappers (file source + foreachBatch)
    llm/        -- large-scale training-data operators (dedup, similarity,
                   text analysis, multimodal)
"""

__version__ = "0.1.0"
