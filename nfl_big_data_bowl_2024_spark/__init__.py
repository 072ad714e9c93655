"""PySpark-native analytics engine with the query/data-processing capabilities of
g-lopp/NFL_Big_Data_Bowl_2024 (see SURVEY.md), rebuilt Spark-first.

Layout:
    session    -- SparkSession factory tuned for the 100 TB design point
    schemas    -- explicit StructTypes for every table (reference + testdata)
    fixtures   -- deterministic NFL-domain fixtures (FIXTURES.md §A)
    sources    -- readers (parquet/csv, partitioned tracking) and sinks
    functions  -- scalar column function families (spatial F1-F3)
    operators  -- window/ordered ops (W1-W5), dedup, similarity search
    kernels    -- numpy LQR pursuit solver (U2) + the U1 YAP applyInPandas kernel
    plans      -- registered queries: relational (§2.1-2.7), pipeline_*
                  family modules (dedup/similarity/text/graph/...),
                  domain (E1/E2), reporting (E3)
"""

__version__ = "0.1.0"
