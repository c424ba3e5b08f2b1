"""etl_poc_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference pipeline (parhampr/ETL-POC),
re-expressed Spark-first.

Layout:
  session       SparkSession factory tuned for local[N] testing / cluster scale
  io            table registry for the driver-provided parquet test tables
  functions/    reusable Column-expression helpers (text, scoring)
  operators/    engine operators (chunker, dedup, similarity, text analysis)
  queries/      the registered query inventory + DuckDB oracle SQL pairs
  llm/          llm_map / llm_reduce machinery with a deterministic stub provider
  plans/        YAML pipeline front-end (datasets/operations/steps -> DataFrame)
  sinks/        JSON / markdown-dir / error-quarantine sinks
  sources/      jsonl_tail streaming DataSource over a landing directory
  multimodal/   binary-column (image/audio) plumbing: real PPM/BMP/PNG and
                WAV PCM decoders, deterministic fallback for the rest
"""

__version__ = "0.1.0"
