"""presto_weather_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the data capabilities of
``brggs/presto-weather`` (reference: /root/reference/weather.py), widened to
a full relational operator surface plus LLM-data-pipeline operators
(dedup, similarity search, multimodal columns, text analysis), designed for
100 TB scale but tested locally against a DuckDB oracle.

Layout:
  session.py          SparkSession factory + table loaders
  registry.py         query registry: name -> (spark callable, oracle SQL)
  _worker_daemon.py   Python worker daemon (one zip read per task)
  operators/          relational + LLM-pipeline operators (S-, X-series)
  functions/          scalar function layers (weather classification, formatting)
  sources/            custom Python data sources (offline Open-Meteo replay)
  streaming/          Structured Streaming pipelines (R14 refresh loop, windows)
"""

__version__ = "0.1.0"
