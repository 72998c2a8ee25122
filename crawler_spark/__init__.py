"""crawler_spark — a PySpark-native distributed URL-frontier / fetch / parse
engine with the capabilities of ``oi-archive/crawler`` (reference at
/root/reference, read-only), rebuilt Spark-first per SURVEY.md.

Layout
------
- ``session``    SparkSession factory tuned for the crawl workload.
- ``schemas``    StructTypes for frontier / url_seen / host_state / problems /
                 images / fetch_log / lineage (FIXTURES.md A1-A6).
- ``functions/`` pure column-expression function library (URL canon, keys,
                 hashing, parse-stage normalization) — zero per-row Python.
- ``sources/``   synthetic web and the five real judge wire formats
                 (deterministic fetcher universes), warehouse (parquet-dir
                 table layer, Iceberg drop-in), image codecs, file ingest.
- ``operators/`` frontier scheduling, membership (bloom + anti-join),
                 the Arrow dequeue kernel, fetch, parse, images, politeness,
                 dedup (exact/minhash/simhash/jaccard/cosine), similarity
                 search.
- ``plans/``     the generation loop (select → fetch → parse → commit) with
                 resume-from-checkpoint, and the oracle-checked query registry.
"""

__version__ = "0.1.0"
