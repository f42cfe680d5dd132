"""hydra_spark — a PySpark-native re-implementation of datagouv/hydra.

hydra (reference: /root/reference, MIT) is an async metadata crawler +
tabular-analysis pipeline: a URL frontier in PostgreSQL, HTTP checks with
per-domain politeness, change detection, CSV/tabular ingestion and
exports. This package rebuilds those capabilities from scratch as
batch-iterative Spark DataFrame rounds over snapshot-versioned tables:

- ``hydra_spark.crawl``     — frontier selection, simulated fetch,
  politeness/backoff, next-check ladder, change detection, round driver
  (reference: udata_hydra/crawl/*).
- ``hydra_spark.seen``      — partitioned Bloom / cuckoo URL-seen set
  (reference analog: catalog UNIQUE(resource_id)).
- ``hydra_spark.analysis``  — csv-detective-style inspection, typed
  casting, ingestion, profiling (reference: udata_hydra/analysis/*,
  csv-detective semantics pinned by the golden-cast corpus).
- ``hydra_spark.exports``   — parquet / geojson writers
  (reference: udata_hydra/data_formats/*).
- ``hydra_spark.stats``     — the API-route aggregates
  (reference: udata_hydra/routes/*).
- ``hydra_spark.ml``        — large-scale training-data ops: dedup
  (exact / minhash-LSH / simhash / jaccard / embedding), ANN similarity
  search (brute-force / LSH / IVF), text analysis, webtext curation
  (Gopher repetition stats, corpus line dedup, decontamination,
  unigram-LM scoring, PII redaction, stratified sampling, token
  accounting, sequence packing), multimodal decode (stdlib
  PNG/GIF-anim/BMP/JPEG-incl-progressive/WAV) + features/resize/frames.
- ``jobs/hydra.py``         — the one spark-submit entry point, with a
  subcommand per job (crawl, load-catalog, analyse-csv, csv-sample,
  download-resource, insert-resource-into-catalog,
  insert-url-into-catalog); the package ships as a
  ``scripts/package.py`` zip.

Everything is DataFrame-first: no per-row Python in hot paths; pandas
/Arrow UDFs only where built-in functions cannot express the semantics.
"""

__version__ = "0.1.0"
