"""dedup — a PySpark-native near-duplicate detection + clustering engine.

Built from scratch (NOT a port) with the keyed-idempotency semantics of
ovotech/comms-deduplication grafted onto a batch pipeline:

- exact dedup by content sha256 (the per-row invariant),
- k-shingle MinHash signatures + LSH band bucketing (vectorized numpy
  inside pandas/Arrow UDFs — no per-row Python),
- SimHash + Hamming-ball candidate generation,
- suffix-array longest-common-substring verification,
- connected-components clustering (large-star/small-star rounds on
  Spark, finished by a driver union-find once the edge set is small),
- a per-stage checkpoint ledger (claim -> commit -> complete) that makes the
  whole pipeline resumable, mirroring the reference's 5-state process
  lifecycle (reference: src/main/scala/deduplication/model.scala:10-17,
  DeduplicationContext.scala:188-216).

Package layout (SURVEY.md section 7):
    config.py    frozen pipeline config (mirrors reference Config.scala:20-24)
    session.py   SparkSession factory (Arrow + AQE)
    kernels.py   pure numpy kernels: shingles, MinHash, SimHash, suffix-array LCS
    corpus.py    deterministic synthetic source-code corpus (FIXTURES.md section 1)
    ledger.py    checkpoint ledger + 5-state status classifier
    storage.py   atomic-snapshot parquet table store (Iceberg stand-in)
    pipeline.py  stage orchestrator with resume
    stages/      exact, minhash_lsh, simhash, verify, cluster
    ops/         training-data-pipeline operators (text, similarity, multimodal)
"""

__version__ = "0.1.0"
