"""Large-scale data-pipeline operators (beyond reference parity).

These are the LLM-training-data operators the north-star calls for
(BASELINE.json): deduplication (exact / fingerprint / n-gram Jaccard /
MinHash-LSH / SimHash), similarity search (brute-force cosine top-k and
LSH-bucketed ANN), text analysis (token stats, quality, language-ID,
fingerprinting) and multimodal binary-column plumbing.

Everything is DataFrame-native and shuffle-conscious: inverted-index
joins instead of cross joins, map-side-combinable aggregations, and
broadcast for small query sets. Python only enters via Arrow-batched
kernels (multimodal decode, the MinHash signature kernel), never per-row
UDFs.
"""

from wren_engine_spark.operators import dedup, similarity, text, multimodal

__all__ = ["dedup", "similarity", "text", "multimodal"]
