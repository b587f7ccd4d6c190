"""Spark operator implementations.

scan_decode.py the label kernel (rules/decode/langid/perplexity/scrub per
             Arrow batch) and the fused parquet manifest scan
dedup.py     exact, MinHash-LSH, SimHash, n-gram Jaccard dedup operators
similarity.py brute-force + LSH-bucketed cosine top-k over embeddings
multimodal.py binary-payload plumbing (decode/feature-extract UDF shapes)
"""
