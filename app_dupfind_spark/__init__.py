"""app_dupfind_spark — a PySpark-native near-duplicate detection and
clustering engine.

Re-expresses the staged cheap-to-expensive filter cascade of the
reference (tommybutler/App-dupfind: size grouping -> byte-sample
"weed" passes -> full xxHash64 digest, dropping singleton groups after
every stage; see /root/reference/lib/App/dupfind/Common.pm:38-204) as
an idiomatic Spark DataFrame pipeline, and generalizes it to web-scale
text dedup: exact xxhash64 pruning, MinHash signatures over k-shingles,
LSH band-bucket candidate generation, exact shingle-Jaccard
verification, and connected-components clustering.

Everything here is stock PySpark 4.x: DataFrame/SQL expressions for the
relational skeleton, vectorized pandas/Arrow UDFs for the signature
math, no per-row Python, no RDDs.
"""

from app_dupfind_spark.config import DedupConfig

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
