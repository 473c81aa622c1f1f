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

import os
import re
import sys
import zipimport

from app_dupfind_spark.config import DedupConfig

# The archives Spark puts on every Python worker's path: pyspark.zip,
# the py4j source zip and the spark-core jar.  They never change while
# a worker lives.
_SPARK_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*-src\.zip|spark-core_.*\.jar")


def _keep_spark_zip_directories() -> None:
    """Stop `importlib.invalidate_caches()` from re-reading the zip
    directories of Spark's own archives.

    A reused Python worker calls it before every task
    (pyspark.worker_util.setup_spark_files); below Python 3.13 each zip
    importer then re-reads its archive's whole directory, which cost
    0.13-0.24 s per task across the 16 importers of Spark's archives.
    Other archives (--py-files, addPyFile) keep the stock refresh.  The
    trade: a Spark archive rewritten in place during a worker's life
    is served from its old directory.  Python 3.13 only drops the
    cache, so it is left alone there."""
    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(stock, "_keeps_spark_zips", False):
        return

    def invalidate_caches(self):
        if not _SPARK_ARCHIVE.fullmatch(os.path.basename(self.archive)):
            stock(self)

    invalidate_caches._keeps_spark_zips = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_keep_spark_zip_directories()

__all__ = ["DedupConfig"]
__version__ = "0.1.0"
