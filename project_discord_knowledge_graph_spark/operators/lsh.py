"""Generic banded-MinHash candidate generation over element-set rows.

The one blocking primitive shared by entity linking (character
n-grams of mention strings, operators/entity.py) and document
near-dedup (k-char shingles, operators/dataset.py).  Exists because
pyspark.ml's MinHashLSH.approxSimilarityJoin hot-buckets on shared
tokens at >=1M items (measured, BENCH.md round 5): its hash tables
are OR-amplified single min-hashes, so every item whose global
min-hash lands on a common element shares one giant bucket and the
pair join runs on a handful of straggler tasks.

Here the two controls approxSimilarityJoin hides are explicit:

- AND-amplified bands: a bucket key is `rows_per_band` min-hashes
  hashed together; P(pair shares a band) = 1-(1-J^r)^b.  Common-token
  buckets deflate by the r-th power.
- An explicit bucket cap: buckets larger than `bucket_cap` are
  dropped BEFORE the pair self-join, bounding worst single-task work
  at bucket_cap^2; dropped bucket/row counts are returned with
  return_stats (never silent).  A true near-dup pair shares ALL its
  elements, so it has b-1 other bands to surface in — recall gates
  (>= 0.9 vs the exact join) live in the call sites' tests.

Output is CANDIDATES ONLY: callers must verify with an exact
similarity (blocking prunes, never admits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def banded_minhash_pairs(sets_df: DataFrame, id_col: str,
                         set_col: str,
                         n_bands: int = 20,
                         rows_per_band: int = 3,
                         bucket_cap: int = 1024,
                         seed: int = 42,
                         return_stats: bool = False):
    """(id, array-of-elements) rows -> candidate (id_a, id_b) pairs
    with id_a < id_b, distinct across bands.  Min-hash j of a row is
    min over its elements of xxhash64('<seed>:<j>', element)."""
    nh = n_bands * rows_per_band
    # one-argument lambdas: F.transform passes (element, index) to a
    # two-argument one, so a `j=j` default would bind the index
    minhash = lambda salt: lambda g: F.xxhash64(salt, g)  # noqa: E731
    sig = sets_df.select(
        F.col(id_col),
        *[F.array_min(F.transform(F.col(set_col),
                                  minhash(F.lit(f"{seed}:{j}"))))
          .alias(f"_h{j}") for j in range(nh)])
    band_keys = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"_h{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("sig"))
        for b in range(n_bands)]
    buckets = (sig
               .select(F.col(id_col),
                       F.explode(F.array(*band_keys)).alias("bk"))
               .select(F.col(id_col), F.col("bk.band").alias("band"),
                       F.col("bk.sig").alias("sig")))
    sized = buckets.withColumn(
        "_bsize", F.count("*").over(Window.partitionBy("band", "sig")))
    if return_stats:
        # the stats aggregation is an eager action; without a cache it
        # would run the full signature+window job once here and AGAIN
        # when the caller materializes the pairs (measured: doubled
        # lsh wall at 6M triples).  Persist the sized bucket frame so
        # both read one computation; the frame is handed back in the
        # stats dict for the caller to unpersist when done.
        sized = sized.persist()
    ok = sized.where(F.col("_bsize") <= bucket_cap).drop("_bsize")
    a = ok.select("band", "sig", F.col(id_col).alias("id_a"))
    b = ok.select("band", "sig", F.col(id_col).alias("id_b"))
    pairs = (a.join(b, ["band", "sig"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b")
             .distinct())
    if not return_stats:
        return pairs
    agg = (sized.groupBy("band", "sig")
           .agg(F.first("_bsize").alias("bsize"))
           .agg(F.count("*").alias("n_buckets"),
                F.sum(F.when(F.col("bsize") > bucket_cap, 1)
                      .otherwise(0)).alias("n_dropped_buckets"),
                F.sum(F.when(F.col("bsize") > bucket_cap,
                             F.col("bsize")).otherwise(0))
                .alias("n_dropped_rows"),
                F.max("bsize").alias("max_bucket"))
           .first())
    return pairs, {"n_buckets": agg["n_buckets"],
                   "n_dropped_buckets": agg["n_dropped_buckets"],
                   "n_dropped_rows": agg["n_dropped_rows"],
                   "max_bucket": agg["max_bucket"],
                   "bucket_cap": bucket_cap,
                   # persisted upstream of the pairs plan — unpersist
                   # after materializing pairs to release the cache
                   "bucket_frame": sized}
