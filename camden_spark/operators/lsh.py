"""LSH banding over MinHash signatures → verified candidate pairs, and the
capped bucket self-join every candidate generator shares.

Spark-first layout (north rule F3): the signature array is split into b bands
of r rows; each band is hashed JVM-side (``xxhash64`` over the slice — a
builtin that accepts array columns, so banding never leaves codegen), exploded
to ``(url, band, band_hash)`` rows, and candidates come from a self-equi-join
on ``(band, band_hash)``.

Skew story (explicit, per the north rule): boilerplate-heavy corpora produce
mega-buckets — a single band key shared by thousands of pages — which would
turn the self-join into an O(group²) hot task.  :func:`capped_bucket_self_join`
therefore (1) counts bucket sizes with one aggregation, (2) DROPS buckets
larger than the caller's cap (surfaced in the returned metrics, never silent —
recall accounting includes them), (3) repartitions on the bucket key before
the join, and (4) leaves AQE skew-join splitting on as the second line of
defense.  The SimHash block join, the substring fingerprint join and both
embedding near-dup joins (operators/ann.py) run through the same function.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from camden_spark.config import DedupConfig
from camden_spark.functions.shingles import jaccard_on_shingles
from camden_spark.plans.caches import materialize_barrier, track_cache


def band_hashes(sig: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, band, band_hash) — one row per (doc, band).

    band_hash = xxhash64(band_index, minhash[band*r : band*r+r]) — computed as
    an array literal of per-band hashes then posexploded (single projection,
    no UDF).
    """
    r = cfg.lsh_rows
    bands = F.array(
        *[
            F.xxhash64(F.lit(i), F.slice("minhash", i * r + 1, r))
            for i in range(cfg.lsh_bands)
        ]
    )
    return sig.select("url", F.posexplode(bands).alias("band", "band_hash"))


def join_partitions(df: DataFrame, configured: int = 0) -> int:
    """Partition count of the keyed exchanges ahead of the candidate and
    verify joins: ``configured`` (``cfg.band_partitions``), or 2x the
    session's defaultParallelism when it is 0."""
    return configured or df.sparkSession.sparkContext.defaultParallelism * 2


def capped_bucket_self_join(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    cap: int,
    unit: str,
    partitions: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Self-join ``rows`` within buckets of equal ``keys``, dropping buckets
    of more than ``cap`` rows (module docstring: skew story).

    Returns the joined frame — sides aliased ``l`` and ``r``, each carrying
    every column of ``rows``, one row per ``l.<id_col> < r.<id_col>`` pair
    per shared bucket — plus a 1-row metrics frame ``(<unit>_total,
    <unit>_dropped, rows_in_dropped_<unit>)``.  Callers select, filter and
    dedupe the joined pairs themselves.  ``partitions``: see
    :func:`join_partitions`.
    """
    # one aggregation computes bucket sizes; buckets of 1 can't produce
    # pairs, buckets above the cap are dropped (boilerplate skew)
    sized = track_cache(
        rows.groupBy(*keys).agg(F.count("*").alias("bucket_size"))
    )  # tiny (one row per distinct bucket); metrics + keep reuse it
    oversize = F.col("bucket_size") > cap
    metrics = sized.agg(
        F.count("*").cast("long").alias(f"{unit}_total"),
        F.sum(oversize.cast("long")).alias(f"{unit}_dropped"),
        F.sum(F.when(oversize, F.col("bucket_size")).otherwise(0))
        .cast("long")
        .alias(f"rows_in_dropped_{unit}"),
    )
    keep = sized.filter((F.col("bucket_size") > 1) & ~oversize).select(*keys)

    # semi-join prunes the rows to joinable buckets, then the self-equi-join
    # runs on an explicit bucket-key repartition: the rows are small in
    # BYTES but the join emits O(bucket²) pairs, so AQE's byte-based
    # coalescing would run it on 1-2 tasks; both sides share the exchange
    # via ReusedExchange
    joinable = rows.join(keep, keys, "left_semi").repartition(
        join_partitions(rows, partitions), *keys
    )
    left, right = joinable.alias("l"), joinable.alias("r")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    on.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    return left.join(right, on=on), metrics


def candidate_pairs_lsh(
    sig: DataFrame, cfg: DedupConfig | None = None
) -> tuple[DataFrame, DataFrame]:
    """LSH candidate pairs (url_a < url_b), plus a 1-row metrics DataFrame
    (bands_total, bands_dropped, rows_in_dropped_bands).

    ``sig`` must carry ``url`` and ``minhash``.
    """
    cfg = cfg or DedupConfig()
    # defense-in-depth: drop sentinel signatures of zero-shingle docs (empty
    # pages must not band together; see jaccard_on_shingles policy).  A real
    # signature collides with the sentinel w.p. 2^-63 per doc.
    from camden_spark.functions.hashing import EMPTY_SIG_SLOT

    sig = sig.filter(F.col("minhash")[0] != F.lit(EMPTY_SIG_SLOT))
    joined, metrics = capped_bucket_self_join(
        band_hashes(sig, cfg),
        ["band", "band_hash"],
        "url",
        cfg.max_band_group,
        "bands",
        cfg.band_partitions,
    )
    pairs = joined.select(
        F.col("l.url").alias("url_a"), F.col("r.url").alias("url_b")
    ).dropDuplicates(["url_a", "url_b"])
    return pairs, metrics


def verify_pairs_jaccard(
    pairs: DataFrame, sig: DataFrame, cfg: DedupConfig | None = None
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against the distinct
    shingle sets — JVM-side array_intersect/array_union, no UDF.

    Callers pass pair-pruned shingles: every row of ``sig`` is materialized
    and shuffled into the joins, so it should hold only urls that appear in
    ``pairs`` (``plans/pipeline.lsh_pairs`` prunes pages before shingling).

    Returns (url_a, url_b, jaccard) for pairs ≥ cfg.jaccard_threshold.
    """
    cfg = cfg or DedupConfig()
    # barrier, not bare lazy reuse: sh is joined TWICE below (side a and
    # side b) and AQE materializes the two join branches as concurrent
    # jobs — cold, they each recompute the shingle subtree (the duplicated
    # ~108 MB Arrow stages measured on the multi-executor scaling legs).
    # sh is pair-pruned, i.e. orders of magnitude smaller than the corpus,
    # which is exactly materialize_barrier's intended size class.
    sh = materialize_barrier(sig.select("url", "shingles"))
    a = sh.select(
        F.col("url").alias("url_a"), F.col("shingles").alias("shingles_a")
    )
    b = sh.select(
        F.col("url").alias("url_b"), F.col("shingles").alias("shingles_b")
    )
    return (
        pairs.join(a, "url_a")
        .join(b, "url_b")
        .withColumn("jaccard", jaccard_on_shingles())
        .filter(F.col("jaccard") >= cfg.jaccard_threshold)
        .select("url_a", "url_b", "jaccard")
    )
