"""End-to-end dedup pipeline (SURVEY §3.4 target lifecycle).

Stage graph (each stage optionally snapshot-checkpointed, F9):

  pages ─ normalize ─┬─ exact:    checksum → window cluster          [stage 1]
                     └─ sig:      shingles + MinHash + SimHash       [stage 2]
                          ├─ lsh_pairs:     band join + Jaccard gate [stage 3]
                          ├─ simhash_pairs: pigeonhole Hamming join  [stage 4]
                          └─ substr_pairs:  winnow join + SA verify  [stage 5]
  exact pairs ∪ near pairs → connected components → clusters         [stage 6]

The exact stage feeds the near stages only through its canonical members:
rows that are byte-identical to a canonical are excluded from shingling (F7,
left_anti) — they inherit the canonical's cluster, so a 10^12-doc corpus with
heavy exact duplication pays near-dup cost only on distinct texts.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from camden_spark.config import DedupConfig
from camden_spark.operators.components import assign_clusters
from camden_spark.operators.exact import exact_dedup_clusters
from camden_spark.operators.lsh import candidate_pairs_lsh, verify_pairs_jaccard
from camden_spark.operators.simhash import candidate_pairs_simhash
from camden_spark.operators.substr import (
    candidate_pairs_substr,
    verify_pairs_substr,
    with_fingerprints,
)
from camden_spark.functions.shingles import with_shingles, with_signatures
from camden_spark.plans.caches import (
    materialize_barrier,
    release_caches,
    track_cache,
    warm_cache,
)
from camden_spark.plans.checkpoint import SnapshotStore
from camden_spark.plans.metrics import StageCounters
from camden_spark.sources.pages import normalize_pages


def _estimated_scan_partitions(df: DataFrame) -> int:
    """Estimated scan-task count for a file-backed frame: Σ ceil(file_bytes /
    maxPartitionBytes) — parquet is splittable, so bytes (not file count)
    decide the fan-out.  Returns -1 when unknown (in-memory source, or files
    we cannot stat, e.g. object-store URIs): callers must then leave the
    source partitioning alone rather than risk a full-corpus shuffle."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return -1
    if not files:
        return -1
    spark = df.sparkSession
    mpb_conf = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    digits = "".join(c for c in mpb_conf if c.isdigit())
    mpb = int(digits) if digits else 134217728
    if mpb_conf.lower().endswith(("k", "kb")):
        mpb <<= 10
    elif mpb_conf.lower().endswith(("m", "mb")):
        mpb <<= 20
    elif mpb_conf.lower().endswith(("g", "gb")):
        mpb <<= 30
    total = 0
    for f in files:
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            return -1  # remote store: trust the scan's own splitting
        path = parsed.path or f
        try:
            size = os.path.getsize(path)
        except OSError:
            return -1
        total += max(1, -(-size // mpb))
    return total


# ---- candidate-stage builders ------------------------------------------
# One definition per stage, shared by DedupPipeline.run and the standalone
# pair queries (entry_queries.q_lsh_pairs / q_simhash_pairs /
# q_substr_pairs).  ``pages`` carries (url, norm_text).


def signatures(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(url, minhash, simhash) for every doc with at least one shingle.

    include_shingles=False keeps the shingle arrays (~60% of the UDF's
    output bytes) off the Arrow wire: struct fields of a UDF result are not
    Catalyst-prunable, and oversized in-flight bursts arm the socket
    flow-control stall (session.py).  Zero-shingle docs (empty or
    whitespace-only after normalization) are excluded from ALL near-dup
    stages: their sentinel signatures would otherwise band every empty page
    together.  They stay singletons unless the exact stage clustered them."""
    return (
        with_signatures(pages, cfg, include_shingles=False)
        .filter(F.col("n_shingles") > 0)
        .select("url", "minhash", "simhash")
    )


def lsh_pairs(
    pages: DataFrame, sig: DataFrame, cfg: DedupConfig
) -> tuple[DataFrame, DataFrame]:
    """Verified MinHash-LSH pairs (url_a, url_b, jaccard), plus
    candidate_pairs_lsh's 1-row metrics frame.

    The candidate set is a HARD materialization barrier: the pair-url
    pruning and the verify join both consume it, and without the barrier
    they race to compute the band-join subtree redundantly (+25% pipeline
    wall at 500k docs).  localCheckpoint, not cache+count — see
    materialize_barrier's docstring for the Spark 4.1 cached-AQE-plan
    re-execution quirk.  Shingle sets are then recomputed for just the
    candidate-pair urls; they are never materialized corpus-wide (they
    dominate memory traffic, and a 10^12-doc corpus could not hold them)."""
    cand, metrics = candidate_pairs_lsh(sig, cfg)
    cand = materialize_barrier(cand)
    pair_urls = (
        cand.select(F.col("url_a").alias("url"))
        .union(cand.select(F.col("url_b").alias("url")))
        .distinct()
    )
    sh = with_shingles(pages.join(pair_urls, "url", "left_semi"), cfg)
    return verify_pairs_jaccard(cand, sh, cfg), metrics


def fingerprints(pages: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Warm-cached (url, fingerprints) winnowing frame.  Warm, not lazily
    cached: candidate_pairs_substr scans it for group sizing and on both
    self-join sides, and cold-cache consumers race to re-run the
    fingerprint UDF (caches.warm_cache docstring)."""
    return warm_cache(
        with_fingerprints(pages, cfg).select("url", "fingerprints")
    )


@dataclass
class PipelineResult:
    clusters: DataFrame          # (url, cluster_id, is_canonical)
    pairs: DataFrame             # union of verified duplicate pairs + source
    metrics: dict = field(default_factory=dict)
    #: Observation-backed row counters (plans/metrics.py); populated after the
    #: clusters/pairs frames are materialized — read via counters.get()
    counters: "StageCounters | None" = None

    def release(self, blocking: bool = False) -> int:
        """Unpersist every operator/pipeline cache registered during run().

        Call ONLY after materializing both ``clusters`` and ``pairs``:
        ``pairs`` (and the internal lsh_pairs set) are barrier-backed
        localCheckpoint frames whose lineage is truncated — after release
        their blocks are gone for good, so consuming them again fails with
        checkpoint-block-not-found rather than recomputing.  Plain tracked
        caches, by contrast, merely recompute.  Returns the number of
        frames/callbacks released."""
        return release_caches(blocking)


@dataclass
class DedupPipeline:
    cfg: DedupConfig = field(default_factory=DedupConfig)
    checkpoint_dir: str | None = None
    #: eagerly collect per-stage skew metrics (one extra tiny action per
    #: stage); disable in latency-sensitive benchmark runs
    collect_metrics: bool = True
    #: snapshot commit protocol: "rename" (POSIX fs) or "manifest"
    #: (object-store-safe single-file commit) — see plans/checkpoint.py
    checkpoint_commit_mode: str = "rename"

    def _store(self, pages: DataFrame) -> SnapshotStore | None:
        if self.checkpoint_dir is None:
            return None
        from camden_spark.plans.checkpoint import input_identity

        return SnapshotStore(
            self.checkpoint_dir,
            self.cfg.config_hash(),
            input_id=input_identity(pages),
            commit_mode=self.checkpoint_commit_mode,
        )

    def run(self, pages: DataFrame) -> PipelineResult:
        cfg = self.cfg
        spark = pages.sparkSession
        store = self._store(pages)
        metrics: dict = {}

        def staged(name: str, build, upstream: list[str]) -> DataFrame:
            if store is not None:
                df = store.stage(spark, name, build, upstream=upstream)
                metrics[f"stage.{name}.rows"] = store.lineage[name]["rows"]
                return df
            return build()

        # Column-prune FIRST: only (url, warc_ts, text) ever leave the scan —
        # `html` must not ride through the repartition shuffle or the cache.
        base = pages.select("url", "warc_ts", "text")
        if cfg.canonicalize_urls:
            # crawl-duplicate key collapsing (functions/web.py): a url that
            # canonicalizes identically IS the same page key, so downstream
            # first-wins picks one row per canonical key via the usual
            # deterministic (url, warc_ts) ordering.  Opt-in: it changes the
            # url key space, hence cluster assignments (config-hashed).
            from camden_spark.functions.web import canonicalize_url

            base = base.withColumn("url", canonicalize_url(F.col("url")))
        # Spread the input across the cluster when it arrives under-split
        # (a tiny/unsplittable input would run every Arrow UDF on a handful
        # of cores).  Estimated from file BYTES vs maxPartitionBytes — file
        # COUNT is wrong (one 1 GB parquet splits into ~70 scan tasks and
        # must NOT be re-shuffled) and .rdd would materialize the plan.
        # In-memory frames / non-stattable stores keep source parallelism.
        if 0 < _estimated_scan_partitions(pages) < max(
            2, cfg.shuffle_partitions // 2
        ):
            base = base.repartition(cfg.shuffle_partitions)
        # one scan computes the exact-dup checksum AND the normalized text,
        # then the raw text (and html) are dropped — the cached working set
        # carries exactly what downstream stages read
        from camden_spark.operators.exact import with_checksum

        # warm_cache (not bare track_cache): these frames are scanned by
        # MULTIPLE branches of the downstream mega-query, and AQE
        # materializes those branches as concurrent jobs — on a
        # multi-executor fleet, cold-cache branches race and each
        # recomputes the full upstream (caches.warm_cache docstring; the
        # duplicated Arrow stages measured on the N→4N legs).  Populating
        # here serializes exactly one computation per frame.  norm itself
        # needs no SEPARATE warming action: exact's warm count scans norm
        # through its cache and populates it in the same job (one fewer
        # count barrier per run — VERDICT r6 ask #3).
        norm = track_cache(
            normalize_pages(
                with_checksum(base, cfg), cfg.lowercase, cfg.collapse_whitespace
            ).select("url", "warc_ts", "checksum", "norm_text")
        )

        # ---- stage 1: exact (camden semantics) -------------------------
        exact = warm_cache(
            staged(
                "exact",
                lambda: exact_dedup_clusters(norm, cfg),
                upstream=[],
            )
        )

        # exact-dup pairs: every non-canonical pairs with its canonical
        canon = exact.filter(F.col("rn") == 1).select(
            F.col("checksum"), F.col("url").alias("canon_url")
        )
        exact_pairs = (
            exact.filter(F.col("rn") > 1)
            .select("checksum", "url")
            .join(canon, "checksum")
            .select(
                F.least("canon_url", "url").alias("url_a"),
                F.greatest("canon_url", "url").alias("url_b"),
                F.lit("exact").alias("source"),
            )
        )

        # near stages run on distinct texts only (canonicals + singletons).
        # Derived from the cached `norm` (no second full-width cache): the
        # semi join broadcasts the url set.
        distinct_pages = norm.select("url", "norm_text").join(
            exact.filter(F.col("is_canonical")).select("url"), "url", "left_semi"
        )

        # warm, for the same concurrent-branch reason as norm/exact:
        # candidate_pairs_lsh's band-size-count and band-join branches both
        # scan sig, and simhash scans it again
        sig = warm_cache(
            staged(
                "signatures",
                lambda: signatures(distinct_pages, cfg),
                upstream=["exact"],
            )
        )

        def build_lsh() -> DataFrame:
            pairs, m = lsh_pairs(distinct_pages, sig, cfg)
            if self.collect_metrics:
                metrics["lsh"] = m.first().asDict()
            return pairs

        def _lsh_branch() -> DataFrame:
            lp = staged("lsh_pairs", build_lsh, upstream=["signatures"])
            if store is None:
                # The verified LSH pair set feeds TWO consumers (the pair
                # union AND substr's anti-join); without a barrier both
                # subtrees compute the Jaccard-verify join (re-shingle +
                # join) redundantly, and cache() does not stop that (the
                # materialize_barrier docstring quirk).  With a store the
                # staged() parquet snapshot already is the barrier.
                lp = materialize_barrier(lp)
            return lp

        def build_simhash() -> DataFrame:
            pairs, m = candidate_pairs_simhash(sig, cfg)
            if self.collect_metrics:
                metrics["simhash"] = m.first().asDict()
            return pairs

        def _simhash_branch() -> DataFrame:
            sp = staged(
                "simhash_pairs", build_simhash, upstream=["signatures"]
            )
            if store is None:
                # eager barrier (small pair set) so the branch MATERIALIZES
                # here — the point of running it on a thread is overlapping
                # its stages with the LSH branch's driver-planning gaps
                sp = materialize_barrier(sp)
            return sp

        fp_pre = None
        if store is None:
            # Overlap the independent candidate branches from driver
            # threads: each branch's actions leave executors idle during
            # its own driver/AQE planning gaps (~20 s per pipeline run,
            # measured in BENCH/BASELINE.md round-6) and its sub-core-count
            # stage tails — a concurrent sibling fills both.  Safe because
            # every shared input (norm/exact/sig) is warm-cached ABOVE, so
            # threads read populated blocks instead of racing to compute
            # them (caches.warm_cache docstring).  Concurrent
            # materialize_barrier bookkeeping may cross-attribute created
            # RDD ids between branches; harmless — release callbacks fire
            # in bulk and unpersist is idempotent.  The checkpoint-store
            # path stays sequential: staged() snapshot commits define
            # resume lineage order.  Branch targets inherit this thread's
            # local properties (job group, description), so profiling tools
            # attribute branch jobs to the caller's query.
            from concurrent.futures import ThreadPoolExecutor

            from pyspark import inheritable_thread_target

            inherit = inheritable_thread_target(spark)
            with ThreadPoolExecutor(max_workers=3) as pool:
                futs = {
                    "lsh": pool.submit(inherit(_lsh_branch)),
                    "simhash": pool.submit(inherit(_simhash_branch)),
                    "fp": pool.submit(inherit(fingerprints), distinct_pages, cfg),
                }
                # retrieve EVERY branch's outcome before raising: a fixed
                # await order would drop sibling exceptions on a
                # multi-branch failure and report only one cause
                results: dict[str, DataFrame] = {}
                errors: dict[str, Exception] = {}
                for name, fut in futs.items():
                    try:
                        results[name] = fut.result()
                    except Exception as exc:  # noqa: BLE001 - aggregated below
                        errors[name] = exc
                if errors:
                    detail = "; ".join(
                        f"{n}: {type(e).__name__}: {str(e)[:300]}"
                        for n, e in errors.items()
                    )
                    first = next(iter(errors.values()))
                    raise RuntimeError(
                        f"candidate branch(es) failed [{detail}]"
                    ) from first
                lsh_out = results["lsh"]
                sim_out = results["simhash"]
                fp_pre = results["fp"]
        else:
            lsh_out = _lsh_branch()
            sim_out = _simhash_branch()
            # store path: fp is built inside build_substr so a resumed
            # substr snapshot never computes fingerprints it won't use

        def build_substr() -> DataFrame:
            fp = fp_pre if fp_pre is not None else fingerprints(distinct_pages, cfg)
            cand, m = candidate_pairs_substr(fp, cfg)
            if self.collect_metrics:
                metrics["substr"] = m.first().asDict()
            # pairs already confirmed by LSH join the same CC component —
            # skip their (expensive) suffix-array verification
            cand = cand.join(
                lsh_out.select("url_a", "url_b"), ["url_a", "url_b"], "left_anti"
            )
            return verify_pairs_substr(cand, distinct_pages, cfg)

        sub_pairs = staged("substr_pairs", build_substr, upstream=["exact"])

        # ---- union (F8) + connected components (F6) --------------------
        counters = StageCounters()
        all_pairs = exact_pairs
        for pf, source in (
            (lsh_out, "minhash_lsh"),
            (sim_out, "simhash"),
            (sub_pairs, "substr"),
        ):
            all_pairs = all_pairs.unionByName(
                pf.select("url_a", "url_b", F.lit(source).alias("source"))
            )
        # materialize the final pair set ONCE: CC consumes it through its
        # edge truncation and callers force PipelineResult.pairs afterwards —
        # with a plain cache() both re-ran every verify stage per action
        # (materialize_barrier docstring).  Small frame (url pairs + source).
        all_pairs = counters.observe_rows(
            materialize_barrier(all_pairs.dropDuplicates(["url_a", "url_b"])),
            "pairs_total",
        )

        def build_clusters() -> DataFrame:
            cc_status: dict = {}
            # with a checkpoint dir configured, CC's per-round state uses
            # the RELIABLE parquet path (survives executor loss) instead of
            # memory-backed localCheckpoint — same store, run-scoped scratch
            cc_ckpt = (
                os.path.join(
                    self.checkpoint_dir, cfg.config_hash(), "cc_scratch"
                )
                if self.checkpoint_dir is not None
                else None
            )
            out = assign_clusters(
                norm.select("url"),
                all_pairs.select("url_a", "url_b"),
                cfg,
                status=cc_status,
                checkpoint_dir=cc_ckpt,
            )
            metrics["cc"] = cc_status
            return out

        clusters = counters.observe_rows(
            staged(
                "clusters",
                build_clusters,
                upstream=["exact", "lsh_pairs", "simhash_pairs", "substr_pairs"],
            ),
            "clusters_total",
        )
        return PipelineResult(
            clusters=clusters, pairs=all_pairs, metrics=metrics, counters=counters
        )
