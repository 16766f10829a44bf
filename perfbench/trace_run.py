"""Traced run of the dedup benchmark: the per-layer metrics.

Separate from the timed runs, so the end-to-end numbers carry no tracing.
One traced run, in one fresh process with Spark event logging on:

1. Pipeline pass A, cold: ``DedupPipeline.run`` exactly as a timed run does.
   Its event-log window gives the ``pipeline.*`` metrics (every job, branch
   threads included), the codegen counters give its compiles, samplers give
   its cache storage peak and the process tree's peak RSS, and ``release``
   then frees the caches.
2. On ``revision_chains`` only: a pass with a checkpoint store (sequential
   branches, parquet snapshots, parquet-backed CC iterations), then a
   resume pass on the completed store, for the ``checkpoint.*`` metrics.
3. Staged decomposition: each layer's public function called in pipeline
   order, its output forced and cached, inside a span and a Spark job group
   of its own, so a span covers only that layer's work.  Its clusters must
   reproduce pass A's checksum.
4. The signature kernels called directly on the same distinct texts.

Spans stay in memory and are written to stderr when the run ends.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from measure import PeakSampler, Spans, covered, tree_rss_bytes
from run import (
    WORK, configure_env, cores, load_pins, output_of, prepare_inputs, run_pass,
)
from workloads import WORKLOADS

#: Arrow batch the signature UDF sees (session.py default maxRecordsPerBatch)
KERNEL_BATCH = 512


# ---------------------------------------------------------------- event log

def read_event_log(ev_dir: str) -> dict:
    """Jobs, stages and tasks from the session's event log, read through
    the repository's one event-log reader (zstd and rolled logs)."""
    from tools.scaling_decompose import load_events

    jobs: dict[int, dict] = {}
    stages: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for ev in load_events(ev_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev.get("Submission Time"), "end": None,
                "stages": ev.get("Stage IDs", []),
                "group": props.get("spark.jobGroup.id"),
            }
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                stages[si["Stage ID"]] = (si["Submission Time"], si["Completion Time"])
        elif kind == "SparkListenerTaskEnd":
            info, m = ev.get("Task Info") or {}, ev.get("Task Metrics") or {}
            tasks[ev["Stage ID"]].append({
                "busy_ms": max((info.get("Finish Time") or 0) - (info.get("Launch Time") or 0), 0),
                "run_ms": m.get("Executor Run Time", 0) or 0,
                "gc_ms": m.get("JVM GC Time", 0) or 0,
                "spill": m.get("Disk Bytes Spilled", 0) or 0,
                "shuffle_w": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) or 0,
            })
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def job_metrics(log: dict, job_ids: list[int]) -> dict:
    """Counts and times over the given jobs' executed stages and tasks."""
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"]
                 if s in log["stages"]}
    ts = [t for s in stage_ids for t in log["tasks"][s]]
    return {
        "jobs": len(job_ids),
        "stages": len(stage_ids),
        "tasks": len(ts),
        "task_s": sum(t["run_ms"] for t in ts) / 1e3,
        "busy_s": sum(t["busy_ms"] for t in ts) / 1e3,
        "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        "spill_bytes": sum(t["spill"] for t in ts),
        "shuffle_write_bytes": sum(t["shuffle_w"] for t in ts),
        "job_cover_s": covered([(log["jobs"][j]["start"], log["jobs"][j]["end"])
                                 for j in job_ids if log["jobs"][j]["end"]]) / 1e3,
        "stage_cover_s": covered([log["stages"][s] for s in stage_ids]) / 1e3,
    }


def window_jobs(log: dict, t0_ms: float, t1_ms: float) -> list[int]:
    return [j for j, v in log["jobs"].items() if t0_ms <= v["start"] <= t1_ms]


def group_jobs(log: dict, group: str) -> list[int]:
    return [j for j, v in log["jobs"].items() if v["group"] == group]


# ------------------------------------------------------------------ helpers

def codegen_counters(spark) -> tuple[int, float]:
    """(compiles, compile seconds) so far in this JVM, from Spark's
    CodegenMetrics histogram (sum of its samples, scaled to the count when
    the reservoir holds fewer samples than compiles)."""
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    values = list(hist.getSnapshot().getValues())
    ms = sum(values) * (n / len(values)) if values else 0.0
    return n, ms / 1e3


def storage_bytes(spark) -> int:
    return sum(i.memSize() + i.diskSize()
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def dir_bytes(path: str, skip: str | None = None) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        if skip in dirs:
            dirs.remove(skip)
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def manifests(store: str) -> dict[str, float]:
    """stage → written_at of every committed snapshot in a store."""
    out = {}
    for root, _dirs, files in os.walk(store):
        if "_MANIFEST.json" in files:
            with open(os.path.join(root, "_MANIFEST.json")) as f:
                m = json.load(f)
            out[m["stage"]] = m["written_at"]
    return out


# -------------------------------------------------------- staged decomposition

def staged_decomposition(spark, pages_dir: str, spans: Spans) -> tuple[dict, tuple, list[str]]:
    """Pipeline order, one layer per span and job group; each span keeps its
    layer's counts.  Returns (counts, (rows, pairs, checksum), distinct
    normalized texts)."""
    import pyspark.sql.functions as F

    from camden_spark.entry_queries import CFG as cfg
    from camden_spark.functions.shingles import with_shingles, with_signatures
    from camden_spark.operators.components import assign_clusters
    from camden_spark.operators.exact import exact_dedup_clusters, with_checksum
    from camden_spark.operators.lsh import candidate_pairs_lsh, verify_pairs_jaccard
    from camden_spark.operators.simhash import candidate_pairs_simhash
    from camden_spark.operators.substr import (
        candidate_pairs_substr, verify_pairs_substr, with_fingerprints,
    )
    from camden_spark.plans.caches import materialize_barrier, track_cache, warm_cache
    from camden_spark.sources.pages import load_pages, normalize_pages

    sc = spark.sparkContext

    @contextmanager
    def layer(name: str):
        sc.setJobGroup(name, name)
        try:
            with spans.span(name) as s:
                yield s
        finally:
            sc.setJobGroup("trace.counts", "trace.counts")

    with layer("sources") as sp_sources:
        # the pipeline spreads a one-file input over shuffle_partitions too
        base = load_pages(spark, pages_dir).select("url", "warc_ts", "text")
        norm = track_cache(normalize_pages(
            with_checksum(base.repartition(cfg.shuffle_partitions), cfg),
            cfg.lowercase, cfg.collapse_whitespace,
        ).select("url", "warc_ts", "checksum", "norm_text"))
        sp_sources.counts["sources.rows"] = norm.count()
    with layer("exact") as sp_exact:
        exact = warm_cache(exact_dedup_clusters(norm, cfg))
    sp_exact.counts["exact.dup_rows"] = exact.filter(F.col("rn") > 1).count()
    sp_exact.counts["exact.distinct_rows"] = exact.filter(F.col("is_canonical")).count()
    canon = exact.filter(F.col("rn") == 1).select(
        "checksum", F.col("url").alias("canon_url"))
    exact_pairs = exact.filter(F.col("rn") > 1).select("checksum", "url").join(
        canon, "checksum").select(
        F.least("canon_url", "url").alias("url_a"),
        F.greatest("canon_url", "url").alias("url_b"),
    )
    distinct_pages = norm.select("url", "norm_text").join(
        exact.filter(F.col("is_canonical")).select("url"), "url", "left_semi")

    with layer("shingles") as sp_shingles:
        sig = warm_cache(
            with_signatures(distinct_pages, cfg, include_shingles=False)
            .filter(F.col("n_shingles") > 0).select("url", "minhash", "simhash"))
    sp_shingles.counts["shingles.docs"] = sig.count()

    with layer("lsh.candidates") as sp_lsh_candidates:
        cand, lsh_m = candidate_pairs_lsh(sig, cfg)
        cand = materialize_barrier(cand)
    sp_lsh_candidates.counts["lsh.candidates"] = cand.count()
    sp_lsh_candidates.counts["lsh.bands_dropped"] = lsh_m.first()["bands_dropped"] or 0
    with layer("lsh.verify") as sp_lsh_verify:
        pair_urls = cand.select(F.col("url_a").alias("url")).union(
            cand.select(F.col("url_b").alias("url"))).distinct()
        sh = with_shingles(distinct_pages.join(pair_urls, "url", "left_semi"), cfg)
        lsh_pairs = materialize_barrier(verify_pairs_jaccard(cand, sh, cfg))
    sp_lsh_verify.counts["lsh.verified"] = lsh_pairs.count()

    with layer("simhash") as sp_simhash:
        sim, sim_m = candidate_pairs_simhash(sig, cfg)
        sim = materialize_barrier(sim)
    sp_simhash.counts["simhash.pairs"] = sim.count()
    sp_simhash.counts["simhash.blocks_dropped"] = sim_m.first()["blocks_dropped"] or 0

    with layer("substr.fingerprint") as sp_substr_fingerprint:
        fp = warm_cache(with_fingerprints(distinct_pages, cfg).select("url", "fingerprints"))
    with layer("substr.candidates") as sp_substr_candidates:
        scand, sub_m = candidate_pairs_substr(fp, cfg)
        # as in the pipeline: pairs LSH already verified skip this verify
        scand = materialize_barrier(scand.join(
            lsh_pairs.select("url_a", "url_b"), ["url_a", "url_b"], "left_anti"))
    sp_substr_candidates.counts["substr.candidates"] = scand.count()
    sp_substr_candidates.counts["substr.groups_dropped"] = sub_m.first()["fingerprints_dropped"] or 0
    with layer("substr.verify") as sp_substr_verify:
        sub_pairs = materialize_barrier(verify_pairs_substr(scand, distinct_pages, cfg))
    sp_substr_verify.counts["substr.verified"] = sub_pairs.count()

    with layer("pairs") as sp_pairs:
        edges = exact_pairs
        for pf in (lsh_pairs, sim, sub_pairs):
            edges = edges.unionByName(pf.select("url_a", "url_b"))
        edges = materialize_barrier(edges.dropDuplicates(["url_a", "url_b"]))
    sp_pairs.counts["components.edges"] = edges.count()
    sp_pairs.counts["components.nodes"] = edges.select(F.col("url_a").alias("u")).union(
        edges.select(F.col("url_b").alias("u"))).distinct().count()
    status: dict = {}
    with layer("components") as sp_components:
        clusters = assign_clusters(norm.select("url"), edges, cfg, status=status)
        out = output_of(clusters, edges)
    sp_components.counts["components.iterations"] = status["iterations"]
    texts = [r["norm_text"] for r in distinct_pages.collect()]
    counts = {k: v for sp in spans.spans for k, v in sp.counts.items()}
    return counts, out, texts


def kernel_seconds(texts: list[str]) -> float:
    """Time of the signature UDF's numpy kernels on the texts, run in this
    process in the UDF's Arrow batch size."""
    import numpy as np
    import pandas as pd

    from camden_spark.entry_queries import CFG as cfg
    from camden_spark.functions.hashing import (
        batch_shingle_hashes, minhash_flat, simhash_flat,
    )

    total = 0.0
    for i in range(0, len(texts), KERNEL_BATCH):
        batch = pd.Series(texts[i:i + KERNEL_BATCH])
        t0 = time.perf_counter()
        flat, counts = batch_shingle_hashes(batch, cfg.shingle_k)
        minhash_flat(flat, counts, cfg.minhash_perms, cfg.minhash_seed).view(np.int64)
        simhash_flat(flat, counts).view(np.int64)
        total += time.perf_counter() - t0
    return total


# ---------------------------------------------------------------- the run

def unit_of(metric: str) -> str:
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_s", ".s", "_per_iteration")):
        return "s"
    if "bytes" in metric:
        return "bytes"
    return "ratio" if metric.endswith("_yield") else "count"


def traced_run(workload: str, seed: int) -> dict:
    from camden_spark.plans.caches import release_caches
    from camden_spark.session import get_spark, warm_python_workers

    wl = WORKLOADS[workload]
    pages_dir, _docs, _truth = prepare_inputs(workload, seed)
    pin, _ = load_pins(workload, seed)
    ev_dir = os.path.join(WORK, "eventlog")
    extra_conf = configure_env(ev_dir)
    spans = Spans(run_id=f"{workload}-{seed}")
    m: dict[str, float] = {}
    checks: dict[str, bool] = {}

    # peak RSS of the process tree over set-up and the cold pass, the scope
    # of a timed run; the JVM's heap growth makes it vary too much between
    # runs to gate on, so it is a traced metric
    with PeakSampler(tree_rss_bytes) as rss:
        with spans.span("session.get_spark"):
            spark = get_spark(cores=cores(), extra_conf=extra_conf)
            spark.range(1).count()
        with spans.span("session.warm_workers"):
            warm_python_workers(spark)
        try:
            n0, s0 = codegen_counters(spark)
            t0 = time.time()
            with PeakSampler(lambda: storage_bytes(spark)) as peak:
                res, out_a, wall_a = run_pass(spark, pages_dir, None)
            window_ms = (t0 * 1e3, time.time() * 1e3)
            n1, s1 = codegen_counters(spark)
            m["pipeline.cold_traced_s"] = wall_a
            m["pipeline.codegen_compiles"] = n1 - n0
            m["pipeline.codegen_compile_s"] = s1 - s0
            m["caches.storage_peak_bytes"] = peak.peak
            m["caches.released"] = res.release(blocking=True)
            m["caches.blocks_after_release"] = persistent_rdds(spark)
            checks["cold_pass_matches_pin"] = pin is None or out_a == pin
            checks["no_blocks_after_release"] = m["caches.blocks_after_release"] == 0
            m["process.peak_rss_mb"] = rss.peak / 2**20

            m.update({f"checkpoint.{k}": 0 for k in (
                "store_pass_s", "stages_written", "bytes_written", "cc_scratch_bytes",
                "resume_s", "stages_recomputed_on_resume")})
            if wl.trace_store:
                store = os.path.join(WORK, "store")
                res, out_st, m["checkpoint.store_pass_s"] = run_pass(spark, pages_dir, store)
                res.release(blocking=True)
                written = manifests(store)
                m["checkpoint.stages_written"] = len(written)
                m["checkpoint.bytes_written"] = dir_bytes(store, skip="cc_scratch")
                m["checkpoint.cc_scratch_bytes"] = dir_bytes(store) - m["checkpoint.bytes_written"]
                res, out_r, m["checkpoint.resume_s"] = run_pass(spark, pages_dir, store)
                res.release(blocking=True)
                after = manifests(store)
                m["checkpoint.stages_recomputed_on_resume"] = sum(
                    after.get(k) != v for k, v in written.items()) + len(after.keys() - written.keys())
                checks["store_pass_matches_cold"] = out_st == out_a
                checks["resume_matches_cold"] = out_r == out_a
                checks["resume_recomputes_nothing"] = m["checkpoint.stages_recomputed_on_resume"] == 0

            counts, out_s, texts = staged_decomposition(spark, pages_dir, spans)
            checks["staged_matches_pipeline"] = out_s == out_a
            release_caches(blocking=True)
            m["hashing.kernel_s"] = kernel_seconds(texts)
        finally:
            spark.stop()

    log = read_event_log(ev_dir)
    cold = job_metrics(log, window_jobs(log, *window_ms))
    m.update({
        "pipeline.jobs": cold["jobs"],
        "pipeline.stages": cold["stages"],
        "pipeline.tasks": cold["tasks"],
        "pipeline.task_s": cold["task_s"],
        "pipeline.driver_gap_s": (window_ms[1] - window_ms[0]) / 1e3 - cold["job_cover_s"],
        "pipeline.tail_idle_core_s": cold["stage_cover_s"] * cores() - cold["busy_s"],
        "pipeline.shuffle_write_bytes": cold["shuffle_write_bytes"],
        "pipeline.spill_bytes": cold["spill_bytes"],
        "pipeline.gc_s": cold["gc_s"],
    })
    dur = {s.name: s.duration for s in spans.spans}
    m.update(counts)
    m.update({
        "session.get_spark_s": dur["session.get_spark"],
        "session.warm_workers_s": dur["session.warm_workers"],
        "sources.scan_s": dur["sources"],
        "exact.s": dur["exact"],
        "shingles.s": dur["shingles"],
        "shingles.task_s": job_metrics(log, group_jobs(log, "shingles"))["task_s"],
        "lsh.candidates_s": dur["lsh.candidates"],
        "lsh.verify_s": dur["lsh.verify"],
        "simhash.s": dur["simhash"],
        "substr.fingerprint_s": dur["substr.fingerprint"],
        "substr.candidates_s": dur["substr.candidates"],
        "substr.verify_s": dur["substr.verify"],
        "components.s": dur["components"],
        "components.jobs": len(group_jobs(log, "components")),
    })
    m["shingles.boundary_s"] = m["shingles.task_s"] - m["hashing.kernel_s"]
    m["lsh.verify_yield"] = m["lsh.verified"] / max(m["lsh.candidates"], 1)
    m["substr.verify_yield"] = m["substr.verified"] / max(m["substr.candidates"], 1)
    m["components.s_per_iteration"] = m["components.s"] / max(m["components.iterations"], 1)
    staged_layers = [s for s in spans.spans
                     if s.parent is None and not s.name.startswith("session.")]
    m["pipeline.overlap_s"] = sum(s.duration for s in staged_layers) - wall_a

    print(json.dumps({"spans": spans.as_records(), "checks": checks,
                      "output": out_a}), file=sys.stderr)
    failed = [k for k, ok in checks.items() if not ok]
    for k in failed:
        print(f"perfbench: trace self-check failed: {k}", file=sys.stderr)
    return {
        "correct": not failed,
        "attempted": len(checks),
        "failed": len(failed),
        "metrics": {
            k: {"value": v, "unit": unit_of(k)} for k, v in sorted(m.items())
        },
    }
