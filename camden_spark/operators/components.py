"""Connected components over candidate pairs (north rule F6).

Union-find CONTRACTION, after BTS (load-balanced distributed union-find,
ICDE 2024).  Every round splits its edges into ``k = ceil(edges /
EDGES_PER_TASK)`` partitions, so no task holds more than about
``EDGES_PER_TASK`` edges, and each partition runs a numpy union-find
(:func:`_min_roots`) in ``mapInPandas``, emitting ``(url, local_root)`` for
every url it holds.  A url held by several partitions links their local
roots: ``groupBy(url)`` → its lowest-ranked root + ``collect_set`` of roots,
exploded into a star of root edges, is the next round's (contracted) graph.
The next round partitions those edges by the url that made them, so each
url's star is merged in one task.  The round whose edges fit ONE partition
sees every remaining edge, so its roots are final.

Roots are ranked by ``(hash(url), url)``, not by url: along a chain whose
urls sort in order (successive revisions of a page) a url-ranked root would
move one node per round.  Hash ranks make roots random along any chain, so a
round removes a constant share of its nodes instead of one.  Termination
needs no cap and no convergence test: a component's highest-ranked node is
never a local root, so every round loses at least one node per component,
and the loop ends once the remaining edges fit one task (or none remain).
Any edge set of at most ``EDGES_PER_TASK`` edges (the benchmark workloads
and sf0.1 included) takes one round, whatever the graph's diameter.
``status["rounds"]`` records each round's partitions, edges and widest task.

Each url's cluster is found by composing the per-round ``url → root`` maps
from the last round back to the first, then taking the minimum url of each
final root's members.  cluster_id is therefore the component's minimum url,
the deterministic first-wins canonical member (camden keeps element 0 of
each group, reference src/operations.rs:50 — ours is the lexicographic
minimum, deterministic under any parallelism).  A round's edges are derived
from the previous round's output by aggregation, never by joining that
output with itself, so Catalyst's size estimate grows with the round count
instead of compounding.

Lineage is truncated after the input edges and after every round, in one of
two modes:

* default: ``localCheckpoint`` — executor-MEMORY-backed.  Fast, but on a
  real cluster one executor loss mid-CC kills the job with no resume (the
  blocks are not replicated to disk).
* ``checkpoint_dir=...`` — RELIABLE: the edges and each round's labels are
  written to (and re-read from) parquet under the given directory, which may
  be any Hadoop-visible store (HDFS/S3/GCS).  Executor loss now costs one
  task retry, not the job; this is the 100×-scale mode, the analog of the F9
  snapshot store for the iterative stage (the reference's non-resumable move
  stage, src/operations.rs:52-55, is the failure mode both exist to fix).
"""

from __future__ import annotations

import math
import os
from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from camden_spark.config import DedupConfig
from camden_spark.plans.caches import persistent_rdd_ids, release_blocks_since

#: edges one union-find task is sized for; sets every round's partition
#: count (module-level so tests can force the multi-round regime).  A task
#: costs about 10 µs and 170 bytes per edge on one Xeon core, so 500,000
#: edges is ~5 s and ~85 MB (BENCH/cc_rounds.json, ``kernel`` rows)
EDGES_PER_TASK = 500_000


def _min_roots(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Union-find over node codes ``0..n-1`` and edges ``(a[i], b[i])``:
    returns ``parent`` with ``parent[x]`` the smallest code in x's component.

    Vectorized hook-and-compress: each pass hooks every root to the smallest
    root it shares an edge with, then pointer-jumps until every node points
    at a root.  ``parent[x] <= x`` throughout and a hook only joins roots of
    one component, so a component's smallest code is its root."""
    parent = np.arange(n)
    while True:
        ra, rb = parent[a], parent[b]
        if np.array_equal(ra, rb):
            return parent
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def _local_roots(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: the whole partition's edges → one row per url with
    its local root, the root's rank hash and the partition's edge count."""
    edges = [b for b in batches if len(b)]
    if not edges:
        return
    pdf = pd.concat(edges, ignore_index=True)
    m = len(pdf)
    urls, codes = np.unique(
        np.concatenate([pdf["url_a"].to_numpy(), pdf["url_b"].to_numpy()]),
        return_inverse=True,
    )
    h = pd.util.hash_array(urls).view(np.int64)
    order = np.lexsort((np.arange(len(urls)), h))  # rank → code
    rank = np.empty_like(order)
    rank[order] = np.arange(len(urls))
    root = order[_min_roots(rank[codes[:m]], rank[codes[m:]], len(urls))[rank]]
    yield pd.DataFrame({"url": urls, "root": urls[root], "root_h": h[root], "n": m})


def connected_components(
    edges: DataFrame,
    cfg: DedupConfig | None = None,
    status: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """edges(url_a, url_b) → (url, cluster_id) for every node in an edge.

    cluster_id is the min url of the component.  Nodes not in any edge are
    absent (callers union singletons back with cluster_id = own url).
    ``cfg`` is accepted for signature stability; no field of it applies.

    Pass ``status`` (a dict) to receive ``{"iterations": int, "checkpoint":
    "local"|"reliable", "rounds": [{"partitions", "edges", "widest_task"}]}``;
    iterations is the contraction round count (≥ 1) and ``widest_task`` the
    largest edge count one union-find task of that round held.

    ``checkpoint_dir``: when set, the edges and each round's labels are
    persisted as parquet under this directory (``cc_edges``, ``cc_iter_<r>``)
    instead of memory-backed ``localCheckpoint`` — survives executor loss
    (see module docstring).  The directory is run-scoped scratch; the
    returned frame reads every round's labels, so it must outlive the
    result's consumers.
    """
    spark = edges.sparkSession

    # localCheckpoint-mode block bookkeeping (cache-hygiene, VERDICT r2 #7):
    # each eager localCheckpoint leaves executor-storage blocks that
    # DataFrame.unpersist cannot reach (the storage belongs to the internal
    # checkpointed RDD, and its lineage is truncated).  ONE diff of the
    # session's persistent-RDD map around the whole CC run records every
    # block it created; freeing is deferred entirely to the session cache
    # registry (release_caches, once consumers are done with the returned
    # frame).
    before_cc = persistent_rdd_ids(spark) if checkpoint_dir is None else set()

    def truncate(df: DataFrame, name: str) -> DataFrame:
        """Materialize + truncate lineage."""
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = os.path.join(checkpoint_dir, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    round_edges = truncate(edges.select("url_a", "url_b"), "cc_edges")
    n_edges = round_edges.count()
    keys = ["url_a", "url_b"]
    rounds: list[DataFrame] = []
    log: list[dict] = []
    while True:
        k = max(1, math.ceil(n_edges / EDGES_PER_TASK))
        local = (
            round_edges.repartition(k, *keys)
            .select("url_a", "url_b")
            .mapInPandas(_local_roots, "url string, root string, root_h long, n long")
        )
        name = f"cc_iter_{len(rounds) + 1}"
        if k == 1:
            rounds.append(truncate(local.select("url", "root"), name))
            log.append({"partitions": 1, "edges": n_edges, "widest_task": n_edges})
            break
        # a url held by several partitions links their roots; its
        # lowest-ranked root is its label
        labels = truncate(
            local.groupBy("url").agg(
                F.min(F.struct("root_h", "root"))["root"].alias("root"),
                F.collect_set("root").alias("roots"),
                F.max("n").alias("n"),
            ),
            name,
        )
        rounds.append(labels)
        next_edges, widest = labels.agg(
            F.sum(F.size("roots") - 1), F.max("n")
        ).first()
        log.append({"partitions": k, "edges": n_edges, "widest_task": widest})
        if not next_edges:  # every component closed inside one task
            break
        round_edges = labels.select(
            "url", F.col("root").alias("url_a"), F.explode("roots").alias("url_b")
        ).filter(F.col("url_a") != F.col("url_b"))
        keys = ["url"]
        n_edges = next_edges
    if status is not None:
        status["iterations"] = len(rounds)
        status["rounds"] = log
        status["checkpoint"] = (
            "local" if checkpoint_dir is None else "reliable"
        )
    if checkpoint_dir is None:
        release_blocks_since(spark, before_cc)
    # compose the url → root maps, last round first.  The next round's
    # (root, final) rows ride a union keyed by root and reach each url
    # through a window max, not a join: a join's size estimate is the
    # PRODUCT of its inputs', a union's their sum.  A root absent from the
    # next round had no link to another root, so it is already final.
    null = F.lit(None).cast("string")
    final = F.max("final").over(Window.partitionBy("root"))
    clusters = rounds[-1]
    for labels in reversed(rounds[:-1]):
        nxt = clusters.select(
            null.alias("url"), F.col("url").alias("root"), F.col("root").alias("final")
        )
        clusters = (
            labels.select("url", "root", null.alias("final"))
            .unionByName(nxt)
            .select("url", F.coalesce(final, "root").alias("root"))
            .filter(F.col("url").isNotNull())
        )
    return clusters.select(
        "url", F.min("url").over(Window.partitionBy("root")).alias("cluster_id")
    )


def incremental_clusters(
    prev: DataFrame,
    new_edges: DataFrame,
    cfg: DedupConfig | None = None,
    status: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Merge NEW duplicate pairs into EXISTING cluster assignments — the
    incremental-ingest path: at 10^12 docs the admitted corpus is never
    re-clustered from raw pairs; a new batch's edges land against the stored
    ``(url, cluster_id)`` table.

    Exact algebra, not an approximation: each existing cluster is replayed
    as STAR edges (member → canonical), so the union graph has the same
    connected components as (all old pairs) ∪ (new pairs) — stars are
    spanning trees of the old components.  Output is therefore IDENTICAL to
    batch CC over the full pair set (the property the driver oracle and
    tests assert), while each old cluster contributes one edge per
    non-canonical member instead of all its pairs.

    ``prev``: (url, cluster_id) — prior assignments (singletons may be
    omitted; any url absent from both inputs is simply not emitted).
    ``new_edges``: (url_a, url_b).  Returns (url, cluster_id) over every
    url present in either input, cluster_id = min url of the merged
    component, singletons included with cluster_id = own url.

    Coverage is robust to a ``prev`` table that omits the canonical's own
    (url == cluster_id) row: every ``prev.cluster_id`` is a member url by
    construction, so it is unioned into the output url set explicitly —
    a canonical referenced only by star edges still gets its own row.
    """
    star = prev.filter(F.col("url") != F.col("cluster_id")).select(
        F.col("url").alias("url_a"), F.col("cluster_id").alias("url_b")
    )
    edges = star.unionByName(new_edges.select("url_a", "url_b"))
    all_urls = (
        prev.select("url")
        .unionByName(prev.select(F.col("cluster_id").alias("url")))
        .unionByName(new_edges.select(F.col("url_a").alias("url")))
        .unionByName(new_edges.select(F.col("url_b").alias("url")))
        .distinct()
    )
    return assign_clusters(
        all_urls, edges, cfg, status=status, checkpoint_dir=checkpoint_dir
    ).select("url", "cluster_id")


def assign_clusters(
    all_urls: DataFrame,
    edges: DataFrame,
    cfg: DedupConfig | None = None,
    status: dict | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(url, cluster_id, is_canonical) over ALL urls: component min-url for
    nodes in edges, own url for singletons (camden's singleton groups — kept
    in the map, filtered only by consumers, reference src/scanner.rs:17-49)."""
    comp = connected_components(
        edges, cfg, status=status, checkpoint_dir=checkpoint_dir
    )
    return (
        all_urls.select("url")
        .join(comp, "url", "left")
        .select(
            "url",
            F.coalesce(F.col("cluster_id"), F.col("url")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("url") == F.col("cluster_id"))
    )
