"""Measure connected components in its multi-round regime.

Writes one JSON line per measurement to stdout:

    python BENCH/cc_rounds.py prepare DIR          # edge sets under DIR
    python BENCH/cc_rounds.py run CHECKOUT EDGES [EDGES_PER_TASK]
    python BENCH/cc_rounds.py kernel N [N ...]     # one union-find task

``prepare`` writes two edge sets as parquet: ``datagen_100k`` (the verified
pairs of the 100,000-doc ``datagen`` corpus, seed 7) and ``chains_12`` (a
chain-shaped set: 40,000 chains of 12 revisions whose urls sort along the
chain).  ``run`` times ``connected_components`` of the checkout given (the
current or a parent tree) on one edge set, cold, in a fresh session, and
prints its status and an order-free hash of the output.  ``kernel`` times
the union-find task body alone, in process, on chain-shaped edges.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import tracemalloc

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _chain_edges(chains: int, revisions: int = 12) -> list[tuple[str, str]]:
    url = "https://site{}.example/page/{:06d}/rev{:02d}".format
    return [
        (url(c % 17, c, r), url(c % 17, c, r + 1))
        for c in range(chains)
        for r in range(revisions - 1)
    ]


def prepare(out: str) -> None:
    import pandas as pd

    from camden_spark.datagen import generate_corpus
    from camden_spark.entry_queries import CFG
    from camden_spark.plans.pipeline import DedupPipeline
    from camden_spark.session import get_spark

    spark = get_spark("cc_rounds_prepare")
    pages = spark.createDataFrame(generate_corpus(n_docs=100_000, seed=7).pages)
    pairs = DedupPipeline(cfg=CFG).run(pages).pairs.select("url_a", "url_b")
    pairs.write.mode("overwrite").parquet(os.path.join(out, "datagen_100k"))
    chains = pd.DataFrame(_chain_edges(40_000), columns=["url_a", "url_b"])
    spark.createDataFrame(chains).write.mode("overwrite").parquet(
        os.path.join(out, "chains_12")
    )


def run(checkout: str, edges_path: str, edges_per_task: int | None) -> None:
    sys.path.insert(0, checkout)
    from camden_spark.operators import components as C
    from camden_spark.session import get_spark

    if edges_per_task is not None:
        C.EDGES_PER_TASK = edges_per_task
    spark = get_spark("cc_rounds")
    edges = spark.read.parquet(edges_path)
    status: dict = {}
    t0 = time.perf_counter()
    rows = C.connected_components(edges, status=status).collect()
    wall = time.perf_counter() - t0
    digest = hashlib.sha256(
        "\n".join(sorted(f"{r['url']}\t{r['cluster_id']}" for r in rows)).encode()
    ).hexdigest()[:16]
    print(json.dumps({
        "checkout": checkout, "edges": os.path.basename(edges_path),
        "edges_per_task": edges_per_task, "cc_wall_s": round(wall, 2),
        "nodes": len(rows), "output_sha256_16": digest, "status": status,
    }))


def kernel(sizes: list[int]) -> None:
    import pandas as pd

    from camden_spark.operators.components import _local_roots

    for n in sizes:
        pdf = pd.DataFrame(_chain_edges(n // 11 + 1), columns=["url_a", "url_b"])[:n]
        tracemalloc.start()
        t0 = time.perf_counter()
        out = next(_local_roots(iter([pdf])))
        wall = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
        print(json.dumps({
            "task_edges": n, "task_s": round(wall, 3),
            "peak_mb": round(peak / 2**20, 1), "urls": len(out),
        }))


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "prepare":
        prepare(args[0])
    elif cmd == "run":
        run(args[0], args[1], int(args[2]) if len(args) > 2 else None)
    else:
        kernel([int(a) for a in args])
