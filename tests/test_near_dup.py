"""Near-dup stage tests: LSH, SimHash, substring, connected components,
and full-pipeline recall ≥ 0.99 against planted ground truth."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from camden_spark.config import DedupConfig
from camden_spark.functions.shingles import with_signatures
from camden_spark.operators.components import assign_clusters, connected_components
from camden_spark.operators.lsh import candidate_pairs_lsh, verify_pairs_jaccard
from camden_spark.operators.simhash import candidate_pairs_simhash
from camden_spark.operators.substr import (
    candidate_pairs_substr,
    verify_pairs_substr,
    with_fingerprints,
)
from camden_spark.plans.pipeline import DedupPipeline
from camden_spark.sources.pages import normalize_pages
from camden_spark import oracle

CFG = DedupConfig()


@pytest.fixture(scope="module")
def sig_df(spark, pages_df):
    norm = normalize_pages(pages_df)
    sig = with_signatures(norm, CFG).select("url", "shingles", "minhash", "simhash")
    sig.cache().count()
    return sig


def test_signatures_shape(sig_df):
    row = sig_df.first()
    assert len(row["minhash"]) == CFG.minhash_perms
    assert isinstance(row["simhash"], int)
    assert len(row["shingles"]) > 0


def test_signatures_deterministic(spark, pages_df):
    norm = normalize_pages(pages_df)
    a = with_signatures(norm, CFG).select("url", "minhash").collect()
    b = with_signatures(norm.repartition(7), CFG).select("url", "minhash").collect()
    assert sorted((r["url"], tuple(r["minhash"])) for r in a) == sorted(
        (r["url"], tuple(r["minhash"])) for r in b
    )


def test_lsh_finds_planted_near_dups(sig_df, corpus):
    pairs, metrics = candidate_pairs_lsh(sig_df, CFG)
    verified = verify_pairs_jaccard(pairs, sig_df, CFG)
    found = {(r["url_a"], r["url_b"]) for r in verified.collect()}
    docs = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    truth = oracle.jaccard_pairs(docs, CFG.shingle_k, CFG.jaccard_threshold)
    # recall on true high-Jaccard pairs
    assert truth, "corpus should contain high-Jaccard pairs"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall}"
    # verification is exact → no false positives vs the same threshold
    assert found <= truth | {p for p in found if p in truth} or all(
        p in truth for p in found
    )
    m = metrics.first()
    assert m["bands_total"] > 0


def test_simhash_finds_char_perturbed_pairs(sig_df, corpus):
    pairs, _ = candidate_pairs_simhash(sig_df, CFG)
    found = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    # verify Hamming property holds for all reported pairs
    for r in pairs.collect():
        assert r["hamming"] <= CFG.simhash_radius
    assert isinstance(found, set)


def test_substr_finds_containment_pairs(spark, pages_df, corpus):
    norm = normalize_pages(pages_df)
    fp = with_fingerprints(norm, CFG)
    cand, _ = candidate_pairs_substr(fp, CFG)
    verified = verify_pairs_substr(cand, norm, CFG)
    found = {(r["url_a"], r["url_b"]) for r in verified.collect()}
    docs = dict(zip(corpus.pages["url"], corpus.pages["text"]))
    truth = oracle.substring_pairs(
        docs, CFG.min_overlap_chars, CFG.min_overlap_frac
    )
    assert truth, "corpus should contain substring-overlap pairs"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, f"substr recall {recall}"
    # verified overlaps must be genuine
    for p in found:
        assert p in truth


#: per pass: (operator, cap field, metric unit, input frame from one
#: signature value per doc — equal values share every bucket)
_CAPPED_PASSES = {
    "lsh": (
        candidate_pairs_lsh,
        "max_band_group",
        "bands",
        lambda spark, docs: spark.createDataFrame(
            [(u, [v] * CFG.minhash_perms) for u, v in docs],
            "url string, minhash array<long>",
        ),
    ),
    "simhash": (
        candidate_pairs_simhash,
        "max_simhash_group",
        "blocks",
        lambda spark, docs: spark.createDataFrame(
            [(u, v * 0x0001000100010001) for u, v in docs],
            "url string, simhash long",
        ),
    ),
    "substr": (
        candidate_pairs_substr,
        "max_fingerprint_group",
        "fingerprints",
        lambda spark, docs: spark.createDataFrame(
            [(u, [v]) for u, v in docs], "url string, fingerprints array<long>"
        ),
    ),
}


@pytest.mark.parametrize("stage", sorted(_CAPPED_PASSES))
def test_bucket_cap_fires(spark, stage):
    """A bucket above the cap is dropped, counted, and emits no pair; a
    bucket within the cap still pairs."""
    from dataclasses import replace

    op, cap_field, unit, frame = _CAPPED_PASSES[stage]
    planted = [f"big/{i}" for i in range(5)]
    control = ["small/0", "small/1"]
    docs = [(u, 11) for u in planted] + [(u, 22) for u in control]
    pairs, metrics = op(frame(spark, docs), replace(CFG, **{cap_field: 3}))
    found = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
    m = metrics.first()
    assert m[f"{unit}_dropped"] >= 1
    assert m[f"rows_in_dropped_{unit}"] >= len(planted)
    assert found == {tuple(control)}


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["url_a", "url_b"]
    )
    comp = {r["url"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_pointer_jump_fast_on_chains(spark):
    """A 40-node path graph (diameter 39) is one contraction round: CC's
    round count follows the edge count, never the diameter."""
    n = 40
    nodes = [f"n{i:03d}" for i in range(n)]
    edges = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(n - 1)], ["url_a", "url_b"]
    )
    status: dict = {}
    comp = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges, status=status).collect()
    }
    assert set(comp.values()) == {nodes[0]}
    assert status["iterations"] == 1


def _plan_size_bits(df) -> int:
    """Bit length of the optimized plan's sizeInBytes estimate, computed in
    the JVM: py4j converts the BigInt through a decimal string, and Python
    refuses int strings above 4,300 digits."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    digits = stats.productIterator().take(1).mkString()
    return df.sparkSession._jvm.java.math.BigInteger(digits).bitLength()


@pytest.mark.parametrize(
    "edges_per_task,labels",
    [(None, "shuffled"), (4, "shuffled"), (4, "sorted")],
    ids=["default", "4_per_task", "4_per_task_sorted"],
)
def test_connected_components_long_path(spark, monkeypatch, edges_per_task, labels):
    """A 1,000-node path (diameter 999): one cluster labelled with the
    minimum url.  At the default budget that is one round.  At 4 edges per
    task (250 first-round tasks) every round is re-split by its own edge
    count, so no task holds more than a few times the budget and the last,
    single task holds at most the budget — also when the urls sort along
    the path, where url-ranked roots would move one node per round.  The
    plan size estimate stays near the input's own (createDataFrame: 2^63 -
    1) instead of compounding per round."""
    import random

    from camden_spark.operators import components as C

    if edges_per_task is not None:
        monkeypatch.setattr(C, "EDGES_PER_TASK", edges_per_task)
    n = 1000
    nodes = [f"p{i:04d}" for i in range(n)]
    if labels == "shuffled":
        random.Random(5).shuffle(nodes)
    edges = spark.createDataFrame(
        [(nodes[i], nodes[i + 1]) for i in range(n - 1)], ["url_a", "url_b"]
    )
    status: dict = {}
    out = C.connected_components(edges, status=status)
    comp = {r["url"]: r["cluster_id"] for r in out.collect()}
    assert len(comp) == n
    assert set(comp.values()) == {min(nodes)}
    rounds = status["rounds"]
    assert status["iterations"] == len(rounds)
    assert rounds[0]["partitions"] == (250 if edges_per_task else 1)
    assert rounds[0]["edges"] == n - 1
    assert rounds[-1]["partitions"] == 1
    assert rounds[-1]["edges"] <= C.EDGES_PER_TASK
    assert max(r["widest_task"] for r in rounds) <= 4 * C.EDGES_PER_TASK
    if edges_per_task is None:
        assert status["iterations"] == 1
    assert _plan_size_bits(out) <= 72


def test_connected_components_multi_round_matches_union_find(spark, monkeypatch):
    """Several contraction rounds on a seeded random graph — a 200-leaf
    star, isolated edges, random sparse edges — equal a plain-Python
    union-find's min-url components."""
    import random

    from camden_spark.operators import components as C

    monkeypatch.setattr(C, "EDGES_PER_TASK", 4)
    rng = random.Random(11)
    urls = [f"u{i:04d}" for i in range(600)]
    rng.shuffle(urls)
    star, leaves, rest = urls[0], urls[1:201], urls[201:]
    pairs = [(star, leaf) for leaf in leaves]
    pairs += [(rest[i], rest[i + 1]) for i in range(0, 100, 2)]  # isolated
    pairs += [tuple(rng.sample(rest[100:] + leaves[:20], 2)) for _ in range(250)]
    rng.shuffle(pairs)

    parent = {u: u for p in pairs for u in p}

    def find(u: str) -> str:
        while parent[u] != u:
            parent[u] = parent[parent[u]]
            u = parent[u]
        return u

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    expected = {u: find(u) for u in parent}

    status: dict = {}
    edges = spark.createDataFrame(pairs, ["url_a", "url_b"])
    got = {
        r["url"]: r["cluster_id"]
        for r in C.connected_components(edges, status=status).collect()
    }
    assert got == expected
    assert status["iterations"] > 1


def test_connected_components_reliable_checkpoint(tmp_path, spark):
    """checkpoint_dir= routes per-iteration state through parquet (the
    executor-loss-safe path): labels identical to the localCheckpoint mode,
    and the state files actually land under the directory."""
    import os as _os

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r")],
        ["url_a", "url_b"],
    )
    status: dict = {}
    ckpt = str(tmp_path / "cc")
    rel = {
        r["url"]: r["cluster_id"]
        for r in connected_components(
            edges, status=status, checkpoint_dir=ckpt
        ).collect()
    }
    loc = {
        r["url"]: r["cluster_id"]
        for r in connected_components(edges).collect()
    }
    assert rel == loc == {
        "a": "a", "b": "a", "c": "a", "x": "x", "y": "x",
        "p": "p", "q": "p", "r": "p",
    }
    assert status["checkpoint"] == "reliable"
    written = _os.listdir(ckpt)
    assert any(d.startswith("cc_iter") for d in written), written
    assert "cc_edges" in written


def test_empty_docs_never_near_dup(spark):
    """Whitespace-only pages with different raw bytes must not merge in the
    near stages (zero-shingle policy); byte-identical empties still cluster
    via the exact stage."""
    import datetime as _dt

    rows = [
        ("u://a", _dt.datetime(2025, 1, 1), None, "  ", "en"),
        ("u://b", _dt.datetime(2025, 1, 1), None, "\t\t ", "en"),
        ("u://c", _dt.datetime(2025, 1, 1), None, "  ", "en"),  # == a's bytes
        ("u://d", _dt.datetime(2025, 1, 1), None,
         "real content words here for a normal page", "en"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    result = DedupPipeline(cfg=CFG).run(df)
    labels = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    assert labels["u://a"] == labels["u://c"] == "u://a"  # exact byte dup
    assert labels["u://b"] == "u://b"  # whitespace-only, different bytes
    assert labels["u://d"] == "u://d"


def test_assign_clusters_includes_singletons(spark):
    urls = spark.createDataFrame([("a",), ("b",), ("z",)], ["url"])
    edges = spark.createDataFrame([("a", "b")], ["url_a", "url_b"])
    got = {r["url"]: (r["cluster_id"], r["is_canonical"])
           for r in assign_clusters(urls, edges).collect()}
    assert got == {"a": ("a", True), "b": ("a", False), "z": ("z", True)}


def test_full_pipeline_recall(spark, pages_df, corpus):
    result = DedupPipeline(cfg=CFG).run(pages_df)
    rows = result.clusters.collect()
    labels = {r["url"]: r["cluster_id"] for r in rows}
    truth = corpus.true_pairs()
    hit = sum(1 for a, b in truth if labels[a] == labels[b])
    recall = hit / len(truth)
    assert recall >= 0.99, f"pipeline dup-pair recall {recall}"
    # boilerplate block must NOT merge into one giant cluster:
    # rows outside ground truth should mostly be singletons
    gt_urls = set(corpus.ground_truth["url"])
    non_gt = [r for r in rows if r["url"] not in gt_urls]
    clustered = [r for r in non_gt if r["cluster_id"] != r["url"]]
    assert len(clustered) <= 0.05 * len(non_gt), (
        f"{len(clustered)}/{len(non_gt)} non-dup rows got clustered"
    )
    # every url present exactly once
    assert len(rows) == pages_df.count()


def test_pipeline_parallelism_invariance(spark, pages_df):
    """Same clusters at 1 vs 16 partitions (reference scanner.rs:135-143
    generalization — the sandbox stand-in for N vs 4N executors)."""
    r1 = DedupPipeline(cfg=CFG).run(pages_df.repartition(1))
    r16 = DedupPipeline(cfg=CFG).run(pages_df.repartition(16))
    c1 = sorted(map(tuple, r1.clusters.collect()))
    c16 = sorted(map(tuple, r16.clusters.collect()))
    assert c1 == c16


def test_decontaminate_planted(spark):
    """Planted leakage: corpus doc 10 embeds ALL of benchmark doc 0's text
    (containment 1.0); doc 11 embeds about half of it; doc 12 is unrelated.
    Only the >= 0.5-containment docs are flagged, and the benchmark shingle
    index is broadcast (inverted index, never corpus x benchmark pairs)."""
    import pyspark.sql.functions as F

    from camden_spark.entry_queries import _word_5gram_shingles
    from camden_spark.operators.decontam import decontaminate

    bench_text = " ".join(f"tok{i}" for i in range(20))       # 16 shingles
    half_text = " ".join(f"tok{i}" for i in range(12))        # 8 of them
    rows = [
        (10, "prefix words here " + bench_text + " suffix trailer"),
        (11, "lead in " + half_text + " unrelated tail words continue on"),
        (12, "completely different content with no overlap at all here"),
    ]
    sh = (
        spark.createDataFrame(rows, ["doc_id", "text"])
        .select("doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
        .select("doc_id", _word_5gram_shingles("t").alias("shingles"))
    )
    bench = (
        spark.createDataFrame([(0, bench_text)], ["bench_id", "text"])
        .select("bench_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
        .select("bench_id", _word_5gram_shingles("t").alias("shingles"))
    )
    out = decontaminate(sh, bench, min_containment=0.5)
    got = {r["doc_id"]: r for r in out.collect()}
    # AQE (not a hard-coded hint) picks broadcast for the tiny bench index;
    # plan read post-collect so the adaptive plan is finalized
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    assert set(got) == {10, 11}
    assert got[10]["containment"] == 1.0
    assert 0.5 <= got[11]["containment"] < 1.0


def test_incremental_clusters_equals_batch(spark):
    """incremental_clusters(prev, new) == batch CC over old ∪ new pairs for
    an arbitrary split — star edges are spanning trees of old components,
    so the union graph has identical connected components."""
    from camden_spark.operators.components import (
        assign_clusters,
        incremental_clusters,
    )

    all_pairs = [
        ("a", "b"), ("b", "c"), ("d", "e"),      # old evidence
        ("c", "d"), ("f", "g"), ("x", "a"),      # new evidence (merges + new)
    ]
    urls = sorted({u for p in all_pairs for u in p} | {"lone"})
    nodes = spark.createDataFrame([(u,) for u in urls], ["url"])
    old = spark.createDataFrame(all_pairs[:3], ["url_a", "url_b"])
    new = spark.createDataFrame(all_pairs[3:], ["url_a", "url_b"])
    full = spark.createDataFrame(all_pairs, ["url_a", "url_b"])

    prev = assign_clusters(nodes, old).select("url", "cluster_id")
    merged = {
        r["url"]: r["cluster_id"]
        for r in incremental_clusters(prev, new).collect()
    }
    batch = {
        r["url"]: r["cluster_id"]
        for r in assign_clusters(nodes, full).collect()
    }
    assert merged == batch
    assert merged["x"] == "a" and merged["e"] == "a"  # chains merged via new
    assert merged["lone"] == "lone"                   # singleton carried over


def test_incremental_clusters_new_urls_only_in_batch(spark):
    """urls appearing only in the new batch get clustered; prev singletons
    survive; output covers exactly prev ∪ new-edge urls."""
    from camden_spark.operators.components import incremental_clusters

    prev = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("z", "z")], ["url", "cluster_id"]
    )
    new = spark.createDataFrame([("p", "q")], ["url_a", "url_b"])
    got = {r["url"]: r["cluster_id"] for r in incremental_clusters(prev, new).collect()}
    assert got == {"a": "a", "b": "a", "z": "z", "p": "p", "q": "p"}


def test_incremental_clusters_prev_missing_canonical_self_row(spark):
    """A prev table that omits the canonical's own (url == cluster_id) row
    still yields the canonical in the output: prev.cluster_id values are
    member urls by construction and are unioned into the url set."""
    from camden_spark.operators.components import incremental_clusters

    # canonical "a" appears only as a cluster_id, never as a url row
    prev = spark.createDataFrame(
        [("b", "a"), ("c", "a")], ["url", "cluster_id"]
    )
    new = spark.createDataFrame([("c", "d")], ["url_a", "url_b"])
    got = {r["url"]: r["cluster_id"] for r in incremental_clusters(prev, new).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}
