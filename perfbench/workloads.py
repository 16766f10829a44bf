"""Seeded input generators for the dedup benchmark.

Each generator returns a ``camden_spark.datagen.Corpus`` (pages + ground
truth) that depends only on the seed; ``write_inputs`` stores it as parquet
with the package's own ``write_corpus``.

* ``bulk_mix``: ``generate_corpus`` with its default duplicate mix (12% exact,
  12% near, 4% SimHash, 4% substring, 10% boilerplate, rest singletons).
  Clusters have 2-5 members, so connected components stay shallow.
* ``revision_chains``: chains of page revisions plus singletons.  Each
  revision is a ~3% token edit of the previous one, like successive crawls
  of an edited page: neighbours verify (shingle Jaccard ~0.75) but revisions
  two or more steps apart mostly do not, so the verified edges form long
  paths and connected components needs many iterations.  Its traced run
  also runs the checkpoint store and a resume pass.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from camden_spark.datagen import BASE_TS, Corpus, generate_corpus, write_corpus


@dataclass(frozen=True)
class Workload:
    docs: int              # pages in the generated table
    trace_store: bool      # the traced run also runs the checkpoint store


#: sizes keep one timed run (set-up and one cold pass) near one minute on a
#: 4-core box; the cold pass is mostly fixed cost (jobs, codegen), so fewer
#: pages would barely shorten it
WORKLOADS = {
    "bulk_mix": Workload(docs=2500, trace_store=False),
    "revision_chains": Workload(docs=800, trace_store=True),
}

#: revision_chains shape: CHAINS chains of REVISIONS pages, rest singletons
CHAINS = 32
REVISIONS = 12
EDIT_FRAC = 0.03


def _words(rng: np.random.RandomState, size: int = 5000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.randint(3, 10, size)
    return np.array(["".join(rng.choice(letters, n)) for n in lens])


def _revise(rng: np.random.RandomState, toks: np.ndarray, n_vocab: int) -> np.ndarray:
    """One revision: replace, insert or delete ~EDIT_FRAC of the tokens."""
    n_edit = max(1, int(round(len(toks) * EDIT_FRAC)))
    out = toks.copy()
    for pos in np.sort(rng.choice(len(out), n_edit, replace=False))[::-1]:
        op = rng.randint(0, 4)  # 2/4 replace, 1/4 insert, 1/4 delete
        if op <= 1:
            out[pos] = rng.randint(0, n_vocab)
        elif op == 2:
            out = np.insert(out, pos, rng.randint(0, n_vocab))
        elif len(out) > 50:
            out = np.delete(out, pos)
    return out


def revision_chains(seed: int, docs: int) -> Corpus:
    rng = np.random.RandomState(seed)
    vocab = _words(rng)
    rows: list[dict] = []
    gt: list[dict] = []

    def add(toks: np.ndarray, chain: int | None) -> None:
        i = len(rows)
        url = f"https://site{i % 17}.example/page/{i}"
        text = " ".join(vocab[toks])
        rows.append({
            "url": url,
            "warc_ts": BASE_TS + pd.Timedelta(seconds=i),
            "html": b"<html><body>" + text.encode() + b"</body></html>",
            "text": text,
            "lang": "en",
        })
        if chain is not None:
            gt.append({"url": url, "gt_cluster": chain})

    for chain in range(CHAINS):
        toks = rng.randint(0, len(vocab), rng.randint(150, 300))
        for _ in range(REVISIONS):
            add(toks, chain)
            toks = _revise(rng, toks, len(vocab))
    while len(rows) < docs:
        add(rng.randint(0, len(vocab), rng.randint(150, 300)), None)
    # interleave chains and singletons, as a crawl would
    order = rng.permutation(len(rows))
    pages = pd.DataFrame([rows[i] for i in order])
    return Corpus(pages=pages, ground_truth=pd.DataFrame(gt, columns=["url", "gt_cluster"]))


def make_corpus(workload: str, seed: int) -> Corpus:
    wl = WORKLOADS[workload]
    if workload == "bulk_mix":
        return generate_corpus(n_docs=wl.docs, seed=seed)
    return revision_chains(seed, wl.docs)


def write_inputs(workload: str, seed: int, out_dir: str) -> Corpus:
    corpus = make_corpus(workload, seed)
    write_corpus(corpus, out_dir)
    return corpus
