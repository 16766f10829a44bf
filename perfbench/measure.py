"""Pure-Python measurement helpers for the dedup benchmark (no Spark).

* ``pair_quality``: same-cluster url-pair recall and precision against the
  generator's ground truth, from cluster sizes alone (no pair lists).
* ``Spans``: in-memory trace spans with derived self time.
* ``PassTally``: attempted/failed pass counting against a pinned output.
* ``PeakSampler``, ``tree_rss_bytes``: peak resident memory summed over
  this process's tree.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_quality(
    predicted: dict[str, str], truth: dict[str, object]
) -> tuple[float, float]:
    """(recall, precision) of same-cluster url pairs.

    ``predicted`` maps every url to its output cluster id; ``truth`` maps the
    urls of true duplicate groups to a group id (urls absent from it are
    true singletons).  A pair is true when both urls share a truth group and
    predicted when both share an output cluster.  With no true pairs recall
    is 1.0; with no predicted pairs precision is 1.0."""
    cells: Counter = Counter()
    for url, cid in predicted.items():
        gid = truth.get(url)
        cells[(cid, ("t", gid) if gid is not None else ("u", url))] += 1
    pred_sizes = Counter(predicted.values())
    true_sizes = Counter(truth.values())
    hits = sum(_pairs(c) for c in cells.values())
    n_true = sum(_pairs(c) for c in true_sizes.values())
    n_pred = sum(_pairs(c) for c in pred_sizes.values())
    recall = hits / n_true if n_true else 1.0
    precision = hits / n_pred if n_pred else 1.0
    return recall, precision


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    run_id: str
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Spans:
    """Spans kept in memory for one run; written out only when it ends."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[str] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(), 0.0,
                 self._open[-1] if self._open else None, self.run_id)
        self._open.append(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()
            self.spans.append(s)

    def as_records(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "run_id": s.run_id, "self_s": selfs[s.name], **s.counts}
            for s in self.spans
        ]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of it that its direct children cover."""
    out = {}
    for s in spans:
        kids = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in spans
            if c.parent == s.name and c.run_id == s.run_id
        ]
        out[s.name] = s.duration - covered([k for k in kids if k[1] > k[0]])
    return out


@dataclass
class PassTally:
    """Counts pipeline passes and those that failed: a pass fails when it
    raises or when its (rows, pairs, checksum) differs from the expected
    output — the pinned one when the seed is pinned, else the first pass."""

    expected: tuple | None = None
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, output: tuple | None, error: str | None = None) -> bool:
        self.attempted += 1
        if error is None and self.expected is None:
            self.expected = output
        ok = error is None and output == self.expected
        if not ok:
            self.failed += 1
            self.errors.append(error or f"output {output} != expected {self.expected}")
        return ok

    @property
    def ok_frac(self) -> float:
        return (self.attempted - self.failed) / self.attempted if self.attempted else 0.0


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_rss_bytes() -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakSampler:
    """Background thread keeping the peak of ``sample()`` while a block runs
    (sampled on entry, every ``interval_s`` and on exit)."""

    def __init__(self, sample, interval_s: float = 0.25) -> None:
        self.sample, self.interval_s, self.peak = sample, interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.sample())
        return False
