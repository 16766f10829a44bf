#!/usr/bin/env python3
"""Dedup benchmark: ``DedupPipeline.run`` over a seeded pages table.

Usage, from the root of a camden-spark checkout::

    python3 perfbench/run.py --workload bulk_mix --seed 1 --seconds 30 --trace 0

One run is a closed loop with one client in a fresh process on
``local[<cores>]``: generate the inputs (untimed), set up the Spark session
(``setup_s``), then run pipeline passes one at a time until ``--seconds`` of
pass time is measured (at least one pass).  The first pass is the cold pass of
a one-shot job (``cold_s``).  Every pass must reproduce the pinned output
(``pins.json``) or, for an unpinned seed, the first pass's output; the
clusters must also reach the workload's pair-recall floor.

``--trace 1`` runs the traced decomposition instead (``trace_run.py``) and prints
the per-layer metrics.  The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PINS = os.path.join(HERE, "pins.json")


def require_checkout() -> None:
    """Fail (exit 2, no result) unless run inside a camden-spark checkout."""
    need = ["camden_spark/__init__.py", "tools/scaling_decompose.py"]
    missing = [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a camden-spark checkout, missing {missing}",
              file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts (Linux
    ``PR_SET_CHILD_SUBREAPER``): Python workers forked by the Spark JVM are
    re-parented here, not to init, when the JVM exits, so ``stop_processes``
    can find and reap them.  A SIGTERM unwinds like an exception, so the
    clean-up in ``main`` also runs when the run is killed."""
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))


def descendants() -> list[int]:
    from measure import tree_pids

    return [p for p in tree_pids(os.getpid()) if p != os.getpid()]


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_processes(grace_s: float = 20.0) -> None:
    """Stop the Spark context and the gateway JVM, then every process this
    run started, and wait until each has ended (SIGTERM, then SIGKILL after
    ``grace_s``)."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # finish the clean-up

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as exc:  # noqa: BLE001 - the kill below still runs
            print(f"perfbench: SparkContext.stop failed: {exc}", file=sys.stderr)
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
        try:
            proc.wait(timeout=grace_s)
        except Exception:  # noqa: BLE001 - killed with the rest below
            pass
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        reap()
        alive = descendants()
        if not alive:
            return
        if time.monotonic() > deadline and sig == signal.SIGTERM:
            sig = signal.SIGKILL
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(eventlog_dir: str | None = None) -> dict[str, str]:
    """Environment for the Spark session; returns extra Spark conf.

    * ``PYTHONPATH``: UDF workers must import ``camden_spark`` from the
      checkout (cloudpickle pickles the kernels by reference).
    * ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and ``java.io.tmpdir``: inside the
      work directory, so no temporary file lands in ``/dev/shm`` (which
      counts as memory) or outside the checkout.
    """
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (":" + prev if prev else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF",
                "SPARK_GRAFT_EVENTLOG_DIR"):
        os.environ.pop(var, None)
    if eventlog_dir:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = eventlog_dir
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}


def setup_session(extra_conf: dict[str, str]):
    """The timed set-up: session, first trivial job, warmed UDF workers."""
    from camden_spark.session import get_spark, warm_python_workers

    spark = get_spark(cores=cores(), extra_conf=extra_conf)
    spark.range(1).count()
    warm_python_workers(spark)
    return spark


def output_of(clusters, pairs) -> tuple[int, int, int]:
    """(rows, pairs, checksum) — the checksum is bench.py's
    bit_xor(xxhash64(to_json(struct(*)))) over the clusters table."""
    import pyspark.sql.functions as F

    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.to_json(F.struct(*clusters.columns)))).alias("chk"),
    ).collect()[0]
    return int(row["n"]), pairs.count(), int(row["chk"] or 0)


def run_pass(spark, pages_dir: str, store_dir: str | None):
    """One pipeline pass, timed until clusters and pairs are materialized.
    Returns (result, (rows, pairs, checksum), wall seconds)."""
    from camden_spark.entry_queries import CFG
    from camden_spark.plans.pipeline import DedupPipeline
    from camden_spark.sources.pages import load_pages

    t0 = time.perf_counter()
    res = DedupPipeline(cfg=CFG, checkpoint_dir=store_dir).run(
        load_pages(spark, pages_dir)
    )
    out = output_of(res.clusters, res.pairs)
    return res, out, time.perf_counter() - t0


def cluster_map(clusters) -> dict[str, str]:
    return {r["url"]: r["cluster_id"]
            for r in clusters.select("url", "cluster_id").collect()}


def load_pins(workload: str, seed: int) -> tuple[tuple | None, float]:
    """(pinned (rows, pairs, checksum) or None, pair-recall floor)."""
    with open(PINS) as f:
        pins = json.load(f)[workload]
    pin = pins["seeds"].get(str(seed))
    return (tuple(pin) if pin else None), pins["min_pair_recall"]


def prepare_inputs(workload: str, seed: int) -> tuple[str, int, dict]:
    """Generate the seeded inputs (never timed); returns (pages dir, docs,
    ground-truth url → group)."""
    from workloads import write_inputs

    pages_dir = os.path.join(WORK, "input")
    corpus = write_inputs(workload, seed, pages_dir)
    gt = corpus.ground_truth
    return pages_dir, len(corpus.pages), dict(zip(gt["url"], gt["gt_cluster"]))


def timed_run(workload: str, seed: int, seconds: float) -> dict:
    from measure import PassTally, pair_quality

    pages_dir, docs, truth = prepare_inputs(workload, seed)
    pin, min_recall = load_pins(workload, seed)
    extra_conf = configure_env()
    tally = PassTally(expected=pin)
    walls: list[float] = []
    recall = precision = 0.0
    t0 = time.perf_counter()
    spark = setup_session(extra_conf)
    setup_s = time.perf_counter() - t0
    try:
        while not walls or sum(walls) < seconds:
            try:
                res, out, wall = run_pass(spark, pages_dir, None)
            except Exception as exc:  # noqa: BLE001 - counted as failed
                tally.record(None, f"{type(exc).__name__}: {exc}"[:500])
                break
            walls.append(wall)
            tally.record(out)
            if len(walls) == 1:
                recall, precision = pair_quality(cluster_map(res.clusters), truth)
            res.release(blocking=True)
    finally:
        spark.stop()
    for err in tally.errors:
        print(f"perfbench: failed pass: {err}", file=sys.stderr)
    correct = bool(walls) and tally.failed == 0 and recall >= min_recall
    if recall < min_recall:
        print(f"perfbench: pair recall {recall:.4f} below {min_recall}",
              file=sys.stderr)
    cold = walls[0] if walls else 0.0  # no pass completed: correct is false
    metrics = {
        "setup_s": (setup_s, "s"),
        "cold_s": (cold, "s"),
        "docs_per_s": (docs / cold if cold else 0.0, "1/s"),
        "pair_recall": (recall, "ratio"),
        "pair_precision": (precision, "ratio"),
        "ok_frac": (tally.ok_frac, "ratio"),
    }
    print(json.dumps({
        "workload": workload, "seed": seed, "docs": docs,
        "outputs": tally.expected, "pass_walls_s": walls,
    }), file=sys.stderr)
    return {
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    require_checkout()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    adopt_orphans()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        if args.trace:
            from trace_run import traced_run

            result = traced_run(args.workload, args.seed)
        else:
            result = timed_run(args.workload, args.seed, args.seconds)
    finally:
        stop_processes()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
