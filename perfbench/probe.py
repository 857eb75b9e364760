"""Post-run operator probes on a finished crawl's committed tables.

Run as its own process (``python3 perfbench/probe.py``) so the benchmark can
pin it and wait for its whole JVM tree like the crawl job. It opens one
warm Spark session and times the dedup, cuckoo, admission and storage
operators through their public functions on the state dir the traced crawl
left behind. Prints one JSON object.

The probed round is the crawl's busiest one (most distinct harvested URLs).
Its candidates are that round's ``round`` table rows; the seen set as of
that round is ``url_seen`` restricted to queue positions enqueued before it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
os.environ["PYTHONPATH"] = _ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

ADMIT_BUDGET = 500


def _force(df) -> None:
    """Evaluate every column of ``df`` (the noop sink skips no work)."""
    df.write.format("noop").mode("overwrite").save()


class _Steps:
    """(name, start, end) of each probe step, on the system-wide monotonic
    clock, so the parent process can place them as spans in its trace."""

    def __init__(self) -> None:
        self.steps = []

    def mark(self, name: str, start: float) -> None:
        self.steps.append((name, start, time.monotonic()))

    def timed(self, name: str, fn, repeats: int):
        """(median wall, last result) of ``repeats`` calls of ``fn``."""
        start = time.monotonic()
        walls = []
        for _ in range(repeats):
            t0 = time.monotonic()
            res = fn()
            walls.append(time.monotonic() - t0)
        self.mark(name, start)
        return statistics.median(walls), res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state", required=True)
    ap.add_argument("--robots", required=True)
    ap.add_argument("--lineage", required=True, help="JSON [[round, new, dup], ...]")
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--repeats", type=int, default=3)
    args = ap.parse_args()
    reps = args.repeats
    lineage = json.loads(args.lineage)
    steps = _Steps()
    t_start = time.monotonic()

    from pyspark.sql import functions as F

    from webcrawler_spark.functions import parse_host
    from webcrawler_spark.operators.admission import admit, apply_robots
    from webcrawler_spark.operators.cuckoo import (
        cuckoo_prefilter,
        cuckoo_sidecar_build,
        cuckoo_sidecar_upsert,
        dedup_against_seen_cuckoo,
    )
    from webcrawler_spark.operators.dedup import dedup_against_seen
    from webcrawler_spark.session import get_spark
    from webcrawler_spark.storage import SnapshotStore

    spark = get_spark(app_name="perfbench-probe")
    store = SnapshotStore(args.state)
    man = store.load_manifest()
    seen_all = store.read_table(spark, "url_seen", man.tables["url_seen"]).cache()
    n_seen = seen_all.count()
    steps.mark("session", t_start)
    t_prep = time.monotonic()

    busiest = max(lineage, key=lambda r: (r[1] + r[2], -r[0]))[0]
    before = n_seen - sum(r[1] for r in lineage)  # the seeds
    before += sum(r[1] for r in lineage if r[0] < busiest)
    n_new = lineage[busiest][1]
    seen = seen_all.filter(F.col("pos") < before).cache()
    delta = seen_all.filter(
        (F.col("pos") >= before) & (F.col("pos") < before + n_new)
    ).cache()
    cand = (
        store.read_table(spark, "round", busiest)
        .filter(F.col("_dup").isNotNull())
        .select("url", "host_hash")
        .cache()
    )
    n_cand = cand.count()
    seen.count()
    delta.count()
    # warm the shapes every probe uses before anything is timed
    _force(dedup_against_seen(cand, seen))
    steps.mark("prepare", t_prep)

    out = {}
    out["dedup.anti_join_s"], _ = steps.timed(
        "dedup.anti_join", lambda: _force(dedup_against_seen(cand, seen)), reps
    )
    got_new = dedup_against_seen(cand, seen).count()
    out["cuckoo.build_s"], sidecar = steps.timed(
        "cuckoo.build",
        lambda: cuckoo_sidecar_build(seen).localCheckpoint(eager=True), reps,
    )
    out["cuckoo.upsert_s"], _ = steps.timed(
        "cuckoo.upsert",
        lambda: cuckoo_sidecar_upsert(sidecar, delta).localCheckpoint(eager=True), reps,
    )
    out["cuckoo.probe_s"], _ = steps.timed(
        "cuckoo.probe",
        lambda: _force(dedup_against_seen_cuckoo(cand, seen, sidecar)), reps,
    )
    _, maybe = cuckoo_prefilter(cand, sidecar)
    out["cuckoo.maybe_ratio"] = maybe.count() / n_cand if n_cand else 0.0
    got_new_cuckoo = dedup_against_seen_cuckoo(cand, seen, sidecar).count()

    frontier = seen_all.select("url", "pos").withColumn("host", parse_host(F.col("url")))
    robots = spark.read.parquet(args.robots).cache()
    robots.count()

    def _admit():
        for part in admit(frontier, ADMIT_BUDGET, order_cols=("pos",), host_col="host"):
            _force(part)

    out["admission.admit_s"], _ = steps.timed("admission.admit", _admit, reps)
    admitted, _ = admit(frontier, ADMIT_BUDGET, order_cols=("pos",), host_col="host")
    out["admission.admitted_ratio"] = admitted.count() / n_seen
    out["admission.robots_s"], _ = steps.timed(
        "admission.robots",
        lambda: [_force(part) for part in apply_robots(frontier, robots)], reps,
    )

    def _write():
        shutil.rmtree(args.scratch, ignore_errors=True)
        SnapshotStore(args.scratch).write_table(seen_all, "url_seen", 0)

    out["storage.write_s"], _ = steps.timed("storage.write", _write, reps)
    shutil.rmtree(args.scratch, ignore_errors=True)
    out["_checks"] = {
        "round": busiest,
        "candidates": n_cand,
        "new_expected": n_new,
        "new_exact": got_new,
        "new_cuckoo": got_new_cuckoo,
    }
    out["_steps"] = steps.steps
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
