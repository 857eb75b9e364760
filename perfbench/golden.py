"""Golden-output digests: one from the sequential oracle, one from a run.

A digest covers the queue's (url, pos) order, the ``url_seen`` set, each
doc's (url, status, content hash) and the per-round lineage counts
(distinct URLs harvested in the round that were new to the queue, and those
already seen). The two digests of a correct run are equal.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter
from contextlib import contextmanager
from typing import Dict, List, Optional

from .workloads import Workload


def _sha(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def _digest(queue: List[str], seen, docs, lineage: List[List[int]]) -> Dict:
    """queue: urls by pos; docs: (url, status, hash) triples."""
    docs = sorted(tuple(map(str, d)) for d in docs)
    return {
        "queue": _sha(f"{i}\t{u}" for i, u in enumerate(queue)),
        "seen": _sha(sorted(seen)),
        "docs": _sha("\t".join(d) for d in docs),
        "lineage": lineage,
        "urls_enqueued": len(queue),
        "urls_deduped": sum(r[2] for r in lineage),
        "statuses": dict(sorted(Counter(d[1] for d in docs).items())),
    }


class _Replay:
    """Stands in for ``oracle.extract_page`` during one oracle run.

    It answers from the extraction the input generator already recorded, and
    logs each link-harvest call (the oracle's only calls without rule
    arguments) with the round it belongs to.
    """

    def __init__(self, extracted: Dict[str, Optional[tuple]]) -> None:
        from webcrawler_spark.kernel.extract import PageExtract

        self._page = PageExtract
        self.extracted = extracted
        self.round = 0
        self.harvests: List[tuple] = []

    def __call__(self, html, url, match_any_rules=None, match_all_rules=None):
        ext = self.extracted[url]
        if ext is None:
            raise ValueError(f"kernel refused {url}")  # ERROR_PARSE page
        title, text, links, segments = ext
        harvest = match_any_rules is None and match_all_rules is None
        if harvest:
            self.harvests.append((self.round, url))
        rules = match_any_rules or match_all_rules
        return self._page(title, text, list(segments) if rules else [], links)


class _RoundMarks(list):
    """``admitted_per_round`` of the polite oracle: each append opens a round."""

    def __init__(self, replay: _Replay) -> None:
        super().__init__()
        self._replay = replay

    def append(self, n) -> None:
        super().append(n)
        self._replay.round = len(self) - 1


@contextmanager
def _patched(replay: _Replay):
    from webcrawler_spark import oracle

    saved = oracle.extract_page, oracle.PoliteOracleResult
    real = oracle.PoliteOracleResult
    oracle.extract_page = replay
    oracle.PoliteOracleResult = lambda: real(admitted_per_round=_RoundMarks(replay))
    try:
        yield oracle
    finally:
        oracle.extract_page, oracle.PoliteOracleResult = saved


def oracle_golden(
    w: Workload,
    html: Dict[str, str],
    extracted: Dict[str, Optional[tuple]],
    seeds: List[str],
    robots: Dict[str, List[str]],
) -> Dict:
    """Digest of ``oracle.crawl_oracle`` (or ``crawl_oracle_polite`` with the
    workload's budget, robots and rules) over the generated corpus."""
    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.kernel.filters import compile_patterns, is_accepted
    from webcrawler_spark.kernel.urlnorm import normalize_url

    config = CrawlConfig.from_dict(w.config())
    if w.per_host_budget is not None:
        config.per_host_budget = w.per_host_budget
    replay = _Replay(extracted)
    with _patched(replay) as oracle:
        if w.polite:
            res = oracle.crawl_oracle_polite(html, seeds, config, robots=robots)
            n_rounds = res.rounds
        else:
            res = oracle.crawl_oracle(html, seeds, config)
            n_rounds = 1 + max(d for d, _ in res.dequeue_ranks.values())
            # the base oracle harvests in BFS order: its round is the depth
            replay.harvests = [
                (res.dequeue_ranks[u][0], u) for _, u in replay.harvests
            ]
    includes = compile_patterns(config.include_url_patterns)
    excludes = compile_patterns(config.exclude_url_patterns)
    seen = {normalize_url(s) for s in seeds} - {None}
    by_round: Dict[int, set] = {r: set() for r in range(n_rounds)}
    for rnd, url in replay.harvests:
        for href, _ in extracted[url][2]:
            n = normalize_url(href)
            if n is not None and is_accepted(n, includes, excludes):
                by_round[rnd].add(n)
    lineage = []
    for rnd in range(n_rounds):
        new = by_round[rnd] - seen
        lineage.append([rnd, len(new), len(by_round[rnd]) - len(new)])
        seen |= new
    if seen != res.seen:
        raise RuntimeError("oracle replay disagrees with the oracle's seen set")
    return _digest(
        res.queue_order, res.seen,
        [(d["url"], d["status"], d["hash"]) for d in res.docs], lineage,
    )


def _table(state: str, name: str, version: Optional[int], columns: List[str]):
    import pyarrow.parquet as pq

    if version is None:
        versions = [
            int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{state}/{name}/v=*")
        ]
        version = max(versions)
    return pq.read_table(f"{state}/{name}/v={version}", columns=columns).to_pydict()


def run_digest(state: str) -> Dict:
    """Digest of a finished ``jobs/crawl.py`` run's committed state dir."""
    with open(os.path.join(state, "MANIFEST.json")) as f:
        man = json.load(f)
    seen = _table(state, "url_seen", man["tables"]["url_seen"], ["url", "pos"])
    queue = [u for _, u in sorted(zip(seen["pos"], seen["url"]))]
    docs = _table(state, "docs", None, ["url", "status", "hash"])
    lin = _table(state, "lineage", None, ["round", "urls_fetched", "urls_deduped"])
    rounds: Dict[int, List[int]] = {}
    for r, fetched, deduped in zip(lin["round"], lin["urls_fetched"], lin["urls_deduped"]):
        acc = rounds.setdefault(r, [0, 0])
        acc[0] += fetched
        acc[1] = deduped  # replicated on every row of the round
    return _digest(
        queue, seen["url"], zip(docs["url"], docs["status"], docs["hash"]),
        [[r, *rounds[r]] for r in sorted(rounds)],
    )
