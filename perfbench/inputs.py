"""Seeded crawl inputs and their golden digest, cached inside the checkout.

Pages are rows of ``corpus._gen_page``, the pure per-page function that
``corpus.generate_pages_distributed`` maps over Spark, with ``text`` set to
the kernel's body text exactly as that generator sets it. They are written
in ``jobs/gen_corpus.py --layout hash`` shape: rows spread over
``max(64, n_pages // 20000)`` parquet files by a hash of the url. Generating
them in a small process pool instead of a Spark job keeps a fresh seed to
seconds, and the same pool records each page's extraction so the sequential
oracle can be replayed without parsing every page a second time.

A cache entry is keyed by every generation parameter. It is complete only
once its ``MANIFEST.json`` is written, and the manifest's file digests are
checked before each reuse; a mismatch regenerates the entry.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import multiprocessing
import os
import random
import shutil
import time
import zlib
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

from .golden import oracle_golden
from .workloads import Workload

# bump when the generated bytes change for the same parameters
GENERATOR_VERSION = 1
# cache entries kept; older ones are deleted (one entry is 5-15 MB)
CACHE_KEEP = 12
_CHUNK = 400


@dataclass
class Inputs:
    dir: str
    pages: str
    seeds: str
    robots: str
    config: str
    golden: Dict
    gen_s: float
    cached: bool


def _alloc_prefix(n_hosts: int, n_pages: int, zipf_s: float) -> Tuple[List[int], List[int], int]:
    from webcrawler_spark.corpus import zipf_alloc

    alloc = zipf_alloc(n_hosts, n_pages, zipf_s)
    prefix, acc = [], 0
    for a in alloc:
        acc += a
        prefix.append(acc)
    return alloc, prefix, acc


def _gen_chunk(task) -> list:
    """Pool worker: pages [lo, hi) as parquet rows plus their extraction."""
    seed, n_hosts, n_pages, zipf_s, rules_cfg, lo, hi = task
    from webcrawler_spark.corpus import _gen_page
    from webcrawler_spark.kernel.extract import extract_page
    from webcrawler_spark.kernel.rules import build_rules

    rules = build_rules(rules_cfg) if rules_cfg else None
    alloc, prefix, total = _alloc_prefix(n_hosts, n_pages, zipf_s)
    out = []
    for gid in range(lo, hi):
        h = bisect.bisect_right(prefix, gid)
        p = gid - (prefix[h - 1] if h > 0 else 0)
        url, ts, html, lang, status, fetch_ms = _gen_page(
            seed, h, p, alloc, prefix, total, n_hosts
        )
        try:
            # the rules only add segments; title/text/links are rule-free
            page = extract_page(html, url, match_any_rules=rules)
            ext = (page.title, page.text, page.links, page.segments)
        except Exception:  # the kernel's ERROR_PARSE pages
            ext = None
        out.append(
            (url, ts.replace(tzinfo=None), html.encode("utf-8"),
             ext[1] if ext else None, lang, status, fetch_ms, ext)
        )
    return out


def _robots_rows(seed: int, n_hosts: int) -> List[tuple]:
    """Same per-host rows as ``jobs/gen_corpus.py`` writes."""
    from webcrawler_spark.corpus import EPOCH

    rows = []
    for h in range(n_hosts):
        host = f"host{h:03d}.example.com"
        rng = random.Random(f"{seed}:robots:{host}")
        disallow = ["/missing/"]
        if rng.random() < 0.10:
            disallow.append("/page/1")
        rows.append((host, EPOCH, disallow, rng.choice([0, 500, 2000])))
    return rows


def seed_urls(w: Workload) -> List[str]:
    """``jobs/gen_corpus.py --n-seeds <n_hosts> --seeds-per-host`` seed list."""
    alloc, _, _ = _alloc_prefix(w.n_hosts, w.n_pages, w.zipf_s)
    return [
        f"https://host{h:03d}.example.com/page/{p}"
        for h in range(w.n_hosts)
        for p in range(min(w.seeds_per_host, alloc[h]))
    ]


def _write(out: str, w: Workload, seed: int, rows: list) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n_files = max(64, w.n_pages // 20_000)
    buckets: List[list] = [[] for _ in range(n_files)]
    for r in rows:
        buckets[zlib.crc32(r[0].encode()) % n_files].append(r)
    os.makedirs(f"{out}/pages")
    for i, b in enumerate(buckets):
        cols = list(zip(*b)) if b else [()] * 7
        pq.write_table(
            pa.table({
                "url": pa.array(cols[0], pa.string()),
                "warc_ts": pa.array(cols[1], pa.timestamp("us", tz="UTC")),
                "html": pa.array(cols[2], pa.binary()),
                "text": pa.array(cols[3], pa.string()),
                "lang": pa.array(cols[4], pa.string()),
                "http_status": pa.array(cols[5], pa.int32()),
                "fetch_ms": pa.array(cols[6], pa.int64()),
            }),
            f"{out}/pages/part-{i:05d}.parquet",
        )
    seeds = seed_urls(w)
    pq.write_table(
        pa.table({"seed_id": pa.array(range(len(seeds)), pa.int64()), "url": seeds}),
        f"{out}/seeds.parquet",
    )
    rob = _robots_rows(seed, w.n_hosts)
    pq.write_table(
        pa.table({
            "host": [r[0] for r in rob],
            "fetched_ts": pa.array([r[1] for r in rob], pa.timestamp("us", tz="UTC")),
            "disallow": pa.array([r[2] for r in rob], pa.list_(pa.string())),
            "crawl_delay_ms": pa.array([r[3] for r in rob], pa.int64()),
        }),
        f"{out}/robots.parquet",
    )
    with open(f"{out}/config.json", "w") as f:
        json.dump(w.config(), f)


def _file_digests(root: str) -> Dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name == "MANIFEST.json":
                continue
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return dict(sorted(out.items()))


def _load_verified(entry: str, key: Dict) -> Optional[Dict]:
    try:
        with open(f"{entry}/MANIFEST.json") as f:
            man = json.load(f)
    except (OSError, ValueError):
        return None
    if man.get("key") != key or man.get("files") != _file_digests(entry):
        return None
    return man


def _evict(cache: str, keep: str) -> None:
    entries = [
        os.path.join(cache, e) for e in os.listdir(cache)
        if os.path.join(cache, e) != keep
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for e in entries[CACHE_KEEP - 1:]:
        shutil.rmtree(e, ignore_errors=True)


def prepare(cache: str, w: Workload, seed: int, procs: int) -> Inputs:
    """Inputs for (workload, seed): verified from the cache or generated.

    ``cache`` holds nothing but input entries: the least recently used ones
    beyond ``CACHE_KEEP`` are deleted."""
    key = {"generator": GENERATOR_VERSION, "seed": seed, **w.input_key()}
    digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    entry = os.path.join(cache, f"{w.name}-{seed}-{digest}")
    os.makedirs(cache, exist_ok=True)
    t0 = time.monotonic()
    man = _load_verified(entry, key)
    cached = man is not None
    if not cached:
        shutil.rmtree(entry, ignore_errors=True)
        _, _, total = _alloc_prefix(w.n_hosts, w.n_pages, w.zipf_s)
        tasks = [
            (seed, w.n_hosts, w.n_pages, w.zipf_s, w.content_rules, lo,
             min(lo + _CHUNK, total))
            for lo in range(0, total, _CHUNK)
        ]
        # fork, not spawn: a spawn pool also starts multiprocessing's
        # resource-tracker process, which outlives the pool and this
        # process's exit. Nothing here has started a thread yet.
        ctx = multiprocessing.get_context("fork")
        with ctx.Pool(procs) as pool:
            rows = [r for chunk in pool.map(_gen_chunk, tasks) for r in chunk]
        tmp = entry + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _write(tmp, w, seed, rows)
        extracted = {r[0]: r[7] for r in rows}
        html = {r[0]: r[2].decode("utf-8") for r in rows}
        golden = oracle_golden(
            w, html, extracted, seed_urls(w),
            {r[0]: r[2] for r in _robots_rows(seed, w.n_hosts)},
        )
        man = {"key": key, "files": _file_digests(tmp), "golden": golden}
        with open(f"{tmp}/MANIFEST.json", "w") as f:
            json.dump(man, f)
        os.replace(tmp, entry)
    os.utime(entry)
    _evict(cache, entry)
    return Inputs(
        dir=entry,
        pages=f"{entry}/pages",
        seeds=f"{entry}/seeds.parquet",
        robots=f"{entry}/robots.parquet",
        config=f"{entry}/config.json",
        golden=man["golden"],
        gen_s=time.monotonic() - t0,
        cached=cached,
    )
