"""Per-layer measurements for the traced run.

Each function times one layer from outside, through its public functions:

- ``kernel_layer``: the extraction kernel on a seeded sample of the
  workload's own pages, one function at a time, in this process;
- ``udfs_layer``: the ``make_extract_pages`` batch function on one pandas
  batch of that sample, with the crawl's carry columns;
- ``rounds_layer``: the round loop's phases, read from the job's JSON line;
- ``spark_layer``: the traced job's Spark event log, cut to the timed crawl;
- ``storage_layer``: the committed state dir's size and table versions.
"""

from __future__ import annotations

import importlib.util
import os
import random
import statistics
import sys
import time
from typing import Dict, List, Optional

SAMPLE_PAGES = 4096
# extract_content is timed with these when the workload has no rules of its own
PROBE_RULES = {"tagName": "p", "minCharacter": 20}


def _load(root: str, rel: str, name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(root, rel))
    mod = importlib.util.module_from_spec(spec)
    # registered so a process pool can pickle the module's functions
    sys.modules[name] = mod
    spec.loader.exec_module(mod)
    return mod


def sample_pages(pages_dir: str, seed: int, n: int = SAMPLE_PAGES) -> List[tuple]:
    """Seeded sample of (url, html) among pages the kernel can parse."""
    import pyarrow.parquet as pq

    t = pq.read_table(pages_dir, columns=["url", "html", "text"]).to_pydict()
    ok = sorted(
        (u, h.decode("utf-8"))
        for u, h, txt in zip(t["url"], t["html"], t["text"])
        if txt is not None
    )
    return random.Random(seed).sample(ok, min(n, len(ok)))


def _us_per(items, fn) -> float:
    t0 = time.perf_counter()
    for it in items:
        fn(it)
    return (time.perf_counter() - t0) * 1e6 / max(1, len(items))


def kernel_layer(sample: List[tuple], rules_cfg: Optional[Dict]) -> Dict[str, float]:
    from webcrawler_spark.kernel.dom import parse, select_links
    from webcrawler_spark.kernel.extract import extract_content, extract_page
    from webcrawler_spark.kernel.rules import build_rules
    from webcrawler_spark.kernel.urlnorm import normalize_url

    wl_rules = build_rules(rules_cfg) if rules_cfg else None
    probe_rules = build_rules(rules_cfg or PROBE_RULES)
    out = {
        "kernel.extract_us_per_page": _us_per(
            sample, lambda p: extract_page(p[1], p[0], match_any_rules=wl_rules)
        ),
        "kernel.parse_us_per_page": _us_per(sample, lambda p: parse(p[1])),
    }
    # parsed again outside the timing: holding 4096 trees while timing the
    # parse slowed it by half (the cyclic GC rescans everything retained)
    docs = [(url, parse(html)) for url, html in sample]
    hrefs: List[str] = []
    out["kernel.links_us_per_page"] = _us_per(
        docs, lambda d: hrefs.extend(h for h, _ in select_links(d[1], d[0]))
    )
    out["kernel.text_us_per_page"] = _us_per(docs, lambda d: d[1].body().text())
    out["kernel.rules_us_per_page"] = _us_per(
        docs, lambda d: extract_content(d[1].body(), probe_rules)
    )
    out["kernel.urlnorm_us_per_url"] = _us_per(hrefs, normalize_url)
    return out


def udfs_layer(sample: List[tuple], rules_cfg: Optional[Dict], polite: bool,
               extract_us: float) -> Dict[str, float]:
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from webcrawler_spark.config import CrawlConfig
    from webcrawler_spark.udfs import extract_schema_with, make_extract_pages
    from pyspark.sql.types import IntegerType, LongType, StructField

    config = CrawlConfig.from_dict({"contentRules": rules_cfg} if rules_cfg else {})
    if polite:  # run_polite_crawl's carry columns
        carry = [StructField("grank", LongType()), StructField("depth", IntegerType())]
    else:  # run_crawl's, with the processor on
        carry = [StructField("rank", LongType()), StructField("pos", LongType())]
    fn, _ = make_extract_pages(config, carry_cols=[f.name for f in carry])
    n = len(sample)
    pdf = pd.DataFrame({
        "url": [u for u, _ in sample],
        "html": [h.encode("utf-8") for _, h in sample],
        carry[0].name: range(n),
        carry[1].name: [i % 3 for i in range(n)],
    })
    t0 = time.perf_counter()
    out = pd.concat(list(fn(iter([pdf]))))
    batch_us = (time.perf_counter() - t0) * 1e6 / n
    schema = to_arrow_schema(extract_schema_with(carry))
    nbytes = pa.Table.from_pandas(out, schema=schema, preserve_index=False).nbytes
    return {
        "udfs.batch_us_per_page": batch_us,
        "udfs.boundary_us_per_page": batch_us - extract_us,
        "udfs.out_bytes_per_page": nbytes / n,
    }


def scaling_layer(root: str, pages_dir: str, cpus: int) -> Dict[str, float]:
    bench_scaling = _load(root, "jobs/bench_scaling.py", "bench_scaling")
    res = bench_scaling.workload_ceiling(pages_dir, 1, cpus, rounds=1, sample=SAMPLE_PAGES)
    return {"kernel.scaling_ceiling_1to4": res["workload_scaling_ceiling"]}


def rounds_layer(summary: Dict) -> Dict[str, float]:
    phases: Dict[str, float] = {}
    for t in summary.get("engine_timings") or []:
        name = t["phase"]
        kind = name.split("_", 1)[1] if name[:1] == "r" and name[1:2].isdigit() else name
        phases[kind] = phases.get(kind, 0.0) + t["ms"] / 1000.0
    walls = [ms / 1000.0 for _, ms in summary["round_walls_ms"]]
    return {
        "rounds.count": summary["rounds"],
        "rounds.seed_s": phases.get("seed_frontier", 0.0),
        "rounds.raw_s": phases.get("raw", 0.0),
        "rounds.mat_s": phases.get("mat", 0.0),
        "rounds.stats_s": phases.get("stats", 0.0),
        "rounds.wall_p50_s": statistics.median(walls),
        "rounds.wall_max_s": max(walls),
        "rounds.min_wall_s": min(walls),
        "rounds.docs_write_s": summary["phases"].get("docs_write", 0.0),
        "rounds.docs_tail_mat_s": phases.get("docs_tail_mat", 0.0),
        "rounds.docs_losers_s": phases.get("docs_losers", 0.0),
    }


def storage_layer(state: str, urls: int) -> Dict[str, float]:
    total = 0
    versions = 0
    for dirpath, dirnames, files in os.walk(state):
        versions += sum(1 for d in dirnames if d.startswith("v="))
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return {"storage.bytes_per_url": total / urls, "storage.table_versions": versions}


_PY_OUT = "data sent to Python workers"


def spark_layer(root: str, events_dir: str, crawl_start_ms: float, cores: int) -> Dict[str, float]:
    """Event-log metrics of the Spark jobs submitted during the timed crawl."""
    ae = _load(root, "tools/analyze_eventlog.py", "analyze_eventlog")
    (log,) = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
    events = ae.load(log)
    crawl_jobs = {
        e["Job ID"] for e in events
        if e.get("Event") == "SparkListenerJobStart"
        and e["Submission Time"] >= crawl_start_ms
    }
    stages = {
        s["Stage ID"] for e in events
        if e.get("Event") == "SparkListenerJobStart" and e["Job ID"] in crawl_jobs
        for s in e.get("Stage Infos", [])
    }
    shuffle_w = spill = py_out = 0
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd" or e["Stage ID"] not in stages:
            continue
        m = e.get("Task Metrics") or {}
        shuffle_w += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("Name") == _PY_OUT:
                py_out += int(acc.get("Update", 0))
    rows = [r for r in ae.analyze(log, cores)["rows"] if r["job"] in crawl_jobs]
    in_job = sum(r["wall_s"] for r in rows)
    task = sum(r["task_s"] for r in rows)
    # the first crawl job's gap reaches back into set-up; it is not crawl time
    between = sum(r["gap_s"] for r in rows[1:])
    return {
        "spark.jobs": len(rows),
        "spark.in_job_s": in_job,
        "spark.between_job_s": between,
        "spark.task_s": task,
        "spark.parallelism": task / in_job if in_job else 0.0,
        "spark.gc_s": sum(r["gc_s"] for r in rows),
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.python_bytes_out": py_out,
    }
