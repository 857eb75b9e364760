"""Crawl benchmark: run ``jobs/crawl.py`` on a seeded corpus and measure it.

    python3 perfbench/run.py --workload wide_docs --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached under ``.perfbench_cache/``). With ``--trace 0`` the crawl job runs,
pinned to every CPU this process may use, until ``--seconds`` of timed crawl
have been measured (at least once); each run's committed output must equal
the sequential oracle's golden digest. With ``--trace 1`` one crawl runs with
the Spark event log on, and every layer is measured around it. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. README.md in this directory describes every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))

from perfbench.inputs import Inputs, prepare  # noqa: E402
from perfbench.proc import JobRun, run_tree  # noqa: E402
from perfbench.trace import Tracer, add_engine_phases  # noqa: E402
from perfbench.workloads import WORKLOADS, Workload  # noqa: E402

CACHE = ".perfbench_cache"
DRIVER_MEM = "2g"
# a run must end within 180 s: no new crawl starts past this point
RUN_BUDGET_S = 150.0
# hard cap on one crawl job, set-up included
JOB_TIMEOUT_S = 150.0
END_TO_END_UNITS = {
    "urls_per_core_s": "url/core/s",
    "cpu_s_per_kurl": "s",
    "setup_s": "s",
    "peak_pss_mb": "MB",
}


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Crawl:
    """One crawl job and what the benchmark read from it."""
    ok: bool
    why: str
    run: JobRun
    summary: Optional[Dict] = None
    setup_s: float = 0.0
    wall_s: float = 0.0
    crawl_start: float = 0.0
    cpu_s: float = 0.0
    urls: int = 0
    run_dir: str = ""
    state: str = ""
    event_dir: Optional[str] = None

    def metrics(self, cores: int) -> Dict[str, float]:
        return {
            "urls_per_core_s": self.urls / self.wall_s / cores,
            "cpu_s_per_kurl": self.cpu_s / (self.urls / 1000.0),
            "setup_s": self.setup_s,
            "peak_pss_mb": self.run.peak_pss_mb,
        }


class Bench:
    def __init__(self, root: str, workload: Workload, seed: int) -> None:
        self.root = root
        self.w = workload
        self.seed = seed
        self.cache = os.path.join(root, CACHE)
        self.cpus = sorted(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.t_start = time.monotonic()
        self.inputs: Optional[Inputs] = None
        self._n = 0

    def left(self) -> float:
        return RUN_BUDGET_S - (time.monotonic() - self.t_start)

    def env(self, run_dir: str, event_dir: Optional[str]) -> Dict[str, str]:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        # a fixed heap (-Xms = -Xmx): peak memory then does not depend on
        # when G1 chose to grow the heap, which varied it by 30% between runs
        conf = [f"spark.driver.extraJavaOptions=-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp}"]
        if event_dir:
            os.makedirs(event_dir)
            conf += ["spark.eventLog.enabled=true", "spark.eventLog.rolling.enabled=false",
                     "spark.eventLog.compress=false",
                     f"spark.eventLog.dir=file://{event_dir}"]
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(len(self.cpus)),
            "SPARK_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark-local"),
            "SPARK_GRAFT_EXTRA_CONF": ";".join(conf),
            "TMPDIR": tmp,
            "PYTHONUNBUFFERED": "1",
        })
        return env

    def pinned(self, argv: List[str]) -> List[str]:
        return ["taskset", "-c", ",".join(map(str, self.cpus)), sys.executable, *argv]

    def crawl(self, traced: bool, keep: bool = False) -> Crawl:
        """One crawl job in a fresh state dir; the dir is deleted unless kept."""
        from perfbench.golden import run_digest

        self._n += 1
        run_dir = os.path.join(self.cache, f"run-{os.getpid()}-{self._n}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        state = os.path.join(run_dir, "state")
        inp = self.inputs
        event_dir = os.path.join(run_dir, "events") if traced else None
        argv = [os.path.join(self.root, "jobs", "crawl.py"),
                *self.w.job_args(inp.pages, inp.seeds, inp.robots, inp.config, state)]
        with self.tracer.span("job", traced=traced) as span:
            run = run_tree(
                self.pinned(argv), self.env(run_dir, event_dir), run_dir,
                min(JOB_TIMEOUT_S, max(10.0, self.left() + 25.0)),
                os.path.join(run_dir, "stderr.log"),
            )
        c = Crawl(ok=False, why="", run=run, run_dir=run_dir, state=state,
                  event_dir=event_dir)
        try:
            if run.timed_out:
                c.why = "timed out (process tree killed)"
                return c
            if run.returncode != 0:
                c.why = f"exit code {run.returncode}"
                return c
            summaries = [(t, l) for t, l in run.lines if l.startswith("{")]
            if not summaries:
                c.why = "no JSON summary line"
                return c
            t_line, line = summaries[-1]
            s = json.loads(line)
            c.summary = s
            c.wall_s = s["wall_sec"]
            c.crawl_start = t_line - c.wall_s
            c.setup_s = c.crawl_start - run.t_launch
            c.cpu_s = run.cpu_at(t_line) - run.cpu_at(c.crawl_start)
            c.urls = s["urls_enqueued"] + s["urls_deduped"]
            self.tracer.add("setup", run.t_launch, c.crawl_start, span["id"])
            crawl_sid = self.tracer.add("crawl", c.crawl_start, t_line, span["id"])
            add_engine_phases(self.tracer, crawl_sid, c.crawl_start, s)
            with self.tracer.span("golden_check"):
                got = run_digest(state)
            if got != inp.golden:
                diff = sorted(k for k in got if got[k] != inp.golden.get(k))
                c.why = f"output differs from the oracle golden in {diff}"
                return c
            c.ok = True
            return c
        finally:
            if not c.ok:
                _log(f"crawl failed: {c.why}")
                with open(os.path.join(run_dir, "stderr.log"), "rb") as f:
                    _log(f.read()[-3000:].decode("utf-8", "replace"))
            if not keep or not c.ok:
                shutil.rmtree(run_dir, ignore_errors=True)

    # ------------------------------------------------------------------ runs

    def timed(self, seconds: float) -> Dict:
        crawls: List[Crawl] = []
        measured = 0.0
        while True:
            t0 = time.monotonic()
            c = self.crawl(traced=False)
            crawls.append(c)
            measured += c.wall_s
            took = time.monotonic() - t0
            if not c.ok or measured >= seconds or self.left() < 1.2 * took:
                break
        good = [c.metrics(len(self.cpus)) for c in crawls if c.ok]
        metrics = {
            k: {"value": statistics.median(m[k] for m in good), "unit": u}
            for k, u in END_TO_END_UNITS.items()
        } if good else {}
        for c in crawls:
            if c.ok:
                self.remember(c)
        failed = sum(1 for c in crawls if not c.ok)
        return {"attempted": len(crawls), "failed": failed, "metrics": metrics}

    def history_path(self) -> str:
        return os.path.join(self.cache, "history.jsonl")

    def remember(self, c: Crawl) -> None:
        with open(self.history_path(), "a") as f:
            f.write(json.dumps({
                "workload": self.w.name, "seed": self.seed,
                **c.metrics(len(self.cpus)),
            }) + "\n")

    def untraced_rate(self) -> Optional[float]:
        """Median urls_per_core_s of this workload's last untraced runs."""
        try:
            with open(self.history_path()) as f:
                rows = [json.loads(l) for l in f if l.strip()]
        except OSError:
            return None
        rates = [r["urls_per_core_s"] for r in rows if r["workload"] == self.w.name]
        return statistics.median(rates[-10:]) if rates else None

    def traced(self) -> Dict:
        from perfbench import layers

        cores = len(self.cpus)
        base = self.untraced_rate()
        repeats = 3
        if base is None:
            # no untraced run of this workload in this checkout yet: run one,
            # and time each operator probe once to stay inside the run budget
            repeats = 1
            with self.tracer.span("untraced_baseline"):
                c0 = self.crawl(traced=False)
            if not c0.ok:
                return {"attempted": 1, "failed": 1, "metrics": {}}
            self.remember(c0)
            base = c0.metrics(cores)["urls_per_core_s"]
        c = self.crawl(traced=True, keep=True)
        if not c.ok:
            return {"attempted": 1, "failed": 1, "metrics": {}}
        try:
            m: Dict[str, float] = {}
            s = c.summary
            m.update(layers.rounds_layer(s))
            m.update(layers.storage_layer(c.state, s["urls_enqueued"]))
            lineage = self.inputs.golden["lineage"]
            n_new = sum(r[1] for r in lineage)
            n_dup = sum(r[2] for r in lineage)
            m["dedup.dup_ratio"] = n_dup / (n_new + n_dup)
            statuses = self.inputs.golden["statuses"]
            m["admission.robots_skipped_ratio"] = (
                statuses.get("SKIPPED_ROBOTS", 0) / sum(statuses.values())
            )
            m["trace.overhead_frac"] = base / c.metrics(cores)["urls_per_core_s"] - 1.0
            crawl_start_ms = (time.time() - (time.monotonic() - c.crawl_start)) * 1000.0
            with self.tracer.span("probe.spark_eventlog"):
                m.update(layers.spark_layer(self.root, c.event_dir, crawl_start_ms, cores))
            with self.tracer.span("probe.operators"):
                m.update(self.operator_probes(c, lineage, repeats))
        finally:
            shutil.rmtree(c.run_dir, ignore_errors=True)
        with self.tracer.span("probe.kernel"):
            sample = layers.sample_pages(self.inputs.pages, self.seed)
            m.update(layers.kernel_layer(sample, self.w.content_rules))
        with self.tracer.span("probe.udfs"):
            m.update(layers.udfs_layer(
                sample, self.w.content_rules, self.w.polite,
                m["kernel.extract_us_per_page"],
            ))
        with self.tracer.span("probe.scaling"):
            m.update(layers.scaling_layer(self.root, self.inputs.pages, cores))
        units = per_layer_units(self.root)
        return {
            "attempted": 1, "failed": 0,
            "metrics": {k: {"value": m[k], "unit": units[k]} for k in units},
        }

    def operator_probes(self, c: Crawl, lineage, repeats: int) -> Dict[str, float]:
        argv = [os.path.join(_HERE, "probe.py"), "--state", c.state,
                "--robots", self.inputs.robots, "--lineage", json.dumps(lineage),
                "--scratch", os.path.join(c.run_dir, "probe-store"),
                "--repeats", str(repeats)]
        run = run_tree(
            self.pinned(argv), self.env(os.path.join(c.run_dir, "probe"), None),
            c.run_dir, max(10.0, self.left() + 25.0),
            os.path.join(c.run_dir, "probe-stderr.log"),
        )
        lines = [l for _, l in run.lines if l.startswith("{")]
        if run.returncode != 0 or not lines:
            with open(os.path.join(c.run_dir, "probe-stderr.log"), "rb") as f:
                _log(f.read()[-3000:].decode("utf-8", "replace"))
            raise RuntimeError("operator probe failed")
        out = json.loads(lines[-1])
        for name, start, end in out.pop("_steps"):
            self.tracer.add(name, start, end)
        checks = out.pop("_checks")
        if not checks["new_exact"] == checks["new_cuckoo"] == checks["new_expected"]:
            raise RuntimeError(f"operator probe disagrees with the golden: {checks}")
        return out


def per_layer_units(root: str) -> Dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    root = os.getcwd()
    for need in ("jobs/crawl.py", "webcrawler_spark/__init__.py"):
        if not os.path.exists(os.path.join(root, need)):
            _log(f"{need} not found: run from the root of a repository checkout")
            return 2
    if shutil.which("taskset") is None:
        _log("taskset not found")
        return 2
    bench = Bench(root, WORKLOADS[args.workload], args.seed)
    with bench.tracer.span("workload", workload=args.workload, seed=args.seed,
                           trace=args.trace):
        with bench.tracer.span("input_prep") as sp:
            bench.inputs = prepare(
                os.path.join(bench.cache, "inputs"), bench.w, args.seed,
                min(4, len(bench.cpus)),
            )
            sp["attrs"].update(cached=bench.inputs.cached)
        _log(f"inputs: {'cached' if bench.inputs.cached else 'generated'} in "
             f"{bench.inputs.gen_s:.1f} s ({bench.inputs.dir})")
        res = bench.traced() if args.trace else bench.timed(args.seconds)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    bench.tracer.write(os.path.join(
        bench.cache, "traces", f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    ))
    failed_frac = res["failed"] / res["attempted"]
    for name, v in sorted(res["metrics"].items()):
        print(f"{args.workload} {name} = {v['value']:.6g} {v['unit']}")
    print(f"{args.workload} failed_frac = {failed_frac:.6g} ratio "
          f"({res['failed']} of {res['attempted']} runs)")
    print(json.dumps({
        "correct": res["failed"] == 0 and bool(res["metrics"]),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
