"""The benchmark's workloads: corpus shape plus the crawl-job flags.

Every workload crawls a corpus of ``corpus._gen_page`` pages (64 hosts, Zipf
1.2 host skew) stored in ``jobs/gen_corpus.py``'s hashed layout. The
workload seed is a benchmark argument; everything else is fixed here.
README.md in this directory says why each workload exists.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Dict, List, Optional


@dataclass(frozen=True)
class Workload:
    name: str
    n_pages: int
    seeds_per_host: int
    max_depth: int
    n_hosts: int = 64
    zipf_s: float = 1.2
    polite: bool = False  # run_polite_crawl with robots + per-host budget
    per_host_budget: Optional[int] = None
    content_rules: Optional[Dict] = None

    def config(self) -> Dict:
        """The WebCrawlerConfig-shaped JSON handed to ``jobs/crawl.py``."""
        cfg: Dict = {"maxDepth": self.max_depth}
        if self.content_rules:
            cfg["contentRules"] = dict(self.content_rules)
        return cfg

    def job_args(self, pages: str, seeds: str, robots: str, config: str,
                 state_dir: str) -> List[str]:
        args = [
            "--pages", pages, "--entry", "@" + seeds, "--state-dir", state_dir,
            "--config", config,
        ]
        if self.polite:
            args += ["--robots", robots]
            if self.per_host_budget is not None:
                args += ["--per-host-budget", str(self.per_host_budget)]
        return args

    def input_key(self) -> Dict:
        """Every parameter the generated inputs and their golden depend on."""
        return {
            "n_pages": self.n_pages,
            "n_hosts": self.n_hosts,
            "zipf_s": self.zipf_s,
            "seeds_per_host": self.seeds_per_host,
            "config": self.config(),
            "polite": self.polite,
            "per_host_budget": self.per_host_budget,
        }


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in [
        # parse-bound: wide rounds of the rules-less loop, exact seen set,
        # then the fused rules-less docs pass
        Workload(
            name="wide_docs",
            n_pages=12_000,
            seeds_per_host=50,
            max_depth=2,
        ),
        # the polite loop with every mechanism on: budget admission, robots,
        # content rules (tail docs pass + DUPLICATE marking); the budget binds
        # on the hottest host for one round past the depth limit
        Workload(
            name="polite_rules",
            n_pages=4_000,
            seeds_per_host=4,
            max_depth=2,
            polite=True,
            per_host_budget=250,
            content_rules={"tagName": "p", "minCharacter": 20},
        ),
    ]
}
