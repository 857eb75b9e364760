"""Run one crawl-job process tree and measure it from outside through /proc.

The job runs pinned with ``taskset`` in a new session. The tree is every
process in that session: the Python driver, the JVM it launches, and the
PySpark daemon and workers the JVM forks. The daemon moves itself into a
process group of its own, so the session, not the process group, is what
holds the whole tree. A sampler thread walks /proc every ``interval`` seconds
and records for the tree:

- cumulative user+sys CPU seconds, kept per pid as its last value seen, so a
  process that exits keeps its CPU in the total;
- every ``pss_every``-th sample, the summed proportional set size (PSS),
  whose maximum is the tree's peak memory. Reading a 2 GB JVM's PSS takes
  tens of milliseconds, hence the lower rate. PSS splits each shared page
  among the processes mapping it. The JVM forks short-lived children
  (``jspawnhelper``, ``chmod``) that carry its whole heap as shared pages
  until they exec, and a plain RSS sum would count that heap twice whenever
  a sample lands on one.

Each stdout line is stamped with its arrival time: ``jobs/crawl.py`` prints
its JSON summary right after it stops its crawl clock, so the stamp minus the
job's own ``wall_sec`` is the instant the timed crawl began.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> Optional[Tuple[int, int]]:
    """(session id, user+sys cpu ticks) of one pid, or None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    rest = raw[raw.rindex(b")") + 2:].split()
    return int(rest[3]), int(rest[11]) + int(rest[12])


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def session_cpu(sid: int) -> Dict[int, int]:
    """pid -> cpu ticks of every live process in session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[0] == sid:
                out[int(name)] = st[1]
    return out


@dataclass
class TreeSample:
    t: float
    cpu_s: float
    pss_mb: Optional[float]  # None on samples that skip the PSS read


@dataclass
class JobRun:
    returncode: Optional[int]
    timed_out: bool
    t_launch: float
    t_exit: float
    lines: List[Tuple[float, str]] = field(default_factory=list)
    samples: List[TreeSample] = field(default_factory=list)

    def cpu_at(self, t: float) -> float:
        """Tree CPU seconds at monotonic time ``t``, linearly interpolated."""
        s = self.samples
        if not s:
            return 0.0
        if t <= s[0].t:
            return s[0].cpu_s
        for a, b in zip(s, s[1:]):
            if a.t <= t <= b.t:
                if b.t == a.t:
                    return b.cpu_s
                return a.cpu_s + (b.cpu_s - a.cpu_s) * (t - a.t) / (b.t - a.t)
        return s[-1].cpu_s

    @property
    def peak_pss_mb(self) -> float:
        return max((x.pss_mb for x in self.samples if x.pss_mb is not None), default=0.0)


class _Sampler(threading.Thread):
    def __init__(self, sid: int, interval: float, pss_every: int) -> None:
        super().__init__(daemon=True)
        self.sid = sid
        self.interval = interval
        self.pss_every = pss_every
        self.samples: List[TreeSample] = []
        self._cpu: Dict[int, int] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        with_pss = len(self.samples) % self.pss_every == 0
        live = session_cpu(self.sid)
        self._cpu.update(live)
        pss_kb = sum(_pss_kb(pid) for pid in live) if with_pss else 0
        self.samples.append(TreeSample(
            time.monotonic(), sum(self._cpu.values()) / _TICK,
            pss_kb / 1024 if with_pss else None,
        ))

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def _kill_session(sid: int) -> None:
    for pid in session_cpu(sid):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _wait_session_gone(sid: int, timeout: float) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not session_cpu(sid):
            return True
        time.sleep(0.05)
    return False


def run_tree(
    cmd: List[str],
    env: Dict[str, str],
    cwd: str,
    timeout_s: float,
    stderr_path: str,
    interval: float = 0.2,
    pss_every: int = 5,
) -> JobRun:
    """Run ``cmd`` in a new session and wait for every process in it to end.

    On timeout the whole session is killed and the run is marked timed out.
    After a normal exit, processes the driver left behind (an orphaned JVM
    still shutting down) get a short grace period, then are killed too.
    """
    with open(stderr_path, "wb") as err:
        t_launch = time.monotonic()
        proc = subprocess.Popen(
            cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
            start_new_session=True,
        )
        sampler = _Sampler(proc.pid, interval, pss_every)
        sampler.start()
        lines: List[Tuple[float, str]] = []

        def read() -> None:
            for raw in proc.stdout:
                lines.append((time.monotonic(), raw.decode("utf-8", "replace")))

        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        timed_out = False
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            timed_out = True
            _kill_session(proc.pid)
            proc.wait()
        t_exit = time.monotonic()
        if not _wait_session_gone(proc.pid, 20.0):
            _kill_session(proc.pid)
            _wait_session_gone(proc.pid, 20.0)
        sampler.stop()
        reader.join(timeout=10.0)
        proc.stdout.close()
    return JobRun(
        returncode=None if timed_out else proc.returncode,
        timed_out=timed_out,
        t_launch=t_launch,
        t_exit=t_exit,
        lines=lines,
        samples=sampler.samples,
    )
