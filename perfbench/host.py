"""Host fingerprint, process-tree memory sampling and process reaping.

The fingerprint is two zlib throughputs (1 MB buffer, level 6):
``cpu_1core`` from this process alone and ``cpu_allcore`` from one worker
per core. Workers start their timed loops together on a shared barrier, so
no worker runs uncontended while the others are still starting. Each is
reported as best-of-N next to the median of N; ``host_class`` is derived
from the medians so that a reading can be compared with runs on other
hosts.
"""

from __future__ import annotations

import ctypes
import multiprocessing as mp
import os
import queue as queue_mod
import signal
import statistics
import threading
import time
import zlib

_ROUNDS = 3
_ITERS = 4
# compressions/s of one core below which a host is classed "slow"; the
# 4-vCPU host this benchmark was tuned on reads about 20
_SLOW_1CORE = 30.0


def _burn(data: bytes, iters: int) -> float:
    t0 = time.perf_counter()
    for _ in range(iters):
        zlib.compress(data, 6)
    return time.perf_counter() - t0


def _worker(barrier, queue, rounds: int, iters: int) -> None:
    data = os.urandom(1 << 20)
    _burn(data, 1)
    for r in range(rounds):
        barrier.wait()
        queue.put((r, _burn(data, iters)))


def fingerprint(cores: int) -> dict:
    data = os.urandom(1 << 20)
    _burn(data, 1)
    one = [_ITERS / _burn(data, _ITERS) for _ in range(_ROUNDS)]

    # fork, not spawn: the spawn context starts a resource-tracker process
    # that outlives the run; no thread is running yet when this is called
    ctx = mp.get_context("fork")
    barrier = ctx.Barrier(cores)
    queue = ctx.Queue()
    procs = [
        ctx.Process(target=_worker, args=(barrier, queue, _ROUNDS, _ITERS), daemon=True)
        for _ in range(cores)
    ]
    for p in procs:
        p.start()
    slowest: dict[int, float] = {}
    try:
        # drain before join: a worker blocks on exit until its queue is read
        for _ in range(cores * _ROUNDS):
            while True:
                try:
                    r, t = queue.get(timeout=2)
                    break
                except queue_mod.Empty:
                    dead = [p.exitcode for p in procs if p.exitcode not in (None, 0)]
                    if dead:
                        raise RuntimeError(f"fingerprint worker died: {dead}") from None
            slowest[r] = max(slowest.get(r, 0.0), t)
    finally:
        for p in procs:
            p.join(timeout=10)
            if p.is_alive():
                p.terminate()
                p.join()
    alls = [cores * _ITERS / t for t in slowest.values()]
    med_one, med_all = statistics.median(one), statistics.median(alls)
    eff = med_all / (cores * med_one)
    speed = "slow" if med_one < _SLOW_1CORE else "fast"
    return {
        "cores": cores,
        "cpu_1core_best": round(max(one), 2),
        "cpu_1core_median": round(med_one, 2),
        "cpu_allcore_best": round(max(alls), 2),
        "cpu_allcore_median": round(med_all, 2),
        "allcore_eff": round(eff, 3),
        "host_class": f"{speed}-{'contended' if eff < 0.7 else 'clean'}",
    }


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """``{pid: (parent pid, state, resident pages)}`` of every process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
        # the command name may contain spaces: fields resume after ')'
        fields = stat[stat.rfind(")") + 2:].split()
        table[int(name)] = (int(fields[1]), fields[0], pages)
    return table


def _descendants(table: dict, root_pid: int) -> set[int]:
    tree = {root_pid}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in table.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree - {root_pid}


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants."""
    table = _proc_table()
    tree = _descendants(table, root_pid) | {root_pid}
    return sum(table[p][2] for p in tree if p in table) * os.sysconf("SC_PAGE_SIZE")


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``). Spark's Python workers are children of
    the JVM; without this, one that exits after the JVM is left to init,
    and :func:`reap_descendants` could neither wait for it nor reap it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # 36 = PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(grace_s: float = 10.0) -> None:
    """Terminate every process still below this one and return once each
    has exited and been reaped; SIGKILL follows SIGTERM after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        table = _proc_table()
        for pid in _descendants(table, os.getpid()):
            if table[pid][1] != "Z":
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


class RssSampler:
    """Peak resident memory of this process tree (this process, the JVM, Python
    workers) while the sampler is entered; sampled on a background thread."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)
