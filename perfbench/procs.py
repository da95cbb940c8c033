"""The run's processes, read from ``/proc``: the tree under a root, its
resident size, and its CPU time."""

from __future__ import annotations

import os
import signal
import time

#: JVM JIT compiler threads. Their CPU time is warm-up, and it comes in
#: bursts that differ from run to run, so the CPU cost leaves it out.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of a ``stat`` file: ``[0]`` state,
    ``[1]`` ppid, ``[11]``/``[12]`` user/system ticks, ``[13]``/``[14]``
    those of reaped children, ``[21]`` resident pages. None once the
    process or thread is gone."""
    try:
        with open(path) as f:
            raw = f.read()
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw[raw.rindex(")") + 1:].split()
    except (OSError, ValueError):
        return None  # it ended while we read it
    return comm, fields


def stat(pid: int) -> list[str] | None:
    """``stat`` fields of a live process; None once it is gone or a
    zombie."""
    st = _read_stat(f"/proc/{pid}/stat")
    return None if st is None or st[1][0] == "Z" else st[1]


def snapshot(root: int, zombies: bool = False) -> dict[int, list[str]]:
    """``stat`` fields of ``root`` and of every process descended from it,
    live ones only unless ``zombies``. Spark's Python workers leave the
    run's process group, so the tree is walked by parent ids."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(f"/proc/{name}/stat")
        if st is not None and (zombies or st[1][0] != "Z"):
            stats[int(name)] = st[1]
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    tree, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return tree


def rss_mb(tree: dict[int, list[str]]) -> float:
    """Summed resident size: pages a forked worker shares with its parent
    count twice. (``smaps_rollup`` gives proportional sizes but takes tens
    of ms per read of the JVM.)"""
    return sum(int(st[21]) for st in tree.values()) * os.sysconf("SC_PAGE_SIZE") / (1 << 20)


def cpu_ticks(root: int) -> tuple[int, dict[tuple[int, int], int]]:
    """User plus system clock ticks of the process tree under ``root``:
    each process's own, which include its threads that have ended, plus
    those of the children it has reaped (zombies not yet reaped count as
    processes); and, apart, those of each JIT compiler thread."""
    total = 0
    jit = {}
    for pid, st in snapshot(root, zombies=True).items():
        total += sum(int(x) for x in st[11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            t = _read_stat(f"/proc/{pid}/task/{tid}/stat")
            if t is not None and t[0].startswith(JIT_THREADS):
                jit[(pid, int(tid))] = int(t[1][11]) + int(t[1][12])
    return total, jit


def cpu_seconds(before: tuple[int, dict[tuple[int, int], int]],
                after: tuple[int, dict[tuple[int, int], int]]) -> float:
    """CPU seconds the tree used between two ``cpu_ticks`` readings, JIT
    compiler threads left out; one first seen in ``after`` counts from
    zero. (run.py keeps the JVM's compiler threads alive for its lifetime,
    so none ends in between.)"""
    (t0, j0), (t1, j1) = before, after
    jit = sum(t - j0.get(k, 0) for k, t in j1.items())
    return (t1 - t0 - jit) / os.sysconf("SC_CLK_TCK")


def stop(seen: set[int], root: int) -> None:
    """Stop what a run started and is still alive: the tree under ``root``,
    and every process once seen in it whose parent is gone (re-parented to
    init) or was itself the run's. TERM, then KILL; wait until none is
    alive."""
    pids = set(snapshot(root))
    for pid in seen:
        st = stat(pid)
        if st is not None and int(st[1]) in seen | {1}:
            pids.add(pid)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10.0
        while time.time() < deadline and any(stat(p) for p in pids):
            time.sleep(0.1)
        pids = {p for p in pids if stat(p)}
        if not pids:
            return
    raise RuntimeError(f"processes {sorted(pids)} survived SIGKILL")
