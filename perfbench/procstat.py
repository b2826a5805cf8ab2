"""CPU, memory and host counters read from ``/proc``, and the ending of
every process a run leaves behind.

Process-tree CPU: every live process under the benchmark's own pid
contributes its own user+system time plus the time of children it has
already reaped (``cutime``/``cstime``). A Python worker that exits and is
reaped by the PySpark daemon therefore moves its whole CPU time into the
daemon's children counter, and a delta between two samples stays exact
as long as the reaper is itself in the tree.

The tree is split by role: the driver interpreter (the root), the JVM
(``java`` processes, own time only) and the Python workers (python
descendants of the JVM, plus the JVM's reaped children).

JIT and GC CPU come from the JVM's thread names. Compiler threads come
and go, so ``ThreadCpu`` keeps the last value seen per thread and adds
only positive progress; CPU a thread spends after its last sample and
before it exits is lost, which makes these two counters lower bounds.
"""

from __future__ import annotations

import ctypes
import os
import signal

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    lpar, rpar = raw.index("("), raw.rindex(")")
    # fields after the command: [0]=state [1]=ppid ... [11]=utime [12]=stime
    # [13]=cutime [14]=cstime ... [21]=rss (pages)
    return raw[lpar + 1 : rpar], raw[rpar + 2 :].split()


def process_tree(root: int) -> dict[int, dict]:
    """``pid -> {comm, ppid, own_s, reaped_s, rss_mb}`` for root and its
    descendants (zombies included: their times are still readable)."""
    procs: dict[int, dict] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _read_stat(f"/proc/{name}/stat")
        if st is None:
            continue
        comm, f = st
        procs[int(name)] = {
            "comm": comm,
            "ppid": int(f[1]),
            "own_s": (int(f[11]) + int(f[12])) / CLK_TCK,
            "reaped_s": (int(f[13]) + int(f[14])) / CLK_TCK,
            "rss_mb": int(f[21]) * PAGE / 2**20,
        }
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p["ppid"], []).append(pid)
    tree: dict[int, dict] = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in procs and pid not in tree:
            tree[pid] = procs[pid]
            stack.extend(kids.get(pid, []))
    return tree


def cpu_by_role(root: int) -> dict[str, float]:
    """Cumulative CPU seconds of the tree under ``root`` by role, plus the
    tree's resident memory in MB."""
    tree = process_tree(root)
    jvms = {pid for pid, p in tree.items() if p["comm"] == "java"}

    def under_jvm(pid: int) -> bool:
        while pid in tree and pid != root:
            pid = tree[pid]["ppid"]
            if pid in jvms:
                return True
        return False

    out = {"driver_py": 0.0, "jvm": 0.0, "pyworker": 0.0, "other": 0.0}
    for pid, p in tree.items():
        if pid == root:
            out["driver_py"] += p["own_s"]
            out["other"] += p["reaped_s"]
        elif pid in jvms:
            out["jvm"] += p["own_s"]
            out["pyworker"] += p["reaped_s"]
        elif under_jvm(pid):
            out["pyworker"] += p["own_s"] + p["reaped_s"]
        else:
            out["other"] += p["own_s"] + p["reaped_s"]
    out["total"] = out["driver_py"] + out["jvm"] + out["pyworker"] + out["other"]
    out["rss_mb"] = sum(p["rss_mb"] for p in tree.values())
    return out


def jvm_pids(root: int) -> list[int]:
    return [pid for pid, p in process_tree(root).items() if p["comm"] == "java"]


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process adopt its orphaned descendants instead of pid 1.

    Spark's launcher script leaves a subshell that the JVM does not always
    reap, and the PySpark daemon's workers can outlive the JVM; once
    adopted, ``end_descendants`` can stop and wait for each of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        errno = ctypes.get_errno()
        raise OSError(errno, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(errno)}")


def end_descendants() -> int:
    """Kill every process still under this one and wait until each has
    ended; returns how many were reaped. Needs ``become_subreaper`` first,
    or orphans escape to pid 1."""
    me, reaped = os.getpid(), 0
    while True:
        for pid in process_tree(me):
            if pid != me:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:  # no child left, hence no descendant
            return reaped
        reaped += 1


def host_cpu() -> dict[str, float]:
    """Whole-machine CPU seconds from the first line of ``/proc/stat``:
    ``busy`` (user, nice, system, irq, softirq) and ``steal``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return {
        "busy": (user + nice + system + irq + softirq) / CLK_TCK,
        "steal": steal / CLK_TCK,
    }


def thread_role(comm: str) -> str | None:
    if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "jit"
    if comm.startswith(("GC Thread", "G1 ", "VM Thread")):
        return "gc"
    return None


class ThreadCpu:
    """Accumulates JIT and GC thread CPU of one process across samples."""

    def __init__(self, pid: int):
        self.pid = pid
        self.last: dict[int, float] = {}
        self.total = {"jit": 0.0, "gc": 0.0}
        self._primed = False

    def sample(self) -> dict[str, float]:
        try:
            tids = os.listdir(f"/proc/{self.pid}/task")
        except FileNotFoundError:
            return dict(self.total)
        for tid in tids:
            st = _read_stat(f"/proc/{self.pid}/task/{tid}/stat")
            if st is None:
                continue
            role = thread_role(st[0])
            if role is None:
                continue
            cpu = (int(st[1][11]) + int(st[1][12])) / CLK_TCK
            prev = self.last.get(int(tid))
            if prev is None:
                # a thread first seen after priming started since the last sample
                prev = cpu if not self._primed else 0.0
            self.total[role] += max(cpu - prev, 0.0)
            self.last[int(tid)] = cpu
        self._primed = True
        return dict(self.total)
