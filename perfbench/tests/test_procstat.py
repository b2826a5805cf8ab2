"""The /proc sampler keeps the CPU of a child that has already exited."""

import os
import subprocess
import sys
import time

import pytest

import procstat

# The child waits for "go", starts a grandchild that burns 0.5 s of CPU,
# lets it exit, optionally reaps it, reports its pid and then idles.
CHILD = r"""
import os, subprocess, sys, time
print("ready", flush=True)
sys.stdin.readline()
g = subprocess.Popen([sys.executable, "-c",
    "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass"])
if sys.argv[1] == "reap":
    g.wait()
else:
    while open(f"/proc/{g.pid}/stat").read().rsplit(")", 1)[1].split()[0] != "Z":
        time.sleep(0.01)
print(g.pid, flush=True)
time.sleep(60)
"""


@pytest.mark.parametrize("mode", ["reap", "zombie"])
def test_tree_cpu_counts_exited_child(mode):
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD, mode],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert child.stdout.readline().strip() == "ready"
        before = sum(p["own_s"] + p["reaped_s"] for p in procstat.process_tree(child.pid).values())
        child.stdin.write("go\n")
        child.stdin.flush()
        grandchild = int(child.stdout.readline())
        tree = procstat.process_tree(child.pid)
        after = sum(p["own_s"] + p["reaped_s"] for p in tree.values())
        if mode == "reap":
            assert grandchild not in tree
        else:
            assert grandchild in tree
        assert after - before >= 0.4
    finally:
        child.kill()
        child.wait(timeout=10)


def test_roles_and_host_counters():
    roles = procstat.cpu_by_role(os.getpid())
    assert roles["driver_py"] > 0 and roles["rss_mb"] > 0
    assert abs(roles["total"] - sum(roles[k] for k in ("driver_py", "jvm", "pyworker", "other"))) < 1e-9
    h0 = procstat.host_cpu()
    t = time.process_time()
    while time.process_time() - t < 0.2:
        pass
    h1 = procstat.host_cpu()
    assert h1["busy"] - h0["busy"] >= 0.15 and h1["steal"] >= h0["steal"]


def test_thread_roles():
    assert procstat.ThreadCpu(os.getpid()).sample() == {"jit": 0.0, "gc": 0.0}
    assert procstat.thread_role("C2 CompilerThre") == "jit"
    assert procstat.thread_role("GC Thread#3") == "gc"
    assert procstat.thread_role("Executor task l") is None
