"""A run ends every process it started, orphans and zombies included."""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A child leaves a running grandchild and a zombie it never reaps (as
# Spark's launcher does with its subshell), then is killed itself.
SCRIPT = r"""
import json, os, signal, subprocess, sys
sys.path.insert(0, sys.argv[1])
import procstat

procstat.become_subreaper()
child = subprocess.Popen([sys.executable, "-c", '''
import os, subprocess, sys, time
sleeper = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
zombie = os.fork()
if zombie == 0:
    os._exit(0)
print(sleeper.pid, zombie, flush=True)
time.sleep(60)
'''], stdout=subprocess.PIPE, text=True)
orphans = [int(p) for p in child.stdout.readline().split()]
child.kill()
child.wait()
adopted = [procstat.process_tree(os.getpid()).get(p, {}).get("ppid") == os.getpid() for p in orphans]
reaped = procstat.end_descendants()
print(json.dumps({"orphans": orphans + [child.pid], "adopted": adopted, "reaped": reaped}))
"""


def test_orphans_are_adopted_killed_and_reaped():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, HERE], capture_output=True, text=True, timeout=60, check=True
    )
    r = json.loads(out.stdout.splitlines()[-1])
    assert r["adopted"] == [True, True]
    assert r["reaped"] == 2
    for pid in r["orphans"]:
        assert not os.path.exists(f"/proc/{pid}")
