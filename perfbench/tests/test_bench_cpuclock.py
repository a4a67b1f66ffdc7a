"""The process-tree CPU clock counts child processes."""

import os
import subprocess
import sys
import time

from cpuclock import tree_cpu

SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\ninput()"


def own_cpu() -> float:
    t = os.times()
    return t.user + t.system


def test_running_and_ended_children_count():
    before, own_before = tree_cpu(), own_cpu()
    child = subprocess.Popen([sys.executable, "-c", SPIN], stdin=subprocess.PIPE)
    # while the child runs, its CPU shows through its own /proc entry
    while tree_cpu(child.pid) < 0.45:
        assert child.poll() is None
        time.sleep(0.05)
    child.communicate(b"\n")
    # once reaped, it shows through this process's cutime/cstime
    assert tree_cpu() - before - (own_cpu() - own_before) >= 0.45
