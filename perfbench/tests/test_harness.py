"""Process clean-up: a run must not leave a process behind."""

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import harness  # noqa: E402


def _alive_below(pid: int) -> list[int]:
    return [p for p in harness._descendants(pid, harness._proc_table()) if p != pid]


def test_reap_waits_for_an_orphaned_grandchild():
    harness.become_subreaper()
    # the child starts a grandchild and exits at once, orphaning it
    subprocess.run([sys.executable, "-c",
                    "import subprocess, sys; subprocess.Popen("
                    "[sys.executable, '-c', 'import time; time.sleep(0.5)'])"], check=True)
    assert _alive_below(os.getpid())  # re-parented to this process
    harness.reap_descendants(grace_s=10)
    assert _alive_below(os.getpid()) == []


def test_reap_terminates_a_child_that_outlives_the_grace():
    subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    t = time.monotonic()
    harness.reap_descendants(grace_s=0.2)
    assert _alive_below(os.getpid()) == []
    assert time.monotonic() - t < 5
