"""spans.cpu_seconds counts the CPU of threads that exited between two
reads, and of child processes."""

from __future__ import annotations

import os
import subprocess
import sys

from spans import cpu_seconds

# Waits for a line, burns ~0.5 s of CPU in a short-lived thread (and in a
# child process when asked), and reports when the work has ended.
CHILD = """
import subprocess, sys, threading, time
def spin():
    t = time.process_time()
    while time.process_time() - t < 0.5:
        pass
while True:
    what = sys.stdin.readline().strip()
    if not what:
        break
    if what == "thread":
        t = threading.Thread(target=spin)
        t.start()
        t.join()
    else:
        subprocess.run([sys.executable, "-c", "import time\\nt = time.process_time()\\n"
                        "while time.process_time() - t < 0.5: pass"])
    print("done", flush=True)
"""


def _others(pid: int) -> float:
    own = os.times()
    return cpu_seconds(pid) - own.user - own.system


def test_exited_thread_and_child_counted():
    proc = subprocess.Popen(
        [sys.executable, "-c", CHILD], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    try:
        for what in ("thread", "child"):
            before = _others(proc.pid)
            proc.stdin.write(what + "\n")
            proc.stdin.flush()
            assert proc.stdout.readline().strip() == "done"
            assert _others(proc.pid) - before >= 0.4, what
    finally:
        proc.stdin.close()
        proc.wait(timeout=30)
