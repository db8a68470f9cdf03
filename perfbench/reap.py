"""Run one job process and account for its whole process tree.

    python3 perfbench/reap.py RESULT.json STDOUT STDERR TIMEOUT_S -- CMD...

The wrapper makes itself the child subreaper, so the JVM and the Python
workers the job leaves behind are re-parented here when the job exits.
It waits for every one of them (killing stragglers after a grace period)
and then reads RUSAGE_CHILDREN: user+sys CPU of the whole tree and the
largest resident set any of its processes reached. It writes

    {"returncode", "wall_s", "cpu_s", "peak_rss_mb", "killed"}

where wall_s runs from the job's spawn to its exit.
"""

from __future__ import annotations

import ctypes
import json
import os
import resource
import signal
import subprocess
import sys
import time

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 30.0


def _children(pid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the ppid is the 2nd field after the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(name))
    return out


def _reap_all(deadline: float) -> bool:
    """Wait for every descendant; kill what is still alive at the
    deadline. Returns whether anything had to be killed."""
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return killed
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children(os.getpid()):
                try:
                    os.kill(child, signal.SIGKILL)
                    killed = True
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5.0
        time.sleep(0.05)


def main() -> int:
    result, out, err, timeout = sys.argv[1:5]
    cmd = sys.argv[sys.argv.index("--") + 1 :]
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")
    killed = False
    with open(out, "wb") as fo, open(err, "wb") as fe:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, stdout=fo, stderr=fe, start_new_session=True)
        try:
            rc = proc.wait(timeout=float(timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            rc = proc.wait()
            killed = True
        wall = time.perf_counter() - t0
    killed = _reap_all(time.monotonic() + GRACE_S) or killed
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(result, "w") as f:
        json.dump(
            {
                "returncode": rc,
                "wall_s": wall,
                "cpu_s": ru.ru_utime + ru.ru_stime,
                "peak_rss_mb": ru.ru_maxrss / 1024.0,
                "killed": killed,
            },
            f,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
