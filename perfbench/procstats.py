"""CPU time of the program's processes, from /proc.

The program is this Python process (the Spark driver's Python side),
the JVM it launched, and the Python workers the JVM forks.  CPU of a
process that has exited is counted through its parent's ``cutime``
once the parent reaps it, so summing ``utime+stime+cutime+cstime`` over
the live JVM subtree counts every worker exactly once.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    head, _, rest = raw.rpartition(")")
    return [head.split("(", 1)[1]] + rest.split()


def process_start_epoch() -> float:
    """Wall-clock start time of this process."""
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    start_ticks = int(_stat(os.getpid())[20])
    return btime + start_ticks / _TICK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[2]), []).append(int(name))
    return kids


class ProgramProcs:
    """The JVM child of this process and its descendants."""

    def __init__(self):
        kids = _children_map()
        jvms = [p for p in kids.get(os.getpid(), []) if (_stat(p) or [""])[0] == "java"]
        if len(jvms) != 1:
            raise RuntimeError(f"expected one JVM child process, found {jvms}")
        self.jvm = jvms[0]

    def _subtree(self) -> tuple[list[int], list[int]]:
        """(JVM subtree pids, the Python ones among them)."""
        kids = _children_map()
        out, todo = [], [self.jvm]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, []))
        py = [p for p in out if (_stat(p) or [""])[0].startswith("python")]
        return out, py

    @staticmethod
    def _cpu(pids: list[int], with_children: bool = True) -> float:
        total = 0
        for p in pids:
            st = _stat(p)
            if st is not None:
                total += int(st[12]) + int(st[13])  # utime, stime
                if with_children:
                    total += int(st[14]) + int(st[15])  # cutime, cstime
        return total / _TICK

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds: ``program`` (this process + the JVM
        subtree) and ``python_workers`` (the Python part of the subtree)."""
        tree, py = self._subtree()
        own = self._cpu([os.getpid()], with_children=False)
        return {"program": own + self._cpu(tree), "python_workers": self._cpu(py)}


def kill_descendants(root: int, timeout: float = 10.0) -> None:
    """SIGKILL every descendant of ``root`` and wait until each has
    gone: direct children are reaped here, the others by whichever
    process adopts them."""
    kids = _children_map()
    tree, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        tree.append(p)
        todo.extend(kids.get(p, []))
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    end = time.time() + timeout
    for p in tree:
        while time.time() < end:
            try:
                if os.waitpid(p, os.WNOHANG)[0] == p:
                    break
            except ChildProcessError:  # not our child: gone once /proc forgets it
                st = _stat(p)
                if st is None or st[1] == "Z":
                    break
            time.sleep(0.05)
