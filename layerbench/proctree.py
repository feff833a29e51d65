"""CPU time and peak RSS of a process tree, read from ``/proc``.

The package does not depend on ``psutil``, so the benchmark reads procfs:

- CPU: ``utime + stime + cutime + cstime`` from ``/proc/<pid>/stat`` of every
  live process in the tree. ``cutime``/``cstime`` carry the time of children
  that already exited and were reaped (short-lived Python workers), so a
  delta over a run covers them as long as their parent is in the tree.
- Memory: ``VmHWM`` from ``/proc/<pid>/status`` summed over the tree. Writing
  ``5`` to ``/proc/<pid>/clear_refs`` resets each process's high-water mark
  to its current RSS, so the sum after a run is the tree's peak during it
  (an upper bound on the true simultaneous peak, since each process may
  peak at a different moment).
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the comm field may contain spaces; everything after the last ')' is fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields are numbered from state (=3): utime 14, stime 15, cutime 16, cstime 17
            total += sum(int(fields[i]) for i in (11, 12, 13, 14))
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (``steal``, the 8th value of the ``cpu`` line of
    ``/proc/stat``); 0 where the kernel does not count it."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def reset_peak_rss(root: int) -> None:
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process exited since it was listed


def peak_rss_mb(root: int) -> float:
    kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids: list[int], timeout: float = 60.0) -> list[int]:
    """Wait until none of ``pids`` is running (processes re-parented after
    their parent died are covered because the pids are a snapshot); kill
    stragglers at the deadline. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return []
        time.sleep(0.2)
    killed = [p for p in pids if _alive(p)]
    for pid in killed:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    return killed
