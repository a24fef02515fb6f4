"""CPU time and memory of this process and all its descendants.

The Spark JVM is a child of this Python process, and the Python
workers are children of the JVM, so the process tree rooted at this
process holds every CPU-second the engine spends. Children that already
exited are folded into their parent's ``cutime``/``cstime`` once reaped.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
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
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def engine_pss_mb(root: int | None = None) -> float:
    """Proportional resident memory (PSS) of the descendants of ``root``:
    the Spark JVM and its Python workers. PSS splits pages that forked
    workers share, so a worker pool is not counted once per worker."""
    root = os.getpid() if root is None else root
    kb = 0
    for pid in tree_pids(root):
        if pid == root:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
