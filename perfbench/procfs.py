"""CPU time and peak memory of a process tree, read from /proc."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces and parentheses; fields resume
    # after its closing parenthesis (field 3, "state", is index 0 here)
    return data[data.rindex(")") + 2:].split()


def _table() -> dict[int, list[str]]:
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                table[int(name)] = _stat_fields(int(name))
            except (FileNotFoundError, ProcessLookupError):
                pass  # exited while listing
    return table


def descendants(root: int) -> dict[int, list[str]]:
    """Live descendants of ``root`` (not ``root`` itself): pid -> stat fields."""
    table = _table()
    children: dict[int, list[int]] = {}
    for pid, fields in table.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = table[pid]
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of the descendants of ``root``,
    including their children that already exited and were reaped."""
    ticks = sum(sum(int(x) for x in f[11:15]) for f in descendants(root).values())
    return ticks / CLK_TCK


def jit_cpu_s(root: int) -> float:
    """CPU seconds of the JIT compiler threads of the JVMs under ``root``."""
    ticks = 0
    for pid, fields in descendants(root).items():
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    data = fh.read()
                if "CompilerThre" in data[:data.rindex(")")]:
                    ticks += sum(int(x) for x in data[data.rindex(")") + 2:].split()[11:13])
        except (FileNotFoundError, ProcessLookupError):
            pass
    return ticks / CLK_TCK


def steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this one
    wanted to run (summed over all CPUs)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the peak resident set (VmHWM) of the descendants of ``root``."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            pass
    return kb / 1024.0

