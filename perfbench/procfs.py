"""Host and process-tree accounting from ``/proc`` (no psutil).

Two readings feed the benchmark:

- ``/proc/stat`` CPU counters, whose deltas over a pass give the host's
  busy and steal fractions (drift evidence: a pass that slowed while the
  tree's CPU seconds did not is the host, not the program);
- ``/proc/<pid>/stat`` of the benchmark's own process tree (this process,
  its JVM, the forked Python daemon and workers), summed for CPU
  seconds and resident memory.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")

# /proc/stat "cpu" line field order (proc(5))
CPU_FIELDS = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
              "steal")


def parse_cpu_line(text: str) -> dict[str, int]:
    """The aggregate ``cpu`` line of a /proc/stat text, as jiffies."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            vals = [int(v) for v in parts[1:1 + len(CPU_FIELDS)]]
            vals += [0] * (len(CPU_FIELDS) - len(vals))
            return dict(zip(CPU_FIELDS, vals))
    raise ValueError("no aggregate cpu line in /proc/stat text")


def host_fracs(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    """Busy and steal shares of all host CPU time between two readings.

    Busy is everything but idle and iowait; steal counts toward the
    total, since it is time this guest wanted and the hypervisor kept."""
    d = {k: after[k] - before[k] for k in CPU_FIELDS}
    total = sum(d.values())
    if total <= 0:
        return {"busy_frac": 0.0, "steal_frac": 0.0}
    return {
        "busy_frac": (total - d["idle"] - d["iowait"]) / total,
        "steal_frac": d["steal"] / total,
    }


def read_host_cpu() -> dict[str, int]:
    with open("/proc/stat") as fh:
        return parse_cpu_line(fh.read())


def parse_pid_stat(text: str) -> tuple[int, int, float, int]:
    """``(pid, ppid, cpu_s, rss_bytes)`` from one /proc/<pid>/stat line.

    ``cpu_s`` is utime + stime + cutime + cstime: a reaped child's time
    moves into its parent's c-fields, so summing all four over the live
    tree counts every CPU second of the tree exactly once. The command
    name may hold spaces and parentheses; fields are split after the
    last ')'."""
    pid = int(text[: text.index(" ")])
    rest = text[text.rindex(")") + 2:].split()
    # rest[0] is field 3 (state); field n sits at rest[n - 3]
    ppid = int(rest[1])
    ticks = sum(int(rest[i]) for i in (11, 12, 13, 14))  # fields 14-17
    rss_pages = int(rest[21])  # field 24
    return pid, ppid, ticks / CLK_TCK, rss_pages * PAGE_SIZE


def tree_pids(parents: dict[int, int], root: int) -> set[int]:
    """``root`` and every descendant of it, given a pid -> ppid map."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, ()))
    return out


def _read_stats(names) -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu_s, rss_bytes) of the listed pids still alive."""
    stats: dict[int, tuple[int, float, int]] = {}
    for name in names:
        try:
            with open(f"/proc/{name}/stat") as fh:
                pid, ppid, cpu, rss = parse_pid_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited between listing and open
        stats[pid] = (ppid, cpu, rss)
    return stats


def live_tree(root: int | None = None) -> set[int]:
    """``root`` (default: this process) and its live descendants."""
    root = os.getpid() if root is None else root
    stats = _read_stats(n for n in os.listdir("/proc") if n.isdigit())
    return tree_pids({p: s[0] for p, s in stats.items()}, root)


def usage(pids) -> tuple[float, int]:
    """``(cpu_s, rss_bytes)`` summed over those of ``pids`` still alive."""
    stats = _read_stats(pids)
    return (sum(s[1] for s in stats.values()),
            sum(s[2] for s in stats.values()))


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """``(cpu_s, rss_bytes)`` summed over ``root``'s live process tree."""
    return usage(live_tree(root))


def threads_cpu_s(pids, prefix: str | tuple[str, ...]) -> float:
    """CPU seconds of the threads of ``pids`` whose name starts with
    ``prefix`` (or one of several), from ``/proc/<pid>/task/<tid>/stat``;
    the kernel cuts thread names to 15 characters."""
    total = 0.0
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    text = fh.read()
            except OSError:
                continue
            if text[text.index("(") + 1:text.rindex(")")].startswith(prefix):
                rest = text[text.rindex(")") + 2:].split()
                total += (int(rest[11]) + int(rest[12])) / CLK_TCK
    return total


def process_age_s() -> float:
    """Seconds since this process started, from /proc/uptime and the
    process's own start time (both counted from boot)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    with open("/proc/self/stat") as fh:
        text = fh.read()
    start_ticks = int(text[text.rindex(")") + 2:].split()[19])  # field 22
    return uptime - start_ticks / CLK_TCK
