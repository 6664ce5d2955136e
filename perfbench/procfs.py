"""/proc readers for the Spark JVM and the Python workers it launches.

``psutil`` is not a dependency of the program, so the benchmark reads /proc
directly (Linux only).
"""

from __future__ import annotations

import os
import time

MB = 1 << 20
CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds including reaped children) for every process."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:
            continue  # exited while scanning
        fields = data[data.rindex(")") + 2:].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        table[int(entry)] = (int(fields[1]), ticks / CLK_TCK)
    return table


def descendants(table: dict[int, tuple[int, float]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    todo, found = list(children.get(root, [])), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def status_kb(pid: int, key: str) -> float:
    """One ``/proc/<pid>/status`` field in kB, or 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


class EngineProbe:
    """CPU, memory and I/O counters of the JVM and its descendant processes."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def cpu_s(self) -> float:
        """CPU seconds so far of this driver process, the JVM and its workers."""
        table = proc_table()
        engine = [self.jvm_pid, *descendants(table, self.jvm_pid)]
        return time.process_time() + sum(table[p][1] for p in engine if p in table)

    def workers(self) -> tuple[float, float]:
        """(CPU seconds, peak RSS MB) over the JVM's descendant processes."""
        table = proc_table()
        found = descendants(table, self.jvm_pid)
        cpu = sum(table[p][1] for p in found)
        peak = max((status_kb(p, "VmHWM") for p in found), default=0.0)
        return cpu, peak / 1024

    def jvm_peak_rss_mb(self) -> float:
        return status_kb(self.jvm_pid, "VmHWM") / 1024

    def io_mb(self) -> tuple[float, float]:
        """(read, write) MB the JVM caused the storage layer to do."""
        values = {}
        with open(f"/proc/{self.jvm_pid}/io") as f:
            for line in f:
                key, _, value = line.partition(":")
                values[key] = int(value)
        return values["read_bytes"] / MB, values["write_bytes"] / MB
