"""Outside-in process counters read from ``/proc`` (Linux only).

The benchmark watches the Spark JVM and every Python worker below it
(the ``pyspark.daemon`` and the workers it forks). ``psutil`` is not
needed: VmHWM comes from ``/proc/<pid>/status`` and CPU time from the
utime, stime, cutime and cstime fields of ``/proc/<pid>/stat``, so the
CPU of workers that already exited is still counted through the parent
that reaped them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name is in parentheses and may hold spaces.
    return raw[raw.rindex(")") + 2 :].split()


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        kids = _children(p)
        seen.extend(kids)
        todo.extend(kids)
    return seen


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv0 = fh.read().split(b"\0", 1)[0]
    except OSError:
        return False
    return b"python" in os.path.basename(argv0)


def find_jvm(parent_pid: int) -> int:
    """The Spark JVM: the java process among ``parent_pid``'s descendants."""
    for pid in descendants(parent_pid):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0", 1)[0]
        except OSError:
            continue
        if os.path.basename(argv0) == b"java":
            return pid
    raise RuntimeError(f"no java process below pid {parent_pid}")


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host from ``/proc/stat``:
    steal is time the hypervisor gave this machine's CPUs to others."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


@dataclass
class Sample:
    jvm_cpu_s: float
    workers_cpu_s: float
    jvm_hwm_mb: float
    worker_hwm_mb: float


def sample(jvm_pid: int) -> Sample:
    """CPU and peak RSS of the JVM and of its Python worker descendants.
    Worker CPU includes cutime + cstime, which holds the workers that
    the daemon already reaped."""
    f = _stat_fields(jvm_pid)
    workers = [p for p in descendants(jvm_pid) if _is_python(p)]
    w_cpu = 0.0
    for p in workers:
        g = _stat_fields(p)
        if g is not None:
            w_cpu += sum(int(x) for x in g[11:15]) / _TICK
    return Sample(
        jvm_cpu_s=sum(int(x) for x in f[11:13]) / _TICK if f else 0.0,
        workers_cpu_s=w_cpu,
        jvm_hwm_mb=vm_hwm_mb(jvm_pid),
        worker_hwm_mb=max((vm_hwm_mb(p) for p in workers), default=0.0),
    )
