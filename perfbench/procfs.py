"""Memory and CPU of the Spark JVM and its python workers, read from /proc
(psutil is not installed)."""

from __future__ import annotations

import os

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int, tid: int | None = None) -> list[str]:
    """/proc/<pid>/stat (or a thread's) after the command name: fields 3
    onwards."""
    path = f"/proc/{pid}/stat" if tid is None else f"/proc/{pid}/task/{tid}/stat"
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(d))[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(pid: int) -> list[int]:
    """`pid` and all its live descendants."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _kb(path: str, key: str) -> int:
    try:
        with open(path) as f:
            return next(int(line.split()[1]) for line in f if line.startswith(key))
    except (OSError, StopIteration, ValueError):
        return 0


def peak_rss_kb(pid: int) -> int:
    """The process's own peak resident memory (VmHWM)."""
    return _kb(f"/proc/{pid}/status", "VmHWM:")


def pss_kb(pid: int) -> int:
    """Proportional set size: pages shared with other processes (a forked
    python worker's copy-on-write pages) count once across them."""
    return _kb(f"/proc/{pid}/smaps_rollup", "Pss:")


def machine_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def python_workers(jvm_pid: int) -> list[int]:
    """The pyspark daemon and the workers it forks. Other descendants of
    the JVM are left out: a child it spawns for a shell command shares the
    JVM's memory until it execs, so its Pss would count the JVM again."""
    return [p for p in process_tree(jvm_pid) if p != jvm_pid and _is_python(p)]


def _cpu_ticks(pid: int, reaped: bool) -> int:
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    return ticks + int(f[13]) + int(f[14]) if reaped else ticks


def python_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the python workers so far: those alive,
    plus those the daemon has reaped (its cutime/cstime)."""
    total = 0
    for p in python_workers(jvm_pid):
        try:
            total += _cpu_ticks(p, reaped=True)
        except (OSError, IndexError, ValueError):
            continue
    return total * _TICK_S


# JVM threads that compile and sweep code: C1/C2 "CompilerThread<n>" and
# the code-cache "Sweeper thread" (comm keeps 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT threads so far. They must live as long
    as the JVM (-XX:-UseDynamicNumberOfCompilerThreads): the CPU time of
    a thread that has exited is no longer listed per thread."""
    ticks = 0
    for t in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{t}/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
            f = _stat_fields(jvm_pid, int(t))
        except (OSError, IndexError, ValueError):
            continue
        ticks += int(f[11]) + int(f[12])
    return ticks * _TICK_S


def engine_cpu_s(jvm_pid: int) -> tuple[float, float]:
    """(engine, jit) CPU seconds so far. Engine is the Spark JVM's threads
    (tasks, planning, GC) but not its JIT threads, plus its python
    workers. The JIT compiles Spark's generated code for minutes after
    start, and how much of it falls in a pass varies with the scheduling
    of the compiler threads, so it is kept apart. With steal accounting
    the kernel does not charge time the hypervisor took to a process."""
    jit = jit_cpu_s(jvm_pid)
    jvm = _cpu_ticks(jvm_pid, reaped=False) * _TICK_S
    return jvm - jit + python_cpu_s(jvm_pid), jit
