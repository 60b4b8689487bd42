"""CPU of a running PySpark JVM, per thread name.

Samples /proc/<pid>/task/*/stat every 50 ms until the JVM exits, then
prints the CPU seconds per thread name, trailing digits stripped (the C2
compiler threads form one group), beside the process total. An exited
thread keeps its last sample: HotSpot starts and stops C2 threads with
its queue (UseDynamicNumberOfCompilerThreads). It only reads /proc.

    python tools/jvm_cpu_by_thread.py [--pid PID]

Without --pid it waits for the one `java` process whose command line
holds `pyspark-shell` (the JVM PySpark launches), so it can start before
the job. Ctrl-C prints what was sampled so far.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.05


def _stat(path: str):
    """(name, state, user+system CPU seconds) of a stat file, or None."""
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            s = f.read()
    except OSError:
        return None
    end = s.rindex(")")  # the name may hold spaces or parentheses
    rest = s[end + 2:].split()
    cpu = (int(rest[11]) + int(rest[12])) / TICK
    return s[s.index("(") + 1:end], rest[0], cpu


def _pyspark_jvms() -> list[int]:
    pids = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv = f.read().split(b"\0")
        except OSError:
            continue
        # not spark-class's short-lived launcher JVM, which has the same args
        if (os.path.basename(argv[0]) == b"java" and b"pyspark-shell" in argv
                and b"org.apache.spark.launcher.Main" not in argv):
            pids.append(int(pid))
    return pids


def sample(pid: int) -> tuple[dict, float]:
    """tid -> its last (name, state, cpu_s), and the last process total."""
    threads, total = {}, 0.0
    try:
        while (proc := _stat(f"/proc/{pid}/stat")) and proc[1] not in "ZX":
            total = proc[2]
            for tid in os.listdir(f"/proc/{pid}/task"):
                if st := _stat(f"/proc/{pid}/task/{tid}/stat"):
                    threads[tid] = st
            time.sleep(INTERVAL_S)
    except (KeyboardInterrupt, OSError):
        pass
    return threads, total


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--pid", type=int, help="JVM pid (default: find it)")
    args = ap.parse_args()
    pid = args.pid
    while pid is None:
        found = _pyspark_jvms()
        if len(found) > 1:
            sys.exit(f"several pyspark JVMs {found}: pass --pid")
        if found:
            pid = found[0]
        else:
            time.sleep(INTERVAL_S)
    threads, total = sample(pid)
    groups: dict[str, list] = {}
    for name, _, cpu in threads.values():
        g = groups.setdefault(re.sub(r"\d+$", "", name) or name, [0, 0.0])
        g[0] += 1
        g[1] += cpu
    summed = sum(cpu for _, cpu in groups.values())
    print(f"{'thread name':<18}{'threads':>8}{'cpu_s':>9}{'share':>8}")
    for name, (n, cpu) in sorted(groups.items(), key=lambda kv: -kv[1][1]):
        if cpu >= 0.05:
            print(f"{name:<18}{n:>8}{cpu:>9.1f}{cpu / summed:>8.1%}")
    print(f"pid {pid}: sum over threads {summed:.1f} s, process total {total:.1f} s")


if __name__ == "__main__":
    main()
