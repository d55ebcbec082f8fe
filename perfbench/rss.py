"""Peak memory of the Spark driver JVM plus its Python workers, from /proc.

The JVM's own high-water mark (VmHWM) is exact.  The pyspark daemon and
the workers it forks come and go, so a background thread samples the
live ones and keeps the largest sum of their high-water marks — each
worker's VmHWM is exact, so the sum does not depend on when a sample
happens to land inside a worker's allocation burst.
"""

from __future__ import annotations

import os
import threading


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # pid (comm) state ppid ... — comm may hold spaces
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakRss:
    def __init__(self, jvm_pid: int, interval_s: float = 0.5):
        self._jvm = jvm_pid
        self._interval = interval_s
        self._stop = threading.Event()
        self._peak_workers_kb = 0
        self._jvm_hwm_kb = 0
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        kb = sum(_status_kb(p, "VmHWM:") for p in descendants(self._jvm))
        self._peak_workers_kb = max(self._peak_workers_kb, kb)
        self._jvm_hwm_kb = max(self._jvm_hwm_kb, _status_kb(self._jvm, "VmHWM:"))

    @property
    def jvm_mb(self) -> float:
        return self._jvm_hwm_kb / 1024.0

    @property
    def workers_mb(self) -> float:
        return self._peak_workers_kb / 1024.0

    @property
    def peak_mb(self) -> float:
        return self.jvm_mb + self.workers_mb
