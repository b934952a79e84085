"""Process-tree bookkeeping from /proc: who belongs to a run, how much memory
they hold, and the check that none of them outlives it.

A run is one process session (the measured child is started with
``setsid``).  The Spark JVM and the ``pyspark.daemon`` workers stay in that
session — the daemon moves to its own process group, not its own session —
so the session id names every process a run started.
"""

from __future__ import annotations

import os
import signal
import threading
import time

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


class LeftoverProcessError(RuntimeError):
    """A process started by the run was still alive after the run ended."""


def _stat(pid: int) -> tuple[str, int, int] | None:
    """(state, session id, rss pages) of a process, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode(errors="replace")
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 of proc(5), the state; session is field 6, rss field 24
    return fields[0], int(fields[3]), int(fields[21])


def session_processes(sid: int) -> dict[int, int]:
    """Live (non-zombie) processes of session ``sid`` -> resident pages."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st and st[1] == sid and st[0] != "Z":
                out[int(name)] = st[2]
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()[:120]
    except OSError:
        return "?"


def kill_session(sid: int, spare: int | None = None) -> None:
    for pid in session_processes(sid):
        if pid != spare:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def wait_session_exit(sid: int, grace_s: float, spare: int | None = None) -> None:
    """Wait until no process of session ``sid`` but ``spare`` is alive.  If
    any still is after ``grace_s``, kill it and raise LeftoverProcessError."""
    deadline = time.monotonic() + grace_s
    while True:
        alive = {p for p in session_processes(sid) if p != spare}
        if not alive:
            return
        if time.monotonic() >= deadline:
            break
        time.sleep(0.05)
    names = "; ".join(f"{pid}: {_cmdline(pid)}" for pid in sorted(alive))
    kill_session(sid, spare)
    raise LeftoverProcessError(f"{len(alive)} process(es) outlived the run: {names}")


class RssSampler(threading.Thread):
    """Summed resident set of every process in one session, sampled every
    0.1 s.  ``peak_mb`` holds the peaks while ``measuring`` is set: of the
    whole tree, and of its JVM and Python parts (each at its own moment);
    ``run_peak_mb`` the tree's peak over the whole run."""

    def __init__(self, sid: int, period_s: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.period_s = sid, period_s
        self.measuring = False
        self.peak_mb = {"total": 0.0, "jvm": 0.0, "python": 0.0}
        self.run_peak_mb = 0.0
        self._stop_event = threading.Event()

    @staticmethod
    def _kind(pid: int) -> str:
        # read each time: spark-submit's shell execs the JVM under the same pid
        try:
            with open(f"/proc/{pid}/comm") as f:
                return "jvm" if f.read().strip() == "java" else "python"
        except OSError:
            return "python"

    def run(self) -> None:
        while not self._stop_event.wait(self.period_s):
            now = {"total": 0.0, "jvm": 0.0, "python": 0.0}
            for pid, pages in session_processes(self.sid).items():
                now["total"] += pages * PAGE_MB
                now[self._kind(pid)] += pages * PAGE_MB
            self.run_peak_mb = max(self.run_peak_mb, now["total"])
            if self.measuring:
                self.peak_mb = {k: max(v, now[k]) for k, v in self.peak_mb.items()}

    def stop(self) -> None:
        self._stop_event.set()
        self.join()
