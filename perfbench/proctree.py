"""CPU seconds and resident memory of a process session, read from /proc.

Every benchmark child is started in a session of its own.  The Python
driver, the Spark JVM it launches, PySpark's worker daemon (which moves to
a process group of its own, but stays in the session) and the workers the
daemon forks are all members.  Summing ``utime + stime + cutime + cstime``
over the live members counts every process the session ever ran: a member
that has exited and been reaped is in its parent's ``cutime``/``cstime``.
Resident memory is the plain RSS sum, so pages that forked workers share
with the daemon are counted once per process.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _members(sid: int):
    """-> (pid, stat fields) of every process in session ``sid``; field n
    of proc(5) sits at index n - 3."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                data = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name is parenthesised and may hold spaces
        f = data[data.rindex(b")") + 2 :].split()
        if int(f[3]) == sid:
            yield int(pid), f


def session_usage(sid: int) -> tuple[float, int, int]:
    """-> (cpu seconds, resident bytes, running process count) of the
    session; zombies count towards CPU but not as running."""
    ticks = rss_pages = n = 0
    for _pid, f in _members(sid):
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        rss_pages += int(f[21])
        n += f[0] != b"Z"
    return ticks / _TICK, rss_pages * _PAGE, n


class RssSampler:
    """Samples the session's summed RSS on a background thread."""

    def __init__(self, sid: int, interval_s: float = 0.1):
        self.sid = sid
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []  # (time.monotonic(), bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.monotonic(), session_usage(self.sid)[1]))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def peak_until(self, t_end: float) -> int:
        return max((b for t, b in self.samples if t <= t_end), default=0)


def stop_session(sid: int, timeout_s: float = 30.0) -> None:
    """SIGKILL whatever is left of the session and wait until it is gone."""
    deadline = time.monotonic() + timeout_s
    while True:
        running = [pid for pid, f in _members(sid) if f[0] != b"Z"]
        if not running:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"session {sid} survived SIGKILL for {timeout_s}s: {running}")
        for pid in running:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
