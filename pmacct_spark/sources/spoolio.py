"""Shared spool helpers: the atomic write-then-rename protocol every
socket source relies on, and the :class:`Waker` their flushes use.

Spark's file listing (batch read AND FileStreamSource tailing) must
never see a half-written parquet file; all three spools (UDP datagram,
TCP session, RTR PDU) therefore write to a dot-prefixed temp name and
rename into place — rename is atomic on POSIX and dotted names are
ignored by Spark's listing. One helper keeps the contract in one
place instead of three drifting copies.
"""

from __future__ import annotations

import os
import select
import threading


def write_spool_file(spool_dir: str, name: str, table) -> str:
    """Write a pyarrow ``table`` as ``<spool_dir>/<name>`` atomically;
    returns the final path."""
    import pyarrow.parquet as pq

    tmp = os.path.join(spool_dir, f"._{name}.tmp")
    final = os.path.join(spool_dir, name)
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final


class Waker:
    """Wakes a socket thread blocked in ``select``: the thread waits on
    its socket and the waker (:meth:`wait`), and :meth:`wake`, from any
    thread, makes it return. Spool flushes use it, so a flush returns
    as soon as the listener has spooled what it received, not after
    the listener's poll timeout."""

    def __init__(self):
        self._r, self._w = os.pipe()
        os.set_blocking(self._r, False)
        os.set_blocking(self._w, False)
        # wake() and close() hold it: a wake-up never writes to a
        # closed descriptor number another file may have been given
        self._lock = threading.Lock()
        self._closed = False

    def wake(self) -> None:
        with self._lock:
            if self._closed:
                return
            try:
                os.write(self._w, b"\0")
            except BlockingIOError:  # wake-ups already pending
                pass

    def wait(self, sock, timeout: float) -> bool:
        """Block until ``sock`` is readable, a wake-up, or ``timeout``;
        returns whether ``sock`` is readable. Consumes the wake-ups."""
        ready, _, _ = select.select([sock, self._r], [], [], timeout)
        if self._r in ready:
            try:
                while os.read(self._r, 4096):
                    pass
            except BlockingIOError:
                pass
        return sock in ready

    def close(self) -> None:
        """Close the pipe; the thread that waits on it has stopped."""
        with self._lock:
            if not self._closed:
                self._closed = True
                os.close(self._r)
                os.close(self._w)
