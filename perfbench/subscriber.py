"""TCP subscriber endpoints for the wiretap workload.

One listening socket per subscription, all served by one selector thread
that keeps at most ``max_conns`` accepted connections open at once (new
connections wait in the listen backlog). Every newline-framed record is
stamped with ``time.monotonic()`` on receipt and its ``seq=<n>`` field is
recorded for the subscription whose port it arrived on.
"""

from __future__ import annotations

import selectors
import socket
import threading
import time


class Subscribers:
    def __init__(self, n: int, max_conns: int):
        self.max_conns = max_conns
        self.sel = selectors.DefaultSelector()
        self.listeners: list[socket.socket] = []
        # per subscription: [(seq, monotonic receipt time), ...]
        self.received: list[list[tuple[int, float]]] = [[] for _ in range(n)]
        self.bad_lines = 0
        self._open = 0
        self._accepting = True
        self._stop = threading.Event()
        for sub in range(n):
            ls = socket.create_server(("127.0.0.1", 0), backlog=128)
            ls.setblocking(False)
            self.listeners.append(ls)
            self.sel.register(ls, selectors.EVENT_READ, ("listen", sub))
        self._thread = threading.Thread(target=self._serve, name="subscribers", daemon=True)

    @property
    def ports(self) -> list[int]:
        return [ls.getsockname()[1] for ls in self.listeners]

    def start(self) -> "Subscribers":
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("subscriber thread did not stop")
        for key in list(self.sel.get_map().values()):
            key.fileobj.close()
        self.sel.close()

    def delivered(self) -> int:
        return sum(len(r) for r in self.received)

    def _set_accepting(self, on: bool) -> None:
        if on == self._accepting:
            return
        self._accepting = on
        for sub, ls in enumerate(self.listeners):
            if on:
                self.sel.register(ls, selectors.EVENT_READ, ("listen", sub))
            else:
                self.sel.unregister(ls)

    def _serve(self) -> None:
        while not self._stop.is_set():
            for key, _ in self.sel.select(timeout=0.05):
                kind, sub = key.data[0], key.data[1]
                if kind == "listen":
                    try:
                        conn, _ = key.fileobj.accept()
                    except BlockingIOError:
                        continue
                    conn.setblocking(False)
                    self.sel.register(conn, selectors.EVENT_READ, ("conn", sub, bytearray()))
                    self._open += 1
                    self._set_accepting(self._open < self.max_conns)
                    continue
                buf = key.data[2]
                data = key.fileobj.recv(1 << 20)
                now = time.monotonic()
                if data:
                    buf += data
                    *lines, rest = buf.split(b"\n")
                    buf[:] = rest
                    for line in lines:
                        self._record(sub, line, now)
                    continue
                self.sel.unregister(key.fileobj)
                key.fileobj.close()
                if buf:
                    self._record(sub, bytes(buf), now)
                self._open -= 1
                self._set_accepting(self._open < self.max_conns)

    def _record(self, sub: int, line: bytes, now: float) -> None:
        _, sep, tail = line.rpartition(b" seq=")
        if not sep:
            self.bad_lines += 1
            return
        self.received[sub].append((int(tail.split(b" ", 1)[0]), now))
