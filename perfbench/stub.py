"""Single-threaded HTTP notification endpoint for the benchmark.

One process, one ``selectors`` loop, keep-alive HTTP/1.1. Every POST
gets a pre-rendered ``201`` except the FIRST attempt of a seed-chosen
share of titles, which gets ``503`` so the sender's retry path carries
load. Each request is logged as ``title<TAB>attempt<TAB>status<TAB>
receipt_ms`` before its response is sent, so a client that has its
response can read its line. On SIGTERM the stub writes its own CPU
seconds to the stats file and exits.

Usage:
    python3 perfbench/stub.py --seed N --port-file F --log F --stats F
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import signal
import socket
import time
import zlib

#: Share of titles, per mille, whose first attempt gets a 503 (~1%).
FAIL_PER_MILLE = 10

_BODY_201 = b'{"id": 101, "body": "accepted"}'
RESP_201 = (
    b"HTTP/1.1 201 Created\r\nContent-Type: application/json\r\n"
    b"Content-Length: " + str(len(_BODY_201)).encode() + b"\r\n\r\n"
    + _BODY_201
)
RESP_503 = (
    b"HTTP/1.1 503 Service Unavailable\r\nContent-Length: 11\r\n\r\n"
    b"unavailable"
)


def fails_first_attempt(seed: int, title: str) -> bool:
    """Seed-chosen titles whose first attempt is refused."""
    return zlib.crc32(f"{seed}:{title}".encode()) % 1000 < FAIL_PER_MILLE


class _Conn:
    __slots__ = ("sock", "inbuf", "outbuf")

    def __init__(self, sock: socket.socket) -> None:
        self.sock = sock
        self.inbuf = b""
        self.outbuf = b""


class Stub:
    def __init__(self, seed: int, log_path: str) -> None:
        self.seed = seed
        self.attempts: dict[str, int] = {}
        self.requests = 0
        self.refused = 0
        self.log = open(log_path, "w", buffering=1 << 16)
        self.sel = selectors.DefaultSelector()
        self.running = True

    def _handle(self, body: bytes) -> bytes:
        try:
            title = str(json.loads(body).get("title"))
        except ValueError:
            title = ""
        attempt = self.attempts.get(title, 0) + 1
        self.attempts[title] = attempt
        self.requests += 1
        if attempt == 1 and fails_first_attempt(self.seed, title):
            status, resp = 503, RESP_503
            self.refused += 1
        else:
            status, resp = 201, RESP_201
        self.log.write(
            f"{title}\t{attempt}\t{status}\t{time.time() * 1000.0:.3f}\n"
        )
        return resp

    def _parse(self, conn: _Conn) -> bytes:
        """Consume every complete request in the buffer."""
        out = []
        buf = conn.inbuf
        while True:
            head_end = buf.find(b"\r\n\r\n")
            if head_end < 0:
                break
            length = 0
            for line in buf[:head_end].split(b"\r\n")[1:]:
                name, _, value = line.partition(b":")
                if name.strip().lower() == b"content-length":
                    length = int(value.strip())
            end = head_end + 4 + length
            if len(buf) < end:
                break
            out.append(self._handle(buf[head_end + 4:end]))
            buf = buf[end:]
        conn.inbuf = buf
        return b"".join(out)

    def _close(self, conn: _Conn) -> None:
        self.sel.unregister(conn.sock)
        conn.sock.close()

    def _flush(self, conn: _Conn) -> None:
        try:
            n = conn.sock.send(conn.outbuf)
        except BlockingIOError:
            n = 0
        except OSError:
            self._close(conn)
            return
        conn.outbuf = conn.outbuf[n:]
        events = selectors.EVENT_READ
        if conn.outbuf:
            events |= selectors.EVENT_WRITE
        self.sel.modify(conn.sock, events, conn)

    def serve(self, listener: socket.socket) -> None:
        listener.setblocking(False)
        self.sel.register(listener, selectors.EVENT_READ, None)
        while self.running:
            ready = self.sel.select(timeout=0.2)
            replies = []
            for key, mask in ready:
                if key.data is None:
                    try:
                        sock, _ = listener.accept()
                    except BlockingIOError:
                        continue
                    sock.setblocking(False)
                    sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    self.sel.register(
                        sock, selectors.EVENT_READ, _Conn(sock)
                    )
                    continue
                conn = key.data
                if mask & selectors.EVENT_READ:
                    try:
                        data = conn.sock.recv(1 << 16)
                    except (BlockingIOError, InterruptedError):
                        data = None
                    except OSError:
                        data = b""
                    if data == b"":
                        self._close(conn)
                        continue
                    if data:
                        conn.inbuf += data
                        resp = self._parse(conn)
                        if resp:
                            conn.outbuf += resp
                            replies.append(conn)
                elif mask & selectors.EVENT_WRITE:
                    replies.append(conn)
            if replies:
                # Log lines reach the file before any response leaves.
                self.log.flush()
                for conn in replies:
                    if conn.outbuf:
                        self._flush(conn)
        self.log.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--port-file", required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--stats", required=True)
    args = ap.parse_args()

    stub = Stub(args.seed, args.log)

    def _stop(_sig, _frame):
        stub.running = False

    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    listener.bind(("127.0.0.1", 0))
    listener.listen(1024)
    tmp = args.port_file + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(str(listener.getsockname()[1]))
    os.replace(tmp, args.port_file)
    try:
        stub.serve(listener)
    finally:
        listener.close()
        cpu = os.times()
        with open(args.stats, "w") as fh:
            json.dump(
                {
                    "cpu_s": cpu.user + cpu.system,
                    "requests": stub.requests,
                    "refused": stub.refused,
                },
                fh,
            )


if __name__ == "__main__":
    main()
