"""Loopback stand-in for the Mixpanel ingestion endpoints.

Run as its own process: ``python3 perfbench/stub.py [--drop-batch N]``. It
binds 127.0.0.1 on a free port, prints the port on one stdout line and
serves until stdin closes or it is terminated.

The timed path does no parsing: a POST handler reads the body, appends the
raw bytes to memory and replies 200. One thread per connection (the HTTP
sink opens a connection per request, and Spark ``local[n]`` runs at most n
sending tasks). Checks run in the benchmark after the timed region, on the
bodies fetched through the control endpoints:

* ``GET /_ctl/dump`` -- every stored request as
  ``<path>\\n<arrival>\\n<len>\\n<body>``, where ``<arrival>`` is
  ``time.monotonic()`` when the body was read (the system-wide monotonic
  clock, so the benchmark can compare it with its own);
* ``POST /_ctl/reset`` -- forget stored requests.

``--drop-batch N`` acknowledges the N-th POST (1-based, counted since the
last reset) with 200 but does not store it: a lost batch, for the
benchmark's negative self-test.
"""

from __future__ import annotations

import argparse
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_OK = b'{"code":200,"status":"OK"}'


class _Store:
    def __init__(self, drop_batch: int):
        self.lock = threading.Lock()
        self.items: list[tuple[str, float, bytes]] = []
        self.posts = 0
        self.drop_batch = drop_batch

    def add(self, path: str, body: bytes) -> None:
        arrival = time.monotonic()
        with self.lock:
            self.posts += 1
            if self.posts != self.drop_batch:
                self.items.append((path, arrival, body))

    def take(self) -> bytes:
        with self.lock:
            items = list(self.items)
        out = []
        for path, arrival, body in items:
            out.append(f"{path}\n{arrival!r}\n{len(body)}\n".encode() + body)
        return b"".join(out)

    def reset(self) -> None:
        with self.lock:
            self.items.clear()
            self.posts = 0


def _handler(store: _Store):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def _reply(self, body: bytes) -> None:
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):  # noqa: N802 (http.server naming)
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path == "/_ctl/reset":
                store.reset()
            else:
                store.add(self.path, body)
            self._reply(_OK)

        def do_GET(self):  # noqa: N802
            if self.path != "/_ctl/dump":
                self.send_error(404)
                return
            self._reply(store.take())

        def log_message(self, *args):
            pass

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--drop-batch", type=int, default=0)
    args = ap.parse_args()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _handler(_Store(args.drop_batch)))
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    print(server.server_address[1], flush=True)
    sys.stdin.read()  # the parent closes stdin to stop the stub
    server.shutdown()
    server.server_close()


if __name__ == "__main__":
    main()
