"""Stand-in for an object store: a stdlib HTTP server over a directory.

Run as a subprocess::

    python3 perfbench/objstore.py --root DIR

It prints ``PORT <n>`` once it listens on 127.0.0.1. Every GET waits a
fixed first-byte delay (``DELAY_S``, 10 ms), then answers with the
file, honouring ``Range: bytes=a-b`` and suffix ``bytes=-n`` (206, or
416 past the end).
GETs and body bytes are counted per class: ``meta`` for metadata
documents and the coordinate arrays (``time``, ``lat``, ``lon``),
``chunk`` for everything else.
``GET /__stats__`` returns the counters as JSON without counting itself.
The server exits when its parent process goes away.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

META_FILES = {".zmetadata", ".zgroup", ".zattrs", ".zarray", "zarr.json"}
COORD_NAMES = {"time", "lat", "lon"}
DELAY_S = 0.010  # first-byte delay of every GET, as from an object store
_RANGE = re.compile(r"bytes=(\d*)-(\d*)")


def classify(path: str) -> str:
    parts = [p for p in path.split("/") if p]
    if not parts or parts[-1] in META_FILES:
        return "meta"
    # coordinate arrays: <store>/<coord>/<chunk...>
    if any(p in COORD_NAMES for p in parts[:-1]):
        return "meta"
    return "chunk"


def parse_range(header: str | None, size: int) -> tuple[int, int] | None | str:
    """``(start, end_inclusive)``, None for a whole-object read, or
    ``"416"`` when the range starts past the end of the object."""
    if not header:
        return None
    m = _RANGE.fullmatch(header.strip())
    if not m or not (m.group(1) or m.group(2)):
        return None
    if m.group(1):
        start = int(m.group(1))
        end = min(int(m.group(2)) if m.group(2) else size - 1, size - 1)
    else:
        start, end = max(0, size - int(m.group(2))), size - 1
    if start >= size:
        return "416"
    return start, end


class Stats:
    def __init__(self):
        self.lock = threading.Lock()
        self.counts = {"meta_gets": 0, "meta_bytes": 0, "chunk_gets": 0, "chunk_bytes": 0}

    def add(self, kind: str, nbytes: int) -> None:
        with self.lock:
            self.counts[f"{kind}_gets"] += 1
            self.counts[f"{kind}_bytes"] += nbytes

    def snapshot(self) -> dict:
        with self.lock:
            return dict(self.counts)


def make_handler(root: str, stats: Stats):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def log_message(self, *a):
            pass

        def do_GET(self):
            if self.path == "/__stats__":
                body = json.dumps(stats.snapshot()).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            rel = unquote(self.path.split("?", 1)[0]).lstrip("/")
            path = os.path.realpath(os.path.join(root, rel))
            kind = classify(rel)
            time.sleep(DELAY_S)
            if not path.startswith(root + os.sep) or not os.path.isfile(path):
                stats.add(kind, 0)
                self.send_error(404)
                return
            size = os.path.getsize(path)
            rng = parse_range(self.headers.get("Range"), size)
            if rng == "416":
                stats.add(kind, 0)
                self.send_error(416)
                return
            with open(path, "rb") as f:
                if rng is None:
                    body = f.read()
                else:
                    f.seek(rng[0])
                    body = f.read(rng[1] - rng[0] + 1)
            stats.add(kind, len(body))
            self.send_response(200 if rng is None else 206)
            if rng is not None:
                self.send_header("Content-Range", f"bytes {rng[0]}-{rng[1]}/{size}")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    return Handler


def _exit_with_parent(parent: int, server: ThreadingHTTPServer) -> None:
    while os.getppid() == parent:
        time.sleep(0.5)
    server.shutdown()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    args = ap.parse_args(argv)
    root = os.path.realpath(args.root)
    stats = Stats()
    handler = make_handler(root, stats)
    server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    server.daemon_threads = True
    threading.Thread(target=_exit_with_parent, args=(os.getppid(), server),
                     daemon=True).start()
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    finally:
        server.server_close()
    return 0


class ServerProcess:
    """Start the server as a child process; ``close`` stops and reaps it."""

    def __init__(self, root: str):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--root", root],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"object-store server failed to start: {line!r}")
        self.port = int(line.split()[1])
        self.url = f"http://127.0.0.1:{self.port}"

    def stats(self) -> dict:
        import urllib.request

        with urllib.request.urlopen(f"{self.url}/__stats__", timeout=10) as r:
            return json.loads(r.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait(timeout=10)
        if self.proc.stdout:
            self.proc.stdout.close()


if __name__ == "__main__":
    sys.exit(main())
