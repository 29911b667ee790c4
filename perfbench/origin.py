"""Loopback HTTP origin for the ``polite_loopback`` workload.

Runs as its own process: ``python3 perfbench/origin.py --hosts 32
--latency-ms 20 --crawl-delay 0.05``. It opens one listener per loopback
address 127.0.0.1 .. 127.0.0.N (each on a free port), so every host is a
distinct address and no name resolution is involved. Every response waits
the injected latency first. ``/robots.txt`` carries a Crawl-delay and a
``Disallow: /private/`` rule; any other path serves a small deterministic
HTML page.

Protocol on stdin/stdout: after start-up the origin prints one JSON line
``{"hosts": [[ip, port], ...]}``. Each stdin line ``mark`` starts a new log
segment; ``dump`` writes the request log as one JSON line to stdout. EOF on
stdin stops the listeners and exits. Log entries are ``[segment, host, path,
arrival_s, done_s]`` with monotonic-clock stamps.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def page(host: str, path: str) -> bytes:
    h = int(hashlib.sha256(f"{host}{path}".encode()).hexdigest()[:12], 16)
    parts = [f"<html><head><title>{host} {h % 9973}</title></head><body>"]
    for i in range(6):
        parts.append(f"<p>paragraph {i} word{(h >> i) % 499} text</p>")
        parts.append(f'<a href="/p/{(h + i) % 100000}">link {i}</a>')
    parts.append("</body></html>")
    return "".join(parts).encode()


class Origin:
    def __init__(self, n_hosts: int, latency_s: float, crawl_delay: float):
        self.latency_s = latency_s
        self.robots = (
            f"User-agent: *\nCrawl-delay: {crawl_delay}\nDisallow: /private/\n"
        ).encode()
        self.lock = threading.Lock()
        self.segment = 0
        self.log: list[list] = []
        self.inflight: dict[str, int] = {}
        self.max_inflight = 0
        self.servers = [
            ThreadingHTTPServer((f"127.0.0.{i + 1}", 0), self._handler())
            for i in range(n_hosts)
        ]
        for s in self.servers:
            s.daemon_threads = True

    def _handler(self):
        origin = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):
                host = self.server.server_address[0]
                arrival = time.monotonic()
                with origin.lock:
                    n = origin.inflight.get(host, 0) + 1
                    origin.inflight[host] = n
                    origin.max_inflight = max(origin.max_inflight, n)
                    seg = origin.segment
                try:
                    time.sleep(origin.latency_s)
                    if self.path == "/robots.txt":
                        body, ctype = origin.robots, "text/plain"
                    else:
                        body, ctype = page(host, self.path), "text/html; charset=utf-8"
                    self.send_response(200)
                    self.send_header("Content-Type", ctype)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                finally:
                    with origin.lock:
                        origin.inflight[host] -= 1
                        origin.log.append(
                            [seg, host, self.path, arrival, time.monotonic()]
                        )

            def log_message(self, *args):
                pass

        return Handler

    def serve(self) -> None:
        threads = [
            threading.Thread(target=s.serve_forever, daemon=True) for s in self.servers
        ]
        for t in threads:
            t.start()
        hosts = [list(s.server_address[:2]) for s in self.servers]
        print(json.dumps({"hosts": hosts}), flush=True)
        for line in sys.stdin:
            cmd = line.strip()
            with self.lock:
                if cmd == "mark":
                    self.segment += 1
                    reply = {"segment": self.segment}
                elif cmd == "dump":
                    reply = {"log": self.log, "max_inflight": self.max_inflight}
                else:
                    reply = {"error": f"unknown command {cmd!r}"}
            print(json.dumps(reply), flush=True)
        for s in self.servers:
            s.shutdown()
            s.server_close()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--hosts", type=int, default=32)
    ap.add_argument("--latency-ms", type=float, default=20.0)
    ap.add_argument("--crawl-delay", type=float, default=0.05)
    a = ap.parse_args()
    Origin(a.hosts, a.latency_ms / 1000.0, a.crawl_delay).serve()


if __name__ == "__main__":
    main()
