"""Live benchmark site: a seed host and asset hosts, each on its own port.

    python3 perfbench/site_server.py --seed N

Every one of the ``HOSTS`` hosts binds 127.0.0.1 on a free port.  Once all
listen, the server prints one JSON line ``{"ports": [...]}`` and builds the
site of shape ``live`` from ``--seed`` (sites.build_site), with the first
port as the seed host and the others as asset hosts.  Each response waits
``DELAY_S`` before it is sent, so the crawler's fetch has real waiting in
it, and no more than ``nproc`` requests are handled at once across all
hosts (the rest queue in the listen backlog).

Commands arrive one per line on stdin; each answers with one JSON line:

    mark  counters since the previous mark, then reset them
    quit  counters since the start, then exit

Counters: requests, bytes sent, distinct URLs requested, the mean and the
peak number of requests in flight, 404s for planted missing URLs, and
unexpected failures (a 404 for a URL the site did not plant, or a handler
error).  EOF on stdin counts as quit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import sites  # noqa: E402

HOSTS = 3         # per site: the seed host and two asset hosts
DELAY_S = 0.002   # fixed wait before each response


class Counters:
    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self):
        # in_flight survives a reset: it is a level, not a counter
        self.in_flight = getattr(self, "in_flight", 0)
        self.requests = 0
        self.bytes = 0
        self.urls: set[str] = set()
        self.planted_404 = 0
        self.unexpected = 0
        self.peak_in_flight = 0
        self.busy_s = 0.0       # summed request handling time
        self.first = None
        self.last = None

    def snapshot(self) -> dict:
        span = (self.last - self.first) if self.first is not None else 0.0
        return {"requests": self.requests, "bytes": self.bytes,
                "distinct_urls": len(self.urls),
                "planted_404": self.planted_404,
                "unexpected_failures": self.unexpected,
                "peak_in_flight": self.peak_in_flight,
                "mean_in_flight": self.busy_s / span if span > 0 else 0.0}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()

    slots = threading.BoundedSemaphore(os.cpu_count() or 1)
    total, window = Counters(), Counters()
    site: dict[str, bytes] = {}
    planted: set[str] = set()
    ready = threading.Event()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            ready.wait()
            with slots:
                start = time.monotonic()
                for c in (total, window):
                    with c.lock:
                        c.in_flight += 1
                        c.peak_in_flight = max(c.peak_in_flight, c.in_flight)
                        if c.first is None:
                            c.first = start
                url = f"http://{self.headers.get('Host')}{self.path}"
                body = site.get(url)
                sent, unexpected = 0, False
                try:
                    time.sleep(DELAY_S)
                    if body is None:
                        unexpected = url not in planted
                        self.send_error(404)
                    else:
                        ctype = ("image/png" if url.endswith(".png") else
                                 "text/html; charset=utf-8")
                        self.send_response(200)
                        self.send_header("Content-Type", ctype)
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        self.wfile.write(body)
                        sent = len(body)
                except Exception:
                    unexpected = True
                end = time.monotonic()
                for c in (total, window):
                    with c.lock:
                        c.in_flight -= 1
                        c.requests += 1
                        c.bytes += sent
                        c.urls.add(url)
                        c.planted_404 += body is None and not unexpected
                        c.unexpected += unexpected
                        c.busy_s += end - start
                        c.last = end

        def log_message(self, *a):
            pass

    class Server(ThreadingHTTPServer):
        daemon_threads = True
        request_queue_size = 128

    servers = [Server(("127.0.0.1", 0), Handler) for _ in range(HOSTS)]
    ports = [s.server_address[1] for s in servers]
    bases = [f"http://127.0.0.1:{p}" for p in ports]
    res, miss = sites.build_site("live", args.seed, bases[0], bases[1:])
    site.update(res)
    planted.update(miss)
    ready.set()
    for s in servers:
        threading.Thread(target=s.serve_forever, daemon=True).start()
    print(json.dumps({"ports": ports}), flush=True)

    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "mark":
            with window.lock:
                snap = window.snapshot()
                window.reset()
            print(json.dumps(snap), flush=True)
        elif cmd == "quit":
            break
    for s in servers:
        s.shutdown()
        s.server_close()
    print(json.dumps(total.snapshot()), flush=True)


if __name__ == "__main__":
    main()
