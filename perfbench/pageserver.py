"""Paginated document server for the http_avro_drain workload.

Runs as its own process, serving pages generated ahead of time and held in
memory, with at most --threads handler threads:

  GET /auth          basic auth; returns the current bearer token
  GET /docs?page=N   page N (elements joined by "\\n"); 403 on a stale token
  GET /warm?page=N   the first WARM_PAGES pages of the same data, then empty
  GET /reset         zero the counters and re-arm the token rotation
  GET /stats         the counters since the last reset, as JSON

The token rotates once per reset, after --rotate-after successful page
responses, so every drain sees exactly one planned rotation (the clients'
403 -> refresh -> replay path). Prints "PORT <n>" once it is listening.

  python3 pageserver.py --docs DOCS.jsonl --page-size 20 --rotate-after 150 --threads 4
"""
import argparse
import base64
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer
from urllib.parse import parse_qs, urlparse

WARM_PAGES = 3


class State:
    def __init__(self, pages, rotate_after):
        self.pages = pages
        self.rotate_after = rotate_after
        self.lock = threading.Lock()
        self.generation = 0
        self.reset()

    def reset(self):
        with self.lock:
            self.generation += 1
            self.rotated = False
            self.counts = {"requests": 0, "page_ok": 0, "auth_calls": 0,
                           "rejected_403": 0, "other_errors": 0, "server_ms": 0.0}

    def token(self):
        return f"tok-{self.generation}-{1 if self.rotated else 0}"


def make_handler(state):
    class Handler(BaseHTTPRequestHandler):
        # HTTP/1.0: one request per connection, so a bounded pool can never
        # be pinned by idle keep-alive connections
        protocol_version = "HTTP/1.0"

        def log_message(self, *args):
            pass

        def reply(self, code, body=b"", ctype="text/plain"):
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)

        def do_GET(self):
            t0 = time.perf_counter()
            url = urlparse(self.path)
            route = url.path
            if route == "/reset":
                state.reset()
                return self.reply(200, b"ok")
            if route == "/stats":
                with state.lock:
                    body = json.dumps(state.counts).encode()
                return self.reply(200, body, "application/json")
            with state.lock:
                state.counts["requests"] += 1
            auth = self.headers.get("Authorization", "")
            if route == "/auth":
                ok = auth.startswith("Basic ") and b":" in base64.b64decode(auth[6:] or "Og==")
                with state.lock:
                    if ok:
                        state.counts["auth_calls"] += 1
                        token = state.token()
                    else:
                        state.counts["other_errors"] += 1
                return self.reply(200, token.encode()) if ok else self.reply(401)
            if route not in ("/docs", "/warm"):
                with state.lock:
                    state.counts["other_errors"] += 1
                return self.reply(404)
            with state.lock:
                current = state.token()
            if auth != f"Bearer {current}":
                with state.lock:
                    state.counts["rejected_403"] += 1
                return self.reply(403)
            try:
                page = int(parse_qs(url.query)["page"][0])
            except (KeyError, ValueError):
                with state.lock:
                    state.counts["other_errors"] += 1
                return self.reply(400)
            limit = WARM_PAGES if route == "/warm" else len(state.pages)
            body = state.pages[page] if 0 <= page < limit else b""
            self.reply(200, body)
            with state.lock:
                if route == "/docs":
                    state.counts["page_ok"] += 1
                    state.counts["server_ms"] += (time.perf_counter() - t0) * 1000.0
                    if not state.rotated and state.counts["page_ok"] >= state.rotate_after:
                        state.rotated = True

    return Handler


class PooledServer(HTTPServer):
    """HTTPServer whose requests run on a fixed-size thread pool."""

    request_queue_size = 64

    def __init__(self, addr, handler, threads):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._work, request, client_address)

    def _work(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def load_pages(path, page_size):
    with open(path, "rb") as f:
        elems = [line.rstrip(b"\n") for line in f if line.strip()]
    return [b"\n".join(elems[i:i + page_size]) + b"\n" for i in range(0, len(elems), page_size)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--page-size", type=int, required=True)
    ap.add_argument("--rotate-after", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()
    state = State(load_pages(a.docs, a.page_size), a.rotate_after)
    server = PooledServer(("127.0.0.1", 0), make_handler(state), a.threads)
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    finally:
        server.pool.shutdown(wait=True)
        sys.stdout.flush()


if __name__ == "__main__":
    main()
