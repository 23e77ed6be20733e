"""SERVICE-client guardrails (VERDICT r4 #7): per-attempt timeout,
bounded retries with backoff on transient failures, and response
row/byte caps so a slow or fat remote endpoint fails the query with a
clear message instead of stalling it or materializing unbounded rows
driver-side before the VALUES join."""

import json
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from hbase_rdf_spark.service import fetch_bindings


def _payload(n_rows):
    return {
        "head": {"vars": ["x"]},
        "results": {
            "bindings": [
                {"x": {"type": "literal", "value": f"v{i}"}}
                for i in range(n_rows)
            ]
        },
    }


class _StubHandler(BaseHTTPRequestHandler):
    behavior = ("ok", 3)  # set per-test on the class
    calls = 0

    def log_message(self, *a):
        pass

    def do_POST(self):
        cls = type(self)
        cls.calls += 1
        kind, arg = cls.behavior
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if kind == "hang":
            time.sleep(arg)
            kind, arg = "ok", 1
        if kind == "flaky503":
            if cls.calls <= arg:
                self.send_response(503)
                self.end_headers()
                return
            kind, arg = "ok", 2
        if kind == "status":
            self.send_response(arg)
            self.end_headers()
            return
        body = json.dumps(_payload(arg)).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/sparql-results+json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def stub():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _StubHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _StubHandler.calls = 0
    yield f"http://127.0.0.1:{srv.server_port}/sparql", _StubHandler
    srv.shutdown()


def test_happy_path(stub):
    url, h = stub
    h.behavior = ("ok", 3)
    head, rows = fetch_bindings(url, "SELECT * WHERE {}", retries=0)
    assert head == ["x"] and len(rows) == 3


def test_hanging_endpoint_times_out(stub):
    url, h = stub
    h.behavior = ("hang", 5)
    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="failed after"):
        fetch_bindings(url, "q", timeout=0.4, retries=0)
    assert time.monotonic() - t0 < 3.0  # bounded, not the 5 s hang


def test_row_cap(stub):
    url, h = stub
    h.behavior = ("ok", 10)
    with pytest.raises(RuntimeError, match="row cap"):
        fetch_bindings(url, "q", max_rows=5, retries=0)


def test_byte_cap(stub):
    url, h = stub
    h.behavior = ("ok", 50)
    with pytest.raises(RuntimeError, match="bytes"):
        fetch_bindings(url, "q", max_bytes=64, retries=0)


def test_transient_503_retries_then_succeeds(stub):
    url, h = stub
    h.behavior = ("flaky503", 1)  # first call 503, then ok
    head, rows = fetch_bindings(url, "q", retries=2)
    assert len(rows) == 2 and h.calls == 2


def test_5xx_exhausts_retries(stub):
    url, h = stub
    h.behavior = ("status", 503)
    with pytest.raises(RuntimeError, match="failed after 2"):
        fetch_bindings(url, "q", retries=1)
    assert h.calls == 2


def test_4xx_fails_fast_no_retry(stub):
    url, h = stub
    h.behavior = ("status", 400)
    # the error names the attempts actually made, not the retry budget
    with pytest.raises(RuntimeError, match=r"failed after 1 attempt\(s\)"):
        fetch_bindings(url, "q", retries=3)
    assert h.calls == 1  # client errors don't heal on retry


def test_connection_refused_retries(stub):
    # a port with no listener: every attempt errors, all retries used
    url, _ = stub
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead = f"http://127.0.0.1:{s.getsockname()[1]}/sparql"
    s.close()
    with pytest.raises(RuntimeError, match="failed after 3"):
        fetch_bindings(dead, "q", retries=2, timeout=0.5)
