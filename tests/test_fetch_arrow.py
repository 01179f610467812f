"""A10 real-fetch path: mapInPandas batched transport fetcher must produce
the same outcome rows as the sandbox's simulate_fetch join for the same
web, and pace per-host schedules when asked."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from rcspark.fetch import classify_outcome, fetch_http_arrow, simulate_fetch


@pytest.fixture(scope="module")
def world(spark):
    web_rows = [
        ("http://a.example/1", 200, None, b"<title>one</title>"),
        ("http://a.example/2", 503, None, b""),
        ("http://a.example/3", 301, "http://a.example/1", b""),
        ("http://b.example/1", 200, None, b"<title>bee</title>"),
    ]
    web = spark.createDataFrame(
        web_rows, "url_canon string, status int, redirect_to string, body binary"
    )
    sched_rows = [
        ("http://a.example/1", "a.example", 0, 0),
        ("http://a.example/2", "a.example", 500, 0),
        ("http://a.example/3", "a.example", 1000, 0),
        ("http://b.example/1", "b.example", 0, 0),
        ("http://a.example/missing", "a.example", 1500, 0),
    ]
    sched = spark.createDataFrame(
        sched_rows, "url_canon string, host string, fetch_ms long, retry_count int"
    ).withColumn("priority", F.lit(0)).withColumn("depth", F.lit(0))
    lookup = {r[0]: (r[1], r[2], r[3]) for r in web_rows}
    return web, sched, lookup


def _transport_from(lookup):
    class Fake:
        """fetch_many over a dict: the web table's rows as transport results."""

        def fetch_many(self, urls, offsets_ms=None):
            return [lookup.get(u, (None, None, None)) for u in urls]

    return Fake()


def test_transport_fetch_matches_join_fetch(spark, world):
    web, sched, lookup = world
    via_join = classify_outcome(simulate_fetch(sched, web))
    via_transport = classify_outcome(
        fetch_http_arrow(sched, _transport_from(lookup))
    )
    key = lambda r: (r["url_canon"], r["status"], r["redirect_to"],
                     bytes(r["body"]) if r["body"] is not None else None, r["result"])
    a = sorted(key(r) for r in via_join.collect())
    b = sorted(key(r) for r in via_transport.collect())
    assert a == b
    results = {r["url_canon"]: r["result"] for r in via_transport.collect()}
    assert results["http://a.example/1"] == "fetched"
    assert results["http://a.example/2"] == "retry"
    assert results["http://a.example/3"] == "redirect"
    assert results["http://a.example/missing"] == "failed"


def _start_server():
    """Deterministic fixture site: /ok/N → 200 body, /redir → 301,
    /retry → 503, anything else → 404. Counts connections and records
    each path's arrival time (time.monotonic)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    stats = {"conns": 0, "arrivals": {}}

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True  # loopback: avoid 40ms Nagle x delayed-ACK

        def setup(self):
            stats["conns"] += 1
            super().setup()

        def do_GET(self):
            stats["arrivals"][self.path] = time.monotonic()
            if self.path.startswith("/ok/"):
                body = f"<title>page {self.path[4:]}</title>".encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            elif self.path == "/redir":
                self.send_response(301)
                self.send_header("Location", "/ok/0")
                self.send_header("Content-Length", "0")
                self.end_headers()
            elif self.path == "/retry":
                self.send_response(503)
                self.send_header("Content-Length", "0")
                self.end_headers()
            else:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, stats


def _schedule(spark, rows):
    return spark.createDataFrame(
        rows, "url_canon string, host string, fetch_ms long, retry_count int"
    ).withColumn("priority", F.lit(0)).withColumn("depth", F.lit(0)).coalesce(1)


def _expected_rows(base, n_ok):
    return sorted(
        [(f"{base}/ok/{i}", 200, None, f"<title>page {i}</title>".encode(), "fetched")
         for i in range(n_ok)]
        + [(f"{base}/redir", 301, "/ok/0", None, "redirect"),
           (f"{base}/retry", 503, None, None, "retry"),
           (f"{base}/missing", 404, None, None, "failed"),
           ("not-a-url", None, None, None, "failed")]
    )


def _fetched_rows(spark, rows, transport):
    out = classify_outcome(fetch_http_arrow(_schedule(spark, rows), transport))
    return sorted(
        (r["url_canon"], r["status"], r["redirect_to"],
         bytes(r["body"]) if r["body"] is not None else None, r["result"])
        for r in out.collect()
    )


def _probe_rows(base, n_ok, step_ms):
    return (
        [(f"{base}/ok/{i}", "127.0.0.1", i * step_ms, 0) for i in range(n_ok)]
        + [(f"{base}/redir", "127.0.0.1", n_ok * step_ms, 0),
           (f"{base}/retry", "127.0.0.1", n_ok * step_ms + 10, 0),
           (f"{base}/missing", "127.0.0.1", n_ok * step_ms + 20, 0),
           ("not-a-url", "127.0.0.1", n_ok * step_ms + 30, 0)]
    )


def test_pooled_http_transport_real_requests(spark):
    """The production transport against a real in-process HTTP server,
    through fetch_http_arrow's Arrow batches: statuses, redirect Location,
    bodies and the 404 / unparseable 'failed' classes come back as the
    literal expected rows, and its keep-alive connection pool is reused —
    connections opened << requests served."""
    from rcspark.fetch import AsyncHttpTransport

    srv, stats = _start_server()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        got = _fetched_rows(spark, _probe_rows(base, 20, 10),
                            AsyncHttpTransport(timeout=5.0))
        assert got == _expected_rows(base, 20)
        # 23 requests over a handful of pooled connections, not one each
        assert stats["conns"] < 23, stats["conns"]
    finally:
        srv.shutdown()


def test_async_transport_matches_pooled_over_real_http(spark):
    """Fanning one host's batch over `concurrency` keep-alive connections
    yields exactly the rows of the same batch fetched serially over one
    pooled connection (concurrency=1), and the fan-out really happens:
    2 to `concurrency` connections for the burst, 1 for the serial run."""
    from rcspark.fetch import AsyncHttpTransport

    srv, stats = _start_server()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        rows = _probe_rows(base, 30, 0)
        wide = _fetched_rows(spark, rows, AsyncHttpTransport(timeout=5.0, concurrency=4))
        wide_conns, stats["conns"] = stats["conns"], 0
        serial = _fetched_rows(spark, rows, AsyncHttpTransport(timeout=5.0, concurrency=1))
        serial_conns = stats["conns"]
        assert wide == serial == _expected_rows(base, 30)
        # 33 requests; up to 2 stale-socket reconnects on top of the burst width
        assert 2 <= wide_conns <= 4 + 2 < 33, wide_conns
        assert 1 <= serial_conns <= 1 + 2, serial_conns
    finally:
        srv.shutdown()


def test_pacing_honors_schedule(spark):
    """pace=True through the real transport: every request reaches the
    server no earlier than its fetch_ms offset, and the paced host still
    shares keep-alive connections (fewer connections than requests)."""
    from rcspark.fetch import AsyncHttpTransport

    srv, stats = _start_server()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        n = 16
        # out of order on purpose: the batch is sorted by fetch_ms
        rows = [(f"{base}/ok/{i}", "127.0.0.1", i * 100, 0) for i in reversed(range(n))]
        t0 = time.monotonic()
        got = fetch_http_arrow(
            _schedule(spark, rows), AsyncHttpTransport(timeout=5.0), pace=True
        ).collect()
        assert sorted(r["status"] for r in got) == [200] * n
        for i in range(n):
            assert stats["arrivals"][f"/ok/{i}"] - t0 >= i * 0.1, i
        assert stats["conns"] < n, stats["conns"]
    finally:
        srv.shutdown()


def test_async_transport_unresolvable_host_fails_only_its_urls():
    """A `resolve` that raises (a DNS failure) fails only that host's URLs,
    as (None, None, None): raising out of fetch_many would fail the whole
    mapInPandas task mid-wave. The other host's results are intact."""
    import socket

    from rcspark.fetch import AsyncHttpTransport

    srv, _ = _start_server()
    port = srv.server_address[1]

    def resolve(host, p):
        if host == "gone.example":
            raise socket.gaierror(socket.EAI_NONAME, "Name or service not known")
        return ("127.0.0.1", port)

    try:
        res = AsyncHttpTransport(timeout=5.0, resolve=resolve).fetch_many(
            ["http://up.example/ok/1", "http://gone.example/ok/2",
             "http://up.example/ok/3"]
        )
        assert res == [
            (200, None, b"<title>page 1</title>"),
            (None, None, None),
            (200, None, b"<title>page 3</title>"),
        ]
    finally:
        srv.shutdown()


def test_async_transport_drain_budget_bounds_huge_bodies():
    """ADVICE r3: a body far past max_body must not be drained to the end
    just to save the keep-alive connection — the transport keeps max_body
    bytes, drains at most DRAIN_BUDGET more, else drops the connection,
    and the next URL goes out on a fresh one. Driven directly (no Spark)
    against a handler streaming a body larger than max_body + budget."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    sent = {"bytes": 0, "conns": 0}
    huge_done = threading.Event()
    body_len = 64 << 20  # 64 MiB advertised

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True  # loopback: avoid 40ms Nagle x delayed-ACK

        def setup(self):
            sent["conns"] += 1
            super().setup()

        def do_GET(self):
            if self.path == "/small":
                body = b"<title>small</title>"
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            self.send_response(200)
            self.send_header("Content-Length", str(body_len))
            self.end_headers()
            chunk = b"x" * 65536
            try:
                for _ in range(body_len // len(chunk)):
                    self.wfile.write(chunk)
                    sent["bytes"] += len(chunk)
            except (BrokenPipeError, ConnectionResetError):
                self.close_connection = True  # client hung up at its budget
            finally:
                huge_done.set()

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        # one connection slot: /small can only succeed on a reconnect
        tr = AsyncHttpTransport(timeout=10.0, max_body=1 << 20, concurrency=1)
        (status, redirect_to, body), small = tr.fetch_many(
            [f"{base}/huge", f"{base}/small"]
        )
        assert status == 200
        assert len(body) == 1 << 20  # kept exactly max_body
        assert small == (200, None, b"<title>small</title>")
        assert sent["conns"] == 2, "over-budget connection must be dropped"
        assert huge_done.wait(10)
        cap = (1 << 20) + tr.DRAIN_BUDGET + (8 << 20)  # + OS/server buffers
        assert sent["bytes"] < cap, f"server pushed {sent['bytes']} bytes"
    finally:
        srv.shutdown()


def test_async_transport_classifies_faults():
    """Broken responses come back as tuples, never as exceptions or as a
    truncated page recorded as fetched: a Content-Length longer than the
    body, a stall past the timeout, a truncated chunk, a non-hex chunk
    size and a non-HTTP status line give (None, None, None); a 503 keeps
    its status; the healthy URL in the same batch is intact. Each fault
    came on a fresh connection, so none is requested twice. Driven
    directly (no Spark)."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    ok = b"<title>ok</title>"
    raw = {
        "/ok": b"HTTP/1.1 200 OK\r\nContent-Length: %d\r\n"
               b"Connection: close\r\n\r\n%s" % (len(ok), ok),
        "/retry": b"HTTP/1.1 503 Service Unavailable\r\nRetry-After: 5\r\n"
                  b"Content-Length: 0\r\nConnection: close\r\n\r\n",
        "/short": b"HTTP/1.1 200 OK\r\nContent-Length: 1000\r\n\r\n" + b"x" * 10,
        "/chunk-short": b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                        b"64\r\n" + b"x" * 10,
        "/chunk-hex": b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
                      b"zz\r\nxx\r\n0\r\n\r\n",
        "/not-http": b"ICY 200 OK\r\n\r\n",
    }
    release = threading.Event()
    requests: Counter = Counter()
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def do_GET(self):
            with lock:
                requests[self.path] += 1
            if self.path == "/stall":
                release.wait(30)
            else:
                self.wfile.write(raw[self.path])
            self.close_connection = True

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        paths = ["/ok", "/retry", "/short", "/stall", "/chunk-short",
                 "/chunk-hex", "/not-http"]
        timeout = 1.0
        t0 = time.monotonic()
        res = AsyncHttpTransport(timeout=timeout).fetch_many(
            [base + p for p in paths]
        )
        elapsed = time.monotonic() - t0
        failed = (None, None, None)
        assert dict(zip(paths, res)) == {
            "/ok": (200, None, ok),
            "/retry": (503, None, None),
            "/short": failed,
            "/stall": failed,
            "/chunk-short": failed,
            "/chunk-hex": failed,
            "/not-http": failed,
        }
        assert requests == Counter(paths), requests
        assert elapsed < 3 * timeout, elapsed
    finally:
        release.set()
        srv.shutdown()


def test_async_transport_retries_stale_keepalive_socket():
    """A server that answers one request as keep-alive and then closes the
    socket leaves the transport a stale connection: the next request on it
    fails and is sent once more on a fresh connection, so at concurrency=1
    both URLs succeed over two connections, each requested once."""
    import threading
    from collections import Counter
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    stats = {"conns": 0, "requests": Counter()}

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def setup(self):
            stats["conns"] += 1
            super().setup()

        def do_GET(self):
            stats["requests"][self.path] += 1
            body = self.path.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()  # no Connection: close — the client keeps it
            self.wfile.write(body)
            self.close_connection = True

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        res = AsyncHttpTransport(timeout=5.0, concurrency=1).fetch_many(
            [f"{base}/a", f"{base}/b"]
        )
        assert res == [(200, None, b"/a"), (200, None, b"/b")]
        assert stats["conns"] == 2
        assert stats["requests"] == Counter(["/a", "/b"])
    finally:
        srv.shutdown()


def test_engine_crawl_over_real_http_matches_join_engine(spark, tmp_path):
    """FULL-ENGINE crawl through the production HTTP binding: the fixture
    web is served by a real localhost HTTP server (virtual-hosted via Host
    header; the transport's `resolve` maps every fixture host to the
    server — the DNS/IP-pool seam), and the resulting crawl must equal the
    simulate-join engine on the same fixture: URL-seen set, caption
    corpus, and the (url, result, retry) fetch-attempt multiset."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport
    from rcspark.fixtures import make_fixture
    from rcspark.run import CrawlEngine

    fx = make_fixture(n_hosts=3, urls_per_host=10, seed=7)
    site = {}
    for r in fx.web.itertuples():
        # url_canon = http://host/path...
        rest = r.url_canon.split("://", 1)[1]
        host, _, path = rest.partition("/")
        site[(host, "/" + path)] = (
            int(r.status),
            r.redirect_to,
            bytes(r.body) if r.body is not None else b"",
        )

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True  # loopback: avoid 40ms Nagle x delayed-ACK

        def do_GET(self):
            host = (self.headers.get("Host") or "").split(":")[0]
            hit = site.get((host, self.path))
            if hit is None:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            status, redirect_to, body = hit
            self.send_response(status)
            if redirect_to:
                self.send_header("Location", redirect_to)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]

    try:
        web = spark.createDataFrame(fx.web)
        corpus_src = spark.createDataFrame(fx.corpus)
        eng_join = CrawlEngine(
            spark, str(tmp_path / "join"), web, corpus_src,
            fx.robots, fx.seeds, fx.allowed_hosts,
        )
        eng_join.run()
        transport = AsyncHttpTransport(
            timeout=5.0, resolve=lambda host, p, _port=port: ("127.0.0.1", _port)
        )
        eng_http = CrawlEngine(
            spark, str(tmp_path / "http"), web, corpus_src,
            fx.robots, fx.seeds, fx.allowed_hosts,
            transport=transport,
        )
        eng_http.run()

        def seen(eng):
            return sorted(r.url_canon for r in eng.seen_table().collect())

        def log(eng):
            return sorted(
                (r.url_canon, r.result, r.retry_count)
                for r in eng.fetch_log().collect()
            )

        def captions(eng):
            return sorted(
                (r.image_id, r.caption) for r in eng.corpus_table().collect()
            )

        assert seen(eng_http) == seen(eng_join)
        assert log(eng_http) == log(eng_join)
        assert captions(eng_http) == captions(eng_join)
    finally:
        srv.shutdown()


def test_async_transport_https_verifies_certificates(tmp_path):
    """TLS config seam: a self-signed fixture CA is trusted via
    tls_ca_file; the DEFAULT context must refuse it (verification on)."""
    import ssl
    import subprocess
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    cert, key = str(tmp_path / "cert.pem"), str(tmp_path / "key.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-keyout", key,
         "-out", cert, "-days", "1", "-nodes", "-subj", "/CN=127.0.0.1",
         "-addext", "subjectAltName=IP:127.0.0.1"],
        check=True, capture_output=True,
    )

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def do_GET(self):
            body = b"<title>secure</title>"
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    ctx.load_cert_chain(cert, key)
    srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"https://127.0.0.1:{srv.server_address[1]}/x"
        trusted = AsyncHttpTransport(timeout=5.0, tls_ca_file=cert)
        assert trusted.fetch_many([url]) == [(200, None, b"<title>secure</title>")]
        # default trust store must REJECT the self-signed cert
        assert AsyncHttpTransport(timeout=5.0).fetch_many([url]) == [(None, None, None)]
        # explicit opt-out works (and is explicit)
        [(status2, _, _)] = AsyncHttpTransport(timeout=5.0, tls_insecure=True).fetch_many([url])
        assert status2 == 200
    finally:
        srv.shutdown()


def test_async_transport_chunked_and_close_delimited():
    """HTTP/1.1 framing coverage the join-fetcher never exercises:
    chunked transfer-encoding and close-delimited bodies."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def do_GET(self):
            if self.path == "/chunked":
                self.send_response(200)
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()
                for part in (b"hello ", b"chunked ", b"world"):
                    self.wfile.write(b"%x\r\n%s\r\n" % (len(part), part))
                self.wfile.write(b"0\r\n\r\n")
            else:  # close-delimited: no length, no chunking
                self.send_response(200)
                self.send_header("Connection", "close")
                self.end_headers()
                self.wfile.write(b"until-eof-body")
                self.close_connection = True

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        tr = AsyncHttpTransport(timeout=5.0)
        res = tr.fetch_many([f"{base}/chunked", f"{base}/eof"])
        assert res[0] == (200, None, b"hello chunked world")
        assert res[1] == (200, None, b"until-eof-body")
    finally:
        srv.shutdown()


def test_async_transport_admits_new_connections_per_address():
    """A burst of new connections to one address is admitted
    `concurrency` at a time: each holds a slot from its connect until its
    first response has been read, so at most `concurrency` connections are
    ever waiting on the server, however many virtual hosts resolve to it.
    Kept-alive connections skip the gate, so the connection count is
    unchanged: one per worker, `concurrency` per host."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    stats = {"conns": 0, "unanswered": 0, "max_unanswered": 0}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def setup(self):
            with lock:
                stats["conns"] += 1
                stats["unanswered"] += 1
                stats["max_unanswered"] = max(stats["max_unanswered"], stats["unanswered"])
            self.answered = False
            super().setup()

        def do_GET(self):
            if not self.answered:
                time.sleep(0.05)  # a slow first response keeps the burst in flight
                with lock:
                    stats["unanswered"] -= 1
                self.answered = True
            body = self.path.encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    class Server(ThreadingHTTPServer):
        request_queue_size = 128  # above the burst: the server never drops a SYN

    srv = Server(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        urls = [f"http://h{h}.example/p/{j}" for h in range(12) for j in range(10)]
        res = AsyncHttpTransport(
            timeout=10.0, concurrency=4, resolve=lambda host, p: ("127.0.0.1", port)
        ).fetch_many(urls)
        assert [r[0] for r in res] == [200] * 120
        assert stats["max_unanswered"] <= 4, stats
        assert stats["conns"] == 12 * 4, stats
    finally:
        srv.shutdown()


def test_async_transport_failed_connect_releases_its_slot():
    """A request that fails on a fresh connection, as a malformed response
    or as a stall past `timeout`, gives its address slot back: at
    concurrency=1 the next URLs to that address (another virtual host's,
    and the failing host's own next one) still go out, and the call costs
    one `timeout`. A slot kept on the exception path would deadlock here."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    release = threading.Event()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def do_GET(self):
            if self.path == "/not-http":
                self.wfile.write(b"ICY 200 OK\r\n\r\n")
                self.close_connection = True
            elif self.path == "/stall":
                release.wait(30)
                self.close_connection = True
            else:
                body = self.path.encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    timeout = 1.0
    urls = ["http://bad.example/not-http", "http://bad.example/stall",
            "http://bad.example/ok/3", "http://good.example/ok/1",
            "http://good.example/ok/2"]
    tr = AsyncHttpTransport(timeout=timeout, concurrency=1,
                            resolve=lambda host, p: ("127.0.0.1", port))
    out = []
    try:
        t0 = time.monotonic()
        # in a thread: a leaked slot hangs fetch_many, and the test must fail, not hang
        t = threading.Thread(target=lambda: out.append(tr.fetch_many(urls)), daemon=True)
        t.start()
        t.join(2 * timeout)
        elapsed = time.monotonic() - t0
        assert not t.is_alive(), "fetch_many still running: an address slot leaked"
        assert out == [[(None, None, None), (None, None, None), (200, None, b"/ok/3"),
                        (200, None, b"/ok/1"), (200, None, b"/ok/2")]]
        assert elapsed < 2 * timeout, elapsed
    finally:
        release.set()
        srv.shutdown()


def test_async_transport_header_block_cut_by_eof_fails():
    """A response whose connection closes inside its header block is
    'failed', not a fetched page with no body: the header block is read
    whole, up to its empty line, and EOF before that line is an error."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from rcspark.fetch import AsyncHttpTransport

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"
        disable_nagle_algorithm = True

        def do_GET(self):
            self.wfile.write(b"HTTP/1.1 200 OK\r\nContent-Le")
            self.close_connection = True

        def log_message(self, *a):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/cut"
        assert AsyncHttpTransport(timeout=5.0).fetch_many([url]) == [(None, None, None)]
    finally:
        srv.shutdown()
