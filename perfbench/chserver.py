"""A local stand-in for the ClickHouse HTTP interface.

It speaks the subset of the protocol the engine's ``ClickHouseSink``
uses: the ``system.tables`` / ``system.columns`` probes, CREATE, ALTER,
TRUNCATE and ``INSERT ... FORMAT TSV``.  Inserted rows are unescaped,
checked to have four fields and stored per table, so the benchmark can
compare them with the reference.  The server counts posts, bytes and
rows, and times its own handler: ``busy_s`` is the endpoint's share of
the sink's wall time.
"""

from __future__ import annotations

import http.server
import re
import threading
import time
import urllib.parse
from collections import defaultdict

_TSV_UNESCAPE = {"\\": "\\", "t": "\t", "n": "\n", "r": "\r"}


def unescape_tsv(field: str) -> str:
    out, i = [], 0
    while i < len(field):
        c = field[i]
        if c == "\\" and i + 1 < len(field):
            out.append(_TSV_UNESCAPE.get(field[i + 1], field[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


class ClickHouseStub:
    """Threaded HTTP server holding tables in memory.  Use as a context
    manager; ``url`` is the base URL to hand to ``http_transport``."""

    COLUMNS = 4  # name, version, license, source

    def __init__(self):
        self.tables: dict[str, list[tuple]] = {}
        self.lock = threading.Lock()
        self.counts: dict[str, float] = defaultdict(float)
        stub = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_POST(self):
                t0 = time.perf_counter()
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                query = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query).get("query", [""])[0]
                status, out = stub.handle(query, body)
                self.send_response(status)
                self.send_header("Content-Length", str(len(out)))
                self.end_headers()
                self.wfile.write(out)
                with stub.lock:
                    stub.counts["posts"] += 1
                    stub.counts["bytes_posted"] += len(body)
                    stub.counts["failed_posts"] += status != 200
                    stub.counts["busy_s"] += time.perf_counter() - t0

            def log_message(self, *args):
                pass

        self._server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_port}"

    def __enter__(self) -> "ClickHouseStub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def handle(self, query: str, body: bytes) -> tuple[int, bytes]:
        q = " ".join(query.split())
        m = re.match(r"SELECT count\(\) FROM system\.(tables|columns) WHERE database = '(\w+)' AND "
                     r"(?:name|table) = '(\w+)'", q)
        if m:
            with self.lock:
                exists = f"{m.group(2)}.{m.group(3)}" in self.tables
            return 200, b"1\n" if exists else b"0\n"
        m = re.match(r"(CREATE TABLE|TRUNCATE TABLE|ALTER TABLE) (\w+\.\w+)", q)
        if m:
            with self.lock:
                if m.group(1) == "ALTER TABLE":
                    return (200, b"") if m.group(2) in self.tables else (404, b"no such table")
                self.tables[m.group(2)] = []
            return 200, b""
        m = re.match(r"INSERT INTO (\w+\.\w+) \(name, version, license, source\) .*FORMAT TSV$", q)
        if m:
            rows = []
            for line in body.decode().split("\n"):
                if not line:
                    continue
                fields = line.split("\t")
                if len(fields) != self.COLUMNS:
                    return 400, b"bad TSV row"
                rows.append(tuple(unescape_tsv(f) for f in fields))
            with self.lock:
                if m.group(1) not in self.tables:
                    return 404, b"no such table"
                self.tables[m.group(1)].extend(rows)
                self.counts["rows"] += len(rows)
                self.counts["inserts"] += 1
            return 200, b""
        return 400, b"unsupported query"

    def rows(self, table: str, drop: bool = False) -> list[tuple]:
        """A copy of a table's rows; ``drop`` also removes the table."""
        with self.lock:
            rows = self.tables.pop(table, []) if drop else list(self.tables.get(table, []))
        return rows
