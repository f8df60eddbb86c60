"""Minimal HTTP SPARQL endpoint (SURVEY B52 — the reference serves GraphDB
on port 7200, GraphDBSystemAdapter.java:107; graphdb-free.docker:28).

Stdlib-only (no web framework in the runtime image): POST /sparql with the
query as the request body (or ``application/x-www-form-urlencoded`` with a
``query``/``update`` field) returns SPARQL-Results-JSON, including the
reference's error sentinel on failure. Single-threaded by design — Spark
query concurrency is the session's scheduler concern, and the reference
itself executed on a 2-thread pool (GraphDBSystemAdapter.java:81).
"""

from __future__ import annotations

import json
from http.server import (BaseHTTPRequestHandler, HTTPServer,
                         ThreadingHTTPServer)
from typing import Optional
from urllib.parse import parse_qs

from graphdb_free_mocha_sa_spark.engine import Engine


_UPDATE_VERBS = ("INSERT", "DELETE", "LOAD", "CLEAR", "DROP", "CREATE",
                 "COPY", "MOVE", "ADD", "WITH", "PREFIX INSERT")


def _run_if_update(engine: Engine, body: str, content_type: str
                   ) -> tuple[str, Optional[tuple[int, str]]]:
    """Decode the request body (raw, or a form with an ``update`` /
    ``query`` field). An update runs here and its JSON ack comes back as
    ``(status, payload)``; a query comes back as its text with no ack."""
    query = body
    is_update = False
    if "x-www-form-urlencoded" in content_type:
        form = parse_qs(body)
        if "update" in form:
            query, is_update = form["update"][0], True
        elif "query" in form:
            query = form["query"][0]
    if not (is_update or query.lstrip().upper().startswith(_UPDATE_VERBS)):
        return query, None
    try:
        engine.update(query)
        return query, (200, json.dumps({"ok": True}))
    except Exception as e:  # noqa: BLE001
        return query, (400, json.dumps({"ok": False, "error": str(e)[:500]}))


def handle_request(engine: Engine, body: str,
                   content_type: str = "") -> tuple[int, str]:
    """Pure request handler (unit-testable without sockets).

    Update requests return ``{"ok": true}``; queries return
    SPARQL-Results-JSON (engine.query_json supplies the sentinel on error).
    """
    query, ack = _run_if_update(engine, body, content_type)
    return ack if ack is not None else (200, engine.query_json(query))


#: Accept-header negotiation (B51+, r6): first recognized media type wins;
#: default JSON (the reference adapter's only format)
_ACCEPT_FORMATS = (
    ("application/sparql-results+json", "json"),
    ("application/sparql-results+xml", "xml"),
    ("text/csv", "csv"),
    ("text/tab-separated-values", "tsv"),
)
_FMT_CONTENT_TYPE = {
    "json": "application/sparql-results+json",
    "xml": "application/sparql-results+xml",
    "csv": "text/csv",
    "tsv": "text/tab-separated-values",
}


def negotiate_format(accept: str) -> str:
    """Pick the result format from an Accept header: q-values honored
    (q=0 excludes), ties broken by the client's listing order; unknown or
    empty headers (and */*) fall back to JSON (r6 review fix — the first
    cut matched by server list order and ignored q)."""
    known = dict(_ACCEPT_FORMATS)
    best, best_q, best_pos = "json", -1.0, 1 << 30
    for pos, part in enumerate((accept or "").split(",")):
        bits = part.strip().split(";")
        media = bits[0].strip().lower()
        q = 1.0
        for p in bits[1:]:
            p = p.strip()
            if p.startswith("q="):
                try:
                    q = float(p[2:])
                except ValueError:
                    q = 0.0
        if q <= 0:
            continue
        fmt = known.get(media, "json" if media in ("*/*", "application/*",
                                                   "text/*") else None)
        if fmt is None:
            continue
        if q > best_q or (q == best_q and pos < best_pos):
            best, best_q, best_pos = fmt, q, pos
    return best


def handle_request_stream(engine: Engine, body: str, write,
                          content_type: str = "",
                          start=None, fmt: str = "json") -> int:
    """Streaming request handler: query results are piped into ``write``
    chunk-by-chunk (Engine.query_json_to — driver memory independent of
    result size); updates and errors emit one small chunk. ``start(code)``,
    if given, fires with the HTTP status BEFORE the first write (queries
    always stream as 200 — a failing query emits the reference's sentinel
    body, matching handle_request). Returns the status. The socket server
    uses this with chunked transfer-encoding, so a huge SELECT never
    buffers on the driver."""
    query, ack = _run_if_update(engine, body, content_type)
    if ack is not None:
        code, payload = ack
        if start is not None:
            start(code, "json")     # acks are JSON whatever was negotiated
        write(payload)
        return code
    if start is not None:
        start(200, fmt)
    engine.query_to(query, write, fmt=fmt)
    return 200


def serve(engine: Engine, port: int = 7200) -> "HTTPServer":
    """Build the endpoint (returns the HTTPServer — callers own the loop:
    ``serve_forever`` for the CLI, ``server.shutdown()`` for tests/bench
    round-trips)."""
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def _stream(self, body: str, content_type: str = "") -> None:
            # chunked transfer-encoding: result bytes stream straight from
            # toLocalIterator to the socket — the endpoint never holds the
            # result set (B51/B52 bounded leg). start() fires before the
            # first chunk, so the status line is always correct.
            started = []
            fmt = negotiate_format(self.headers.get("Accept", ""))

            def start(code: int, used_fmt: str = "json") -> None:
                started.append(code)
                self.send_response(code)
                self.send_header("Content-Type", _FMT_CONTENT_TYPE[used_fmt])
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()

            def write(chunk: str) -> None:
                data = chunk.encode("utf-8")
                if data:
                    self.wfile.write(b"%x\r\n" % len(data) + data + b"\r\n")

            try:
                handle_request_stream(engine, body, write, content_type,
                                      start=start, fmt=fmt)
            except Exception:  # noqa: BLE001 — 500 if nothing sent yet
                if not started:
                    start(500)
            self.wfile.write(b"0\r\n\r\n")

        def do_POST(self):  # noqa: N802
            n = int(self.headers.get("Content-Length", 0))
            self._stream(self.rfile.read(n).decode("utf-8"),
                         self.headers.get("Content-Type", ""))

        def do_GET(self):  # noqa: N802 — SPARQL protocol §2.1.1: GET ?query=
            from urllib.parse import urlsplit
            qs = parse_qs(urlsplit(self.path).query)
            if "query" not in qs:
                self.send_response(400)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            self._stream(qs["query"][0])

        def log_message(self, *args):  # quiet
            pass

    # Threaded (r7, VERDICT r6 item 5): the reference served its adapter
    # from a 2-thread pool (GraphDBSystemAdapter.java:81) — readers keep
    # streaming while an update executes. Safe because reads run against
    # immutable store snapshots (QuadStore.df) and writers swap them under
    # the store lock; Spark job submission is thread-safe.
    class _Server(ThreadingHTTPServer):
        daemon_threads = True

    return _Server(("0.0.0.0", port), Handler)


def serve_forever(engine: Engine, port: int = 7200) -> None:
    serve(engine, port).serve_forever()


def main() -> None:
    import argparse

    from graphdb_free_mocha_sa_spark.session import get_spark
    from graphdb_free_mocha_sa_spark.store import QuadStore, open_fixture_store

    ap = argparse.ArgumentParser(description="SPARQL endpoint / one-shot CLI")
    ap.add_argument("--sf-dir", default=None,
                    help="preload the fixture quads from this directory")
    ap.add_argument("--port", type=int, default=7200)
    ap.add_argument("query", nargs="?",
                    help="one-shot: run this SPARQL and print JSON (no server)")
    args = ap.parse_args()

    spark = get_spark("sparql-endpoint")
    store = open_fixture_store(spark, args.sf_dir) if args.sf_dir \
        else QuadStore(spark)
    engine = Engine(spark, store)
    if args.query:
        code, payload = handle_request(engine, args.query)
        print(payload)
        raise SystemExit(0 if code == 200 else 1)
    serve_forever(engine, args.port)


if __name__ == "__main__":
    main()
