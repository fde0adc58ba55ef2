"""SPARQL protocol endpoint over the materialized triple table.

The reference ships a Jetty HTTP server speaking the SPARQL 1.1 protocol
(morph-xr2rml-dist/.../server/SparqlEndpoint.scala, service/
SparqlRestService.scala:1-143).  This is the driver-side equivalent: a
threading HTTP server whose handlers evaluate queries with SparqlEngine
against the (cached) triple DataFrame and serialize per the requested
Accept type.

Supported:
  GET  /sparql?query=...            (SPARQL 1.1 protocol §2.1.1)
  POST /sparql  form 'query=...'    (§2.1.2)
  POST /sparql  application/sparql-query body (§2.1.3)

Result formats (Accept):
  SELECT: application/sparql-results+json (default), +xml, text/csv,
          text/tab-separated-values
  ASK:    json / xml booleans
  CONSTRUCT / DESCRIBE: text/turtle (default), application/n-triples

This is a utility for parity and local serving — a production deployment
would put the triple table behind a warehouse endpoint, not the Spark
driver.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional
from urllib.parse import parse_qs, urlparse

from .sparql import (SparqlEngine, parse_sparql, to_ask_xml, to_sparql_csv,
                     to_sparql_json, to_sparql_tsv, to_sparql_xml)


def _best_type(accept: str, offered: list[str]) -> str:
    """Accept matcher with q-values and wildcards (RFC 9110 §12.5.1):
    each offered type scores the q of its most-specific matching range
    (exact > type/* > */*); the highest-q offer wins, ties broken by
    offer order (offered[0] is the server default).  No acceptable match
    → the default (this is a parity utility, not a 406-ing server)."""
    accept = (accept or "").strip()
    if not accept:
        return offered[0]
    ranges: list[tuple[str, float]] = []
    for part in accept.split(","):
        bits = part.strip().split(";")
        mt = bits[0].strip().lower()
        if not mt:
            continue
        q = 1.0
        for p in bits[1:]:
            p = p.strip()
            if p.lower().startswith("q="):
                try:
                    q = float(p[2:])
                except ValueError:
                    q = 0.0
        ranges.append((mt, q))
    if not ranges:
        return offered[0]

    def score(offer: str) -> Optional[float]:
        main = offer.split("/", 1)[0]
        best_spec, best_q = -1, None
        for mt, q in ranges:
            if mt == offer:
                spec = 2
            elif mt == f"{main}/*":
                spec = 1
            elif mt == "*/*":
                spec = 0
            else:
                continue
            if spec > best_spec:
                best_spec, best_q = spec, q
        return best_q

    best = None   # (q, -index, offer)
    for i, o in enumerate(offered):
        q = score(o)
        if q is not None and q > 0 and (best is None or (q, -i) > best[:2]):
            best = (q, -i, o)
    return best[2] if best else offered[0]


class SparqlEndpoint:
    """HTTP SPARQL endpoint bound to one SparqlEngine."""

    def __init__(self, engine: SparqlEngine, host: str = "127.0.0.1",
                 port: int = 0, max_result_rows: Optional[int] = 100_000):
        self.engine = engine
        # the frame ``serve`` cached for this endpoint; ``stop`` releases it
        self._cached = None
        # driver-OOM guard: SELECT/CONSTRUCT results are capped Spark-side
        # (.limit) before the driver-side serializers collect them; None
        # disables the cap
        self.max_result_rows = max_result_rows
        endpoint = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, ctype: str, body: str,
                       truncated: bool = False):
                data = body.encode("utf-8")
                self.send_response(code)
                self.send_header("Content-Type", ctype + "; charset=utf-8")
                self.send_header("Content-Length", str(len(data)))
                if truncated:
                    # the result was cut at max_result_rows — clients must
                    # be able to tell a capped answer from a complete one
                    # (ADVICE r3)
                    self.send_header("X-Sparql-Results-Truncated", "true")
                self.end_headers()
                self.wfile.write(data)

            def _run(self, query: Optional[str]):
                if not query:
                    self._reply(400, "text/plain", "missing 'query'")
                    return
                # protocol: 400 is reserved for MALFORMED queries; an
                # evaluation-time engine/Spark failure is a 500
                try:
                    q = parse_sparql(query)
                except Exception as e:
                    self._reply(400, "text/plain", f"malformed query: {e}")
                    return
                try:
                    body, ctype, truncated = endpoint.answer(
                        q, self.headers.get("Accept", ""))
                except Exception as e:
                    self._reply(500, "text/plain", f"evaluation error: {e}")
                    return
                self._reply(200, ctype, body, truncated=truncated)

            def do_GET(self):
                u = urlparse(self.path)
                if u.path not in ("/sparql", "/"):
                    self._reply(404, "text/plain", "not found")
                    return
                q = parse_qs(u.query).get("query", [None])[0]
                self._run(q)

            def do_POST(self):
                u = urlparse(self.path)
                if u.path not in ("/sparql", "/"):
                    self._reply(404, "text/plain", "not found")
                    return
                length = int(self.headers.get("Content-Length", "0"))
                raw = self.rfile.read(length).decode("utf-8")
                ctype = self.headers.get("Content-Type", "")
                if "application/sparql-query" in ctype:
                    self._run(raw)
                else:
                    q = parse_qs(raw).get("query", [None])[0]
                    self._run(q)

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: Optional[threading.Thread] = None

    # -- query answering ---------------------------------------------------
    def _capped(self, df):
        """Apply the driver-OOM row cap; returns (df, truncated).  Fetches
        cap+1 rows to distinguish an exactly-cap-sized result from a
        truncated one (ADVICE r3: silent truncation looked complete)."""
        if self.max_result_rows is None:
            return df, False
        # single evaluation: take(cap+1) collects once, and the rows that
        # are serialized are exactly the rows that were counted (a second
        # execution of a nondeterministic limit() could return others)
        rows = df.take(self.max_result_rows + 1)
        truncated = len(rows) > self.max_result_rows
        local = df.sparkSession.createDataFrame(
            rows[:self.max_result_rows], df.schema)
        return local, truncated

    def answer(self, query, accept: str = "") -> tuple[str, str, bool]:
        """Evaluate and serialize; returns (body, content_type, truncated).
        ``query`` is raw SPARQL text or an already-parsed query (the HTTP
        handler parses once to split 400/500, then passes the parse)."""
        q = query if not isinstance(query, str) else parse_sparql(query)
        if q.is_ask:
            result = self.engine.ask(q)
            t = _best_type(accept, ["application/sparql-results+json",
                                    "application/sparql-results+xml"])
            if t.endswith("xml"):
                return to_ask_xml(result), t, False
            return json.dumps({"head": {}, "boolean": result}), t, False
        if q.construct is not None or q.describe is not None:
            df = (self.engine.construct(q)
                  if q.construct is not None else self.engine.sql(q))
            df, truncated = self._capped(df)
            t = _best_type(accept, ["text/turtle", "application/n-triples"])
            from .rdf_io import to_ntriples, to_turtle
            body = to_ntriples(df) if t == "application/n-triples" \
                else to_turtle(df)
            return body, t, truncated
        df = self.engine.sql(q)
        df, truncated = self._capped(df)
        t = _best_type(accept, ["application/sparql-results+json",
                                "application/sparql-results+xml",
                                "text/csv", "text/tab-separated-values"])
        if t == "application/sparql-results+xml":
            return to_sparql_xml(df), t, truncated
        if t == "text/csv":
            return to_sparql_csv(df), t, truncated
        if t == "text/tab-separated-values":
            return to_sparql_tsv(df), t, truncated
        return json.dumps(to_sparql_json(df)), t, truncated

    # -- lifecycle ----------------------------------------------------------
    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/sparql"

    def start(self) -> "SparqlEndpoint":
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        """Shut the server down and unpersist the triple table if
        ``serve`` cached it."""
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None


def serve(triples_df, host: str = "127.0.0.1", port: int = 0,
          cache: bool = True) -> SparqlEndpoint:
    """One-call: cache the triple table and start serving SPARQL on it.
    A table the caller already cached stays the caller's; one cached here
    is unpersisted by ``stop()``."""
    owned = cache and not triples_df.is_cached
    if owned:
        triples_df = triples_df.cache()
    ep = SparqlEndpoint(SparqlEngine(triples_df), host, port)
    ep._cached = triples_df if owned else None
    return ep.start()
