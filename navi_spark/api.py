"""Q5: the reference's REST surface as a stdlib HTTP facade over the
DataFrame engine (queryengine/QueryEngine.java:28-31,68-74,298-358).

The reference is a Spring controller with a *stateful two-step protocol*:
``POST /search?query=`` parses the query, records it as a suggestion, and
stores the parsed components on the controller instance; a subsequent
``GET /results`` ranks against the stored components and returns the
documents with snippets plus the elapsed ``total_time`` (ms). We
reproduce that protocol — including CORS ``*`` on every response
(QueryEngine.java:28) and the ``/home`` liveness string — with
``http.server`` so the facade adds no dependency. The engine API remains
DataFrames (SURVEY §2.4); this is the thin serving shim on top, the same
relationship the reference's controller has to its Ranker/DBManager.

Endpoints (paths, params, and response shapes mirror the reference):
  GET  /home                → "Query Engine is running!"  (:68-71)
  POST /search?query=…      → JSON array of parsed tokens (:73-166);
                              side effect: insert-if-absent of the
                              query as a suggestion (:81) — a repeated
                              query commits nothing
  GET  /results             → {"results": [{url, score, snippets}, …],
                               "total_time": ms}          (:305-358)
  GET  /suggestions?query=… → JSON array, case-insensitive contains,
                              limit 5 (DBManager.java:705-726)
An endpoint that raises answers 500 ``{"error": "internal error"}``.

Scale note: the server builds a serving layout of the index once, at
construction (operators/search.py serving_layout: postings carrying idf
and field lengths, and a (doc_id, pop, snippet text) table, both cached
and hash-partitioned by doc_id), and releases it in stop(). Measured
Spark jobs per request on perfbench's 2k-doc index: a POST of a query
this server already recorded runs 0 (it remembers up to
KNOWN_QUERIES_MAX of them), a first-seen POST 1 (the suggestion probe)
and 1 more when its append triggers a compaction; GET /results runs 1
for a terms query (no exchange), and 2 for a phrase or a boolean query
such as `"a b" OR "c"` or `"a" AND "b" NOT "c"` (the prune probe, then
one scan that scores every phrase); a third, the id fetch, when a
selective phrase narrows the scan. The HTTP layer holds no
data — at cluster scale this process is a driver-side gateway and every
ranking stage still runs distributed. Serving state (the parsed query)
is per-server exactly like the reference's per-controller fields, quirks
included: a second POST overwrites the first, and /results before any
POST ranks nothing.
"""

from __future__ import annotations

import json
import threading
import time
from collections import OrderedDict
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional
from urllib.parse import parse_qs, urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from navi_spark.operators import ranker
from navi_spark.operators.queryengine import parse_query
from navi_spark.operators.search import (
    record_suggestion,
    search,
    serving_layout,
)


@dataclass
class ServedIndex:
    """Everything one search needs, prebuilt at index-build time (the
    reference's equivalent is the Mongo collections + stored stats its
    controller queries)."""

    pages: DataFrame                   # (url, rank, <field columns>)
    postings: DataFrame                # flat postings (may embed lengths)
    field_cols: dict[str, str]
    n_docs: int
    lengths: Optional[DataFrame] = None
    phrase_index: Optional["ranker.PhraseIndex"] = None
    avg_lengths: Optional[dict[str, float]] = None
    idf_table: Optional[DataFrame] = None
    suggestions: object = None         # catalog.SnapshotTable or None
    stopwords: frozenset[str] = frozenset()
    k: int = 10


# How many recorded queries a server remembers (least recently POSTed
# first out): a bound, since a long-running server must not grow with its
# traffic, and a known query's POST then runs no Spark job
KNOWN_QUERIES_MAX = 4096


@dataclass
class _ServerState:
    query: Optional[str] = None        # last successfully POSTed query
    # queries this server recorded in its suggestions table; positive
    # only, so a hit is exact while no suggestion row is ever deleted
    known: OrderedDict[str, None] = field(default_factory=OrderedDict)
    lock: threading.Lock = field(default_factory=threading.Lock)


def _parsed_tokens(query: str, stopwords: frozenset[str]) -> list[str]:
    """The POST /search response body: stemmed terms for a bare query,
    the alternating phrase list for a quoted one, [] for invalid —
    exactly what the reference's parseQuery returns (:73-166)."""
    parsed = parse_query(query, stopwords=set(stopwords))
    if parsed.kind == "invalid":
        return []
    if parsed.kind == "terms":
        return parsed.terms
    out: list[str] = []
    for i, phrase in enumerate(parsed.phrases):
        out.append(" ".join(phrase))
        if i < len(parsed.operators):
            out.append(parsed.operators[i])
    return out


class QueryEngineServer:
    """`with QueryEngineServer(index) as url:` — binds 127.0.0.1 on an
    ephemeral port, serves on a daemon thread."""

    def __init__(self, index: ServedIndex, host: str = "127.0.0.1",
                 port: int = 0):
        self.index = index
        self.state = _ServerState()
        # built and cached once per server; stop() releases it
        self.layout = serving_layout(
            index.pages, index.postings, index.lengths, index.field_cols,
            index.n_docs, avg_lengths=index.avg_lengths,
            idf_table=index.idf_table,
        ).persist()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # keep pytest output clean
                pass

            def _send(self, payload, status: int = 200,
                      content_type: str = "application/json") -> None:
                body = (
                    payload.encode()
                    if isinstance(payload, str)
                    else json.dumps(payload).encode()
                )
                self.send_response(status)
                # CORS parity: @CrossOrigin(origins="*", allowedHeaders="*")
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header("Access-Control-Allow-Headers", "*")
                self.send_header("Content-Type", content_type)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_OPTIONS(self):  # CORS preflight
                self.send_response(204)
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header("Access-Control-Allow-Headers", "*")
                self.send_header("Access-Control-Allow-Methods",
                                 "GET, POST, OPTIONS")
                self.end_headers()

            def _serve(self, body, *args) -> None:
                """Send `body(*args)` as JSON; a 500 if it raises, so the
                client gets an answer rather than a dropped connection."""
                try:
                    out = body(*args)
                except Exception:  # noqa: BLE001 — any failure is a 500
                    self._send({"error": "internal error"}, status=500)
                    return
                self._send(out)

            def do_GET(self):
                u = urlparse(self.path)
                if u.path == "/home":
                    self._send("Query Engine is running!",
                               content_type="text/plain")
                elif u.path == "/results":
                    self._serve(outer._results)
                elif u.path == "/suggestions":
                    q = parse_qs(u.query).get("query", [""])[0]
                    self._serve(outer._suggestions, q)
                else:
                    self._send({"error": "not found"}, status=404)

            def do_POST(self):
                u = urlparse(self.path)
                if u.path != "/search":
                    self._send({"error": "not found"}, status=404)
                    return
                q = parse_qs(u.query).get("query", [""])[0]
                self._serve(outer._post_search, q)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    # -- endpoint bodies (run on handler threads, possibly concurrently;
    # Spark calls are thread-safe and state.lock serializes the POST's
    # suggestion commit and stored query, so /results runs outside it) --

    def _post_search(self, query: str) -> list[str]:
        if not query or not query.strip():
            return []  # :78-80
        parsed = parse_query(query, stopwords=set(self.index.stopwords))
        with self.state.lock:
            # the reference inserts the suggestion BEFORE validating
            # (:81 runs ahead of the grammar walk) — same here
            if self.index.suggestions is not None:
                self._record(query)
            if parsed.kind == "invalid":
                self.state.query = None
                return []
            self.state.query = query
        return _parsed_tokens(query, self.index.stopwords)

    def _record(self, query: str) -> None:
        """record_suggestion unless this server already recorded `query`
        (under state.lock). A query is remembered only once its record
        returned, so a failed one is retried by the next POST."""
        known = self.state.known
        if query in known:
            known.move_to_end(query)
            return
        record_suggestion(self.index.suggestions, query)
        known[query] = None
        if len(known) > KNOWN_QUERIES_MAX:
            known.popitem(last=False)

    def _results(self) -> dict:
        t0 = time.monotonic()
        with self.state.lock:
            query = self.state.query
        results = []
        if query is not None:
            idx = self.index
            hits = search(
                query, idx.pages, idx.postings, idx.lengths, idx.field_cols,
                idx.n_docs, k=idx.k, stopwords=idx.stopwords,
                phrase_index=idx.phrase_index, layout=self.layout,
            )
            # the reference strips content/_id and appends snippets
            # (:337-347); url + score + snippets is the surviving shape
            results = [
                {"url": h.doc_id, "score": h.score, "snippets": h.snippet}
                for h in hits
            ]
        total_ms = int((time.monotonic() - t0) * 1000)
        return {"results": results, "total_time": total_ms}

    def _suggestions(self, query: str) -> list[str]:
        if not query or not query.strip():
            return []  # DBManager.java:709-712
        if self.index.suggestions is None or not self.index.suggestions.exists():
            return []
        pat = query.strip().lower()
        rows = (
            self.index.suggestions.read()
            .filter(F.contains(F.lower("suggestion"), F.lit(pat)))
            .limit(5)
            .collect()
        )
        return [r["suggestion"] for r in rows]

    # -- lifecycle --

    @property
    def url(self) -> str:
        h, p = self._httpd.server_address[:2]
        return f"http://{h}:{p}"

    def start(self) -> "QueryEngineServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():  # shutdown() waits for serve_forever
            self._httpd.shutdown()
        self._httpd.server_close()
        self.layout.unpersist()

    def __enter__(self) -> str:
        self.start()
        return self.url

    def __exit__(self, *exc) -> None:
        self.stop()
