"""Q5 REST surface (navi_spark/api.py) — protocol parity with the
reference's Spring controller (queryengine/QueryEngine.java:28-31,
68-74,298-358): /home, the stateful POST /search → GET /results
two-step, /suggestions contains-match, CORS * on every response."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
import uuid

from dataclasses import replace

import pytest

from navi_spark.api import QueryEngineServer, ServedIndex
from navi_spark.catalog import SnapshotTable
from navi_spark.operators import indexer
from navi_spark.operators.search import search

DOCS = [
    ("u0", "spark engines", "spark shuffles move the big tables quickly"),
    ("u1", "slow rivers", "rivers flow and flow slowly along the banks"),
    ("u2", "tables everywhere", "the big tables hold rows and spark joy"),
    ("u3", "quiet corner", "nothing interesting lives here at all"),
    ("u4", "filler page", "completely unrelated filler words only"),
]
FIELDS = {"h1": "h1", "other": "other"}


# generous client timeout: the first POST/GET pays cold-JVM Spark work
# (suggestion-table create + first ranking jobs) inside the handler
# thread; 30s was measured too tight in a slow host window and the
# abandoned handler thread then races session teardown
_HTTP_TIMEOUT = 300


def _get(url, path):
    with urllib.request.urlopen(url + path, timeout=_HTTP_TIMEOUT) as r:
        return r, r.read()


def _post(url, path):
    req = urllib.request.Request(url + path, data=b"", method="POST")
    with urllib.request.urlopen(req, timeout=_HTTP_TIMEOUT) as r:
        return r, r.read()


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    pages = spark.createDataFrame(
        [(u, h1, other, 1.0 if u != "u2" else 5.0) for u, h1, other in DOCS],
        "url string, h1 string, other string, rank double",
    ).cache()
    postings = indexer.build_postings(pages, "url", FIELDS, stem=True).cache()
    lengths = indexer.field_lengths(pages, "url", FIELDS, stem=True).cache()
    sugg = SnapshotTable(
        spark, str(tmp_path_factory.mktemp("api") / "suggestions")
    )
    idx = ServedIndex(
        pages=pages, postings=postings, lengths=lengths,
        field_cols=FIELDS, n_docs=len(DOCS), suggestions=sugg,
    )
    # materialize the cached index OUTSIDE the HTTP path so the first
    # request doesn't also pay the cache-build jobs under a client timeout
    for df in (pages, postings, lengths):
        df.count()
    srv = QueryEngineServer(idx)
    srv.start()
    yield srv.url, idx
    srv.stop()


def test_home_and_cors(served):
    url, _ = served
    r, body = _get(url, "/home")
    assert body == b"Query Engine is running!"  # :70
    assert r.headers["Access-Control-Allow-Origin"] == "*"  # :28


def test_search_then_results_matches_direct_search(served):
    url, idx = served
    r, body = _post(url, "/search?query=rivers%20banks")
    # POST returns the parsed (stemmed) tokens (:73-166)
    assert json.loads(body) == ["river", "bank"]
    r, body = _get(url, "/results")
    out = json.loads(body)
    assert isinstance(out["total_time"], int)
    direct = search("rivers banks", idx.pages, idx.postings, idx.lengths,
                    FIELDS, n_docs=idx.n_docs, k=idx.k)
    assert [h["url"] for h in out["results"]] == [d.doc_id for d in direct]
    assert [h["score"] for h in out["results"]] == [d.score for d in direct]
    assert all("snippets" in h for h in out["results"])
    assert r.headers["Access-Control-Allow-Origin"] == "*"


def test_stateful_overwrite_and_phrase_tokens(served):
    url, idx = served
    # second POST overwrites the stored query (controller-field parity)
    _, body = _post(url, "/search?query=%22big%20tables%22%20OR%20%22rivers%22")
    assert json.loads(body) == ["big tables", "OR", "rivers"]
    _, body = _get(url, "/results")
    urls = {h["url"] for h in json.loads(body)["results"]}
    assert urls == {"u0", "u1", "u2"}


def test_invalid_and_empty_queries(served):
    url, _ = served
    _, body = _post(url, "/search?query=")
    assert json.loads(body) == []
    _, body = _post(url, '/search?query=%22unclosed')
    assert json.loads(body) == []  # unmatched quote → invalid → []
    # invalid POST cleared the stored query → /results ranks nothing
    _, body = _get(url, "/results")
    assert json.loads(body)["results"] == []


def test_suggestions_contains_limit5(served):
    url, idx = served
    for q in ("rivers banks", "river rafting", "big rivers", "tables"):
        _post(url, "/search?query=" + urllib.parse.quote(q))
    _, body = _get(url, "/suggestions?query=RIVER")
    got = json.loads(body)
    # case-insensitive contains (DBManager.java:717), every hit has it
    assert got and all("river" in s.lower() for s in got) and len(got) <= 5
    _, body = _get(url, "/suggestions?query=")
    assert json.loads(body) == []  # :709-712


def test_unknown_path_404(served):
    url, _ = served
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(url, "/nope")
    assert e.value.code == 404


def test_concurrent_results_keep_session_conf(spark, served):
    """search() sets the session's shuffle-partition and AQE confs for a
    query and restores them; concurrent GET /results calls must not
    interleave that save/set/restore (the session was left at the serving
    values) nor rank under each other's confs."""
    _, idx = served
    queries = ["rivers banks", "spark tables", '"big tables"', "spark",
               '"big tables" OR "rivers"', "tables AND spark NOT rivers"]
    confs = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    before = [spark.conf.get(c) for c in confs]
    want = {
        q: [(h.doc_id, h.score) for h in search(
            q, idx.pages, idx.postings, idx.lengths, FIELDS,
            n_docs=idx.n_docs, k=idx.k)]
        for q in queries
    }
    # one server per query: a server ranks its last POSTed query, so each
    # thread's GETs have a known expected answer
    servers = [QueryEngineServer(replace(idx, suggestions=None)).start()
               for _ in queries]
    got: dict[str, list] = {q: [] for q in queries}
    errors: list[Exception] = []
    rounds = threading.Barrier(len(queries))

    def client(i, srv, q):
        try:
            for _ in range(5):
                # staggered starts: each query begins while the earlier
                # ones are in flight, where an unserialized save/restore
                # interleaves (simultaneous starts all save the same value)
                rounds.wait()
                time.sleep(0.02 * i)
                _, body = _get(srv.url, "/results")
                got[q].append([(h["url"], h["score"])
                               for h in json.loads(body)["results"]])
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)
            rounds.abort()  # release the other clients

    try:
        for srv, q in zip(servers, queries):
            _post(srv.url, "/search?query=" + urllib.parse.quote(q))
        threads = [threading.Thread(target=client, args=(i, srv, q))
                   for i, (srv, q) in enumerate(zip(servers, queries))]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    finally:
        for srv in servers:
            srv.stop()
        after = [spark.conf.get(c) for c in confs]
        for c, v in zip(confs, before):  # keep a leak out of later tests
            spark.conf.set(c, v)
    assert not errors, errors
    assert after == before
    for q in queries:
        assert got[q] == [want[q]] * 5, q


def test_post_builds_no_python_rdd(spark, served, monkeypatch):
    """POST /search records its suggestion from a JVM-built row: neither a
    new query nor a repeated one starts a Python RDD."""
    url, idx = served

    def no_python_rdd(*_a, **_k):
        raise AssertionError("POST /search built a Python RDD")

    monkeypatch.setattr(spark.sparkContext, "parallelize", no_python_rdd)
    for _ in range(2):
        _, body = _post(url, "/search?query=rivers%20flow%20slowly")
        assert json.loads(body) == ["river", "flow", "slowli"]
    hits = idx.suggestions.read().filter("suggestion = 'rivers flow slowly'")
    assert hits.count() == 1


def test_suggestion_commits_once_per_distinct_query(spark, served, tmp_path):
    """Recording an already-recorded query commits nothing: 50 POSTs over
    5 distinct queries leave 5 rows, 5 snapshots and 5 data directories."""
    _, idx = served
    tbl = SnapshotTable(spark, str(tmp_path / "suggestions"))
    queries = ["rivers banks", "spark", '"big tables"', "slow rivers",
               '"unclosed']  # invalid queries are recorded too (:81)
    with QueryEngineServer(replace(idx, suggestions=tbl)) as url:
        for i in range(50):
            _post(url, "/search?query=" + urllib.parse.quote(queries[i % 5]))
    assert sorted(r["suggestion"] for r in tbl.read().collect()) == sorted(
        queries)
    assert len(tbl.history()) == 5
    assert len(os.listdir(os.path.join(tbl.root, "data"))) == 5


def _post_jobs(spark, srv, query):
    """Spark jobs one POST of `query` launches (the endpoint body runs on
    this thread, so the job group sees its jobs)."""
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()  # noqa: SLF001
    group = f"post-jobcount-{uuid.uuid4().hex}"  # a group's count is cumulative
    sc.setJobGroup(group, "count jobs of one POST")
    try:
        srv._post_search(query)
    finally:
        sc.setJobGroup(None, None)
    return len(list(tracker.getJobIdsForGroup(group)))


def test_repeated_post_spark_job_count_bounded(spark, served, tmp_path):
    """Guard the cost of re-recording a known query by counting the Spark
    jobs one repeated POST launches."""
    _, idx = served
    srv = QueryEngineServer(
        replace(idx, suggestions=SnapshotTable(spark, str(tmp_path / "s"))))
    srv._post_search("rivers banks")
    n_jobs = _post_jobs(spark, srv, "rivers banks")
    # measured with AQE on (2): the broadcast build of the table's keys
    # for the left-anti probe, and the probe's isEmpty. read() starts no
    # job (the manifest carries the schema). The query's own ranking
    # runs on GET, not here.
    assert 0 < n_jobs <= 2, f"a repeated POST launched {n_jobs} Spark jobs"


def test_post_jobs_bounded_past_many_distinct_queries(spark, served,
                                                      tmp_path):
    """Every new query appends a data directory that each later probe and
    GET /suggestions reads. Past 32 directories
    (spark.sql.sources.parallelPartitionDiscovery.threshold) listing them
    alone starts one more Spark job per request; the compaction after an
    append keeps the table below that, so at 40 distinct suggestions a
    POST launches no more jobs than on a one-row table."""
    _, idx = served
    tbl = SnapshotTable(spark, str(tmp_path / "s"))
    srv = QueryEngineServer(replace(idx, suggestions=tbl))
    n = 40
    for i in range(n):
        srv._post_search(f"spark q{i}")
    assert sorted(r["suggestion"] for r in tbl.read().collect()) == sorted(
        f"spark q{i}" for i in range(n))
    assert len(tbl.data_files()) < 8  # compact()'s default min_files
    repeated = _post_jobs(spark, srv, "spark q7")
    assert 0 < repeated <= 2, f"a repeated POST launched {repeated} jobs"
    # a new query, with no compaction due on it (7 data files after it):
    # measured 4 with AQE on, the repeated POST's 2 plus the append
    # re-running the probe's broadcast build and its parquet write job
    new = _post_jobs(spark, srv, f"spark q{n}")
    assert 0 < new <= 4, f"a new query's POST launched {new} jobs"
