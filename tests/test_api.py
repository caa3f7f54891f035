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

from navi_spark import api
from navi_spark.api import QueryEngineServer, ServedIndex
from navi_spark.catalog import SnapshotTable
from navi_spark.operators import indexer, ranker
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


def test_failing_endpoint_answers_500(spark, served, tmp_path, monkeypatch):
    """An endpoint body that raises answers 500 instead of dropping the
    connection: a POST /search whose suggestion commit raises, and a GET
    /results whose search raises. The server keeps serving."""
    _, idx = served
    tbl = SnapshotTable(spark, str(tmp_path / "s"))

    def boom(*_a, **_k):
        raise OSError("injected failure")

    with QueryEngineServer(replace(idx, suggestions=tbl)) as url:
        _post(url, "/search?query=rivers")  # stores a query to rank
        monkeypatch.setattr(tbl, "insert_absent", boom)
        monkeypatch.setattr(api, "search", boom)
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(url, "/search?query=spark")
        assert e.value.code == 500
        assert json.loads(e.value.read()) == {"error": "internal error"}
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(url, "/results")
        assert e.value.code == 500
        r, body = _get(url, "/home")
        assert r.status == 200 and body == b"Query Engine is running!"


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


def _job_ids(spark, body):
    """Ids of the Spark jobs `body()` launches (an endpoint body run on
    this thread, so the job group sees its jobs)."""
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()  # noqa: SLF001
    group = f"jobcount-{uuid.uuid4().hex}"  # a group's count is cumulative
    sc.setJobGroup(group, "count jobs of one request")
    try:
        body()
    finally:
        sc.setJobGroup(None, None)
    return list(tracker.getJobIdsForGroup(group))


def _post_jobs(spark, srv, query):
    """Spark jobs one POST of `query` launches."""
    return len(_job_ids(spark, lambda: srv._post_search(query)))


def test_repeated_post_spark_job_count_bounded(spark, served, tmp_path):
    """Guard the cost of re-recording a known query by counting the Spark
    jobs one repeated POST launches: none, since the server remembers the
    queries it recorded and suggestion rows are never deleted."""
    _, idx = served
    srv = QueryEngineServer(
        replace(idx, suggestions=SnapshotTable(spark, str(tmp_path / "s")))
    ).start()
    try:
        srv._post_search("rivers banks")
        n_jobs = _post_jobs(spark, srv, "rivers banks")
    finally:
        srv.stop()
    # the query's own ranking runs on GET, not here
    assert n_jobs == 0, f"a repeated POST launched {n_jobs} Spark jobs"


def test_post_jobs_bounded_past_many_distinct_queries(spark, served,
                                                      tmp_path):
    """Every new query appends a data directory that each later probe and
    GET /suggestions reads. Past 32 directories
    (spark.sql.sources.parallelPartitionDiscovery.threshold) listing them
    alone starts one more Spark job per request; the compaction after an
    append keeps the table below that, so at 40 distinct suggestions a
    new query's POST launches no more jobs than on a one-row table, and a
    repeated one none."""
    _, idx = served
    tbl = SnapshotTable(spark, str(tmp_path / "s"))
    srv = QueryEngineServer(replace(idx, suggestions=tbl)).start()
    n = 40
    try:
        for i in range(n):
            srv._post_search(f"spark q{i}")
        assert sorted(r["suggestion"] for r in tbl.read().collect()) == sorted(
            f"spark q{i}" for i in range(n))
        assert len(tbl.data_files()) < 8  # compact()'s default min_files
        repeated = _post_jobs(spark, srv, "spark q7")
        # a new query, with no compaction due on it (7 data files after
        # it)
        new = _post_jobs(spark, srv, f"spark q{n}")
    finally:
        srv.stop()
    assert repeated == 0, f"a repeated POST launched {repeated} jobs"
    # measured 1: the filtered read that finds whether the key is present
    # (read() starts no job, the manifest carries the schema); the absent
    # row is appended as an Arrow table, which writes its file without a
    # Spark job
    assert 0 < new <= 1, f"a new query's POST launched {new} jobs"


def test_known_queries_stay_bounded(spark, served, tmp_path, monkeypatch):
    """The queries a server remembers as recorded never outnumber
    KNOWN_QUERIES_MAX, the least recently POSTed leaving first. A POST of
    an evicted query probes the table again and adds no row."""
    _, idx = served
    monkeypatch.setattr(api, "KNOWN_QUERIES_MAX", 3)
    tbl = SnapshotTable(spark, str(tmp_path / "s"))
    srv = QueryEngineServer(replace(idx, suggestions=tbl)).start()
    queries = [f"spark q{i}" for i in range(7)]
    try:
        for q in queries:
            srv._post_search(q)
            assert len(srv.state.known) <= 3
        srv._post_search(queries[4])  # a hit keeps q4 over q5
        assert list(srv.state.known) == [queries[5], queries[6], queries[4]]
        head = tbl.snapshot_id()
        assert _post_jobs(spark, srv, queries[0]) == 1  # evicted: probed
        assert list(srv.state.known) == [queries[6], queries[4], queries[0]]
        assert _post_jobs(spark, srv, queries[0]) == 0
    finally:
        srv.stop()
    assert tbl.snapshot_id() == head
    assert sorted(r["suggestion"] for r in tbl.read().collect()) == sorted(
        queries)


def test_failed_record_is_not_remembered(spark, served, tmp_path,
                                         monkeypatch):
    """A POST whose suggestion commit raises fails, and the server does
    not remember its query: the next POST of it records the row."""
    _, idx = served
    tbl = SnapshotTable(spark, str(tmp_path / "s"))
    srv = QueryEngineServer(replace(idx, suggestions=tbl)).start()
    insert_absent = tbl.insert_absent
    failures = [OSError("injected commit failure")]

    def fails_once(*a, **kw):
        if failures:
            raise failures.pop()
        return insert_absent(*a, **kw)

    try:
        srv._post_search("spark")
        monkeypatch.setattr(tbl, "insert_absent", fails_once)
        with pytest.raises(OSError, match="injected"):
            srv._post_search("rivers banks")
        assert [r["suggestion"] for r in tbl.read().collect()] == ["spark"]
        assert srv._post_search("rivers banks") == ["river", "bank"]
        assert _post_jobs(spark, srv, "rivers banks") == 0
    finally:
        srv.stop()
    assert sorted(r["suggestion"] for r in tbl.read().collect()) == [
        "rivers banks", "spark"]


def test_concurrent_posts_record_each_query_once(spark, served, tmp_path):
    """POSTs from 8 clients at once over a duplicate-heavy mix of queries
    leave exactly one row and one snapshot per distinct query."""
    _, idx = served
    tbl = SnapshotTable(spark, str(tmp_path / "s"))
    queries = ["rivers banks", "spark", '"big tables"', "slow rivers"]
    start = threading.Barrier(8)
    errors: list[Exception] = []

    def client(i, url):
        try:
            start.wait()
            for j in range(6):
                q = queries[(i + j) % 2 if j % 3 else (i * j) % 4]
                _post(url, "/search?query=" + urllib.parse.quote(q))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)
            start.abort()

    with QueryEngineServer(replace(idx, suggestions=tbl)) as url:
        threads = [threading.Thread(target=client, args=(i, url))
                   for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    assert not errors, errors
    assert sorted(r["suggestion"] for r in tbl.read().collect()) == sorted(
        queries)
    assert len(tbl.history()) == len(queries)


# GET /results on a server's cached serving layout, per query shape, with
# a phrase index (measured, AQE on): a terms query is one job with no
# exchange; a phrase or boolean query is one prune probe for all its
# phrases plus one scan that scores them all. Here "rivers" and "joy" are
# selective, but neither narrows its query's candidates (an OR with a
# dense phrase, the right side of a NOT), so no id fetch runs
RESULTS_JOB_BOUNDS = {
    "rivers banks": 1,
    '"big tables"': 2,
    '"big tables" OR "rivers"': 2,
    '"spark" AND "tables" NOT "joy"': 2,
}


def test_results_spark_job_count_bounded(spark, served):
    """Guard the Spark jobs one GET /results launches for each query
    shape. The plain search() reference over the same index agrees."""
    _, idx = served
    phrase_index = ranker.build_phrase_index(idx.pages, "url",
                                             list(FIELDS.values()))
    phrase_index.pairs.count(), phrase_index.word_df.count()
    srv = QueryEngineServer(
        replace(idx, suggestions=None, phrase_index=phrase_index)).start()
    got = {}
    try:
        for q in RESULTS_JOB_BOUNDS:
            srv._post_search(q)
            out = {}
            got[q] = len(_job_ids(spark,
                                  lambda: out.update(srv._results())))
            direct = search(q, idx.pages, idx.postings, idx.lengths, FIELDS,
                            n_docs=idx.n_docs, k=idx.k)
            assert [(h["url"], h["score"]) for h in out["results"]] == [
                (d.doc_id, d.score) for d in direct], q
    finally:
        srv.stop()
        phrase_index.pairs.unpersist(), phrase_index.word_df.unpersist()
    for q, bound in RESULTS_JOB_BOUNDS.items():
        assert 0 < got[q] <= bound, f"GET {q!r} launched {got[q]} jobs"


def test_concurrent_results_overlap_in_time(spark, served):
    """Two GET /results bodies on two threads run their Spark jobs at the
    same time: nothing serializes one query behind another. Read from the
    jobs' submission and completion times in the status store. With a
    phrase index a boolean GET is its prune probe and one scan, so its
    jobs span the driver's planning of the scan; one scan job alone
    (~10 ms) is shorter than the stagger that planning on two threads,
    which share the GIL, puts between their submissions."""
    _, idx = served
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    queries = ['"big tables" OR "rivers"', '"spark" AND "tables" NOT "joy"']
    phrase_index = ranker.build_phrase_index(idx.pages, "url",
                                             list(FIELDS.values()))
    phrase_index.pairs.count(), phrase_index.word_df.count()
    servers = [QueryEngineServer(replace(
        idx, suggestions=None, phrase_index=phrase_index)).start()
        for _ in queries]

    def span(ids):
        """(first submission, last completion) of the jobs, in ms."""
        for _ in range(200):  # the listener bus is asynchronous: settle
            jobs = [store.job(j) for j in ids]
            if all(j.completionTime().isDefined() for j in jobs):
                break
            time.sleep(0.05)
        return (min(j.submissionTime().get().getTime() for j in jobs),
                max(j.completionTime().get().getTime() for j in jobs))

    overlapped = 0
    try:
        for srv, q in zip(servers, queries):
            srv._post_search(q)
        want = [srv._results()["results"] for srv in servers]
        for _ in range(5):
            start = threading.Barrier(len(servers))
            ids: list = [None] * len(servers)
            out: list = [None] * len(servers)

            def client(i):
                start.wait()
                ids[i] = _job_ids(spark, lambda: out.__setitem__(
                    i, servers[i]._results()["results"]))

            threads = [threading.Thread(target=client, args=(i,))
                       for i in range(len(servers))]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            assert out == want
            (s0, e0), (s1, e1) = span(ids[0]), span(ids[1])
            overlapped += max(s0, s1) < min(e0, e1)
    finally:
        for srv in servers:
            srv.stop()
        phrase_index.pairs.unpersist(), phrase_index.word_df.unpersist()
    assert overlapped > 0, "concurrent GET /results never ran at once"


def test_stop_releases_what_the_server_cached(spark, tmp_path):
    """A server caches its serving layout; no RDD it persisted survives
    its stop() (ids, not counts, so an unrelated RDD cleaned up meanwhile
    cannot mask a leak)."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: SLF001

    pages = spark.createDataFrame(
        [(u, h1, other, 1.0) for u, h1, other in DOCS],
        "url string, h1 string, other string, rank double",
    )
    idx = ServedIndex(
        pages=pages, field_cols=FIELDS, n_docs=len(DOCS),
        postings=indexer.build_postings(pages, "url", FIELDS, stem=True),
        lengths=indexer.field_lengths(pages, "url", FIELDS, stem=True),
        suggestions=SnapshotTable(spark, str(tmp_path / "s")),
    )
    before = persisted()
    with QueryEngineServer(idx) as url:
        for q in ("rivers banks", '"big tables"'):
            _post(url, "/search?query=" + urllib.parse.quote(q))
            assert json.loads(_get(url, "/results")[1])["results"]
        assert persisted() - before, "the server cached nothing"
    assert persisted() <= before
