"""Physical-plan audits of the engine's operators: filter pushdown, hash
aggregation, broadcast choices and UDF placement — "would this plan
survive 100×" made assertable."""

from __future__ import annotations

import pyspark.sql.functions as F

from navi_spark.plans import executed_operators, explain_str, pushed_filters


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 100
    ).select("doc_id")
    pf = pushed_filters(df)
    assert any("doc_id" in p for p in pf), explain_str(df)[:1500]


def test_dedup_is_hash_agg_not_window(spark, sf_dir):
    """The frontier's URL dedup must compile to a (partial) hash aggregate —
    the per-url window variant was 13× slower at 500k urls."""
    from navi_spark.sources.datagen import generate_urls

    raw = generate_urls(spark, 1000, n_hosts=10, dirty=True,
                        with_children=False).select("url")
    dd = raw.groupBy("url").agg(F.count("*").alias("n"))
    plan = explain_str(dd, "simple")
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "Window" not in plan


def test_broadcast_join_for_small_rules(spark):
    from navi_spark.operators.robots import filter_allowed, parsed_rules_table

    robots = spark.createDataFrame(
        [("h.test", "User-agent: *\nDisallow: /x\n", 0.0)],
        "host string, robots_txt string, crawl_delay_s double",
    )
    # hosts must VARY or Catalyst constant-folds the equi-join into a
    # filter + BroadcastNestedLoopJoin (a degenerate-test artifact)
    host = F.concat(F.lit("h"), (F.col("id") % 3).cast("string"), F.lit(".test"))
    cand = spark.range(1000).select(
        F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("id")).alias("url"),
        host.alias("host"),
    )
    # broadcast_rules=True is the explicit opt-in for known-small host
    # universes; the default leaves the choice to AQE (the rules relation
    # is unbounded at the design point and must not be force-broadcast)
    out = filter_allowed(cand, parsed_rules_table(robots), broadcast_rules=True)
    assert "BroadcastHashJoin" in explain_str(out, "simple")


def test_politeness_never_broadcasts_full_host_counts(spark):
    """`host_counts` has one row per host that ever fetched — unbounded at
    the 10^10-URL design point. The politeness join must broadcast ONLY the
    bounded at-cap host list (the anti-join side); the under-cap
    `_remaining` counts join stays a shuffled join (AQE may promote it at
    runtime while small, but the static plan must not pin a broadcast)."""
    from navi_spark.operators.frontier import politeness_open_rows

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        host = F.concat(F.lit("h"), (F.col("id") % 50).cast("string"))
        new = spark.range(1000).select(
            F.concat(F.lit("https://"), host, F.lit("/p/"), F.col("id"))
            .alias("url"),
            host.alias("host"),
            F.lit(1.0).alias("rank"),
            F.lit(0).alias("depth"),
        )
        counts = spark.range(50).select(
            F.concat(F.lit("h"), F.col("id").cast("string")).alias("host"),
            (F.col("id") % 7).cast("long").alias("successes"),
        )
        out = politeness_open_rows(new, counts, cap=5)
        plan = explain_str(out, "simple")
        # exactly one broadcast: the explicit hint on the at-cap host list
        n_bcast = plan.count("BroadcastHashJoin") + plan.count(
            "BroadcastNestedLoopJoin"
        )
        assert n_bcast == 1, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # and the semantics: at-cap hosts dropped, remaining annotated
        rows = out.collect()
        assert all(1 <= r["_remaining"] <= 5 for r in rows)
        hosts_kept = {r["host"] for r in rows}
        # hosts h5, h12, ... have successes in {5,6} >= cap → dropped
        assert not any(
            int(h[1:]) % 7 >= 5 for h in hosts_kept
        ), sorted(hosts_kept)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_phrase_prune_switches_literal_in_to_semi_join_above_cap(spark):
    """phrase_prune pushes ≤1k candidate ids as a literal IN (parquet
    row-group skipping); above 1k it must switch to a broadcast left-semi
    join — a 10k-literal IN bloats plan compile time with no extra
    skipping value (VERDICT r03 nit 2)."""
    from navi_spark.operators.ranker import PhraseIndex, phrase_prune

    pages = spark.range(3000).select(
        F.col("id").cast("string").alias("url"),
        F.lit("needle rare words").alias("text"),
    )
    pairs = spark.range(3000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") < 1500, "needle").otherwise("rare").alias("word"),
    )
    word_df = pairs.groupBy("word").agg(F.count("*").alias("df"))
    idx = PhraseIndex(pairs, word_df)

    dense = phrase_prune(pages, idx, ["needle"], id_col="url")
    plan_dense = explain_str(dense, "simple")
    assert "LeftSemi" in plan_dense and "Broadcast" in plan_dense, plan_dense
    assert dense.count() == 1500

    sparse = phrase_prune(pages, idx, ["rare"], id_col="url",
                          max_literal_in=2000)
    plan_sparse = explain_str(sparse, "simple")
    # no join at all: the ids are inlined as a literal membership predicate
    assert "Join" not in plan_sparse, plan_sparse
    assert "Filter" in plan_sparse, plan_sparse
    assert sparse.count() == 1500


def test_payload_validation_not_relocated_below_store_semi_join(spark):
    """The decode UDF must evaluate ONCE, on the semi-join-pruned sliver —
    left deterministic, Catalyst pushes _fail predicates through the fetch
    join and re-runs the decode over the FULL store scan (measured: 4M
    decodes for an 800k-attempt wave, the UDF twice in one plan). Guards
    the asNondeterministic pin on validate_payload_udf (fetch.py)."""
    from navi_spark.operators.fetch import validate_payload_udf
    from navi_spark.sources.datagen import generate_images

    img = generate_images(spark, 200, parts=2)
    keys = spark.range(50).select(
        F.format_string("img%010d", F.col("id") * 3).alias("image_id"))
    hit = img.join(F.broadcast(keys), on="image_id", how="left_semi")
    meta = hit.withColumn(
        "_fail",
        validate_payload_udf("image_id", "bytes", "fmt", "w", "h", "caption"),
    )
    # downstream predicate on the verdict — the pushdown bait. Since the
    # r06 generator restructure, generate_images contributes its own
    # ArrowEvalPython nodes (per-column Arrow UDFs), so the guard pins the
    # VALIDATE udf specifically: exactly one evaluation, and it sits above
    # the semi join (on the pruned sliver), never re-run below it.
    plan = (meta.filter(F.col("_fail").isNotNull())
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("validate_payload") == 1, plan
    assert plan.index("validate_payload") < plan.index("BroadcastHashJoin"), plan


def test_served_terms_query_plans_no_exchange(spark, monkeypatch):
    """A terms query on a server's serving layout runs inside the doc_id
    partitions the layout was cached in: BM25F's per-doc sum, the join
    that brings popularity and snippet text, and the top-k plan no
    shuffle and no broadcast, whatever the session's partition and AQE
    confs say."""
    from navi_spark.api import QueryEngineServer, ServedIndex
    from navi_spark.operators import indexer

    fields = {"h1": "h1", "other": "other"}
    words = F.array(*[F.lit(w) for w in
                      "alpha beta gamma delta kappa sigma omega".split()])
    colors = F.array(*[F.lit(w) for w in "red green blue cyan pink".split()])
    pages = spark.range(400).select(
        F.format_string("u%04d", F.col("id")).alias("url"),
        F.element_at(words, (F.col("id") % 7 + 1).cast("int")).alias("h1"),
        F.concat_ws(" ", F.lit("spark"),
                    F.element_at(colors, (F.col("id") % 5 + 1).cast("int")),
                    F.lit("tables")).alias("other"),
        (F.col("id") % 10 / 10.0).alias("rank"),
    ).cache()
    postings = indexer.build_postings(pages, "url", fields, stem=False)
    lengths = indexer.field_lengths(pages, "url", fields, stem=False)
    srv = QueryEngineServer(ServedIndex(
        pages=pages, postings=postings.cache(), lengths=lengths.cache(),
        field_cols=fields, n_docs=400)).start()
    ran = []
    df_type = type(pages)
    real_collect = df_type.collect

    def spy(self):
        ran.append(self)
        return real_collect(self)

    try:
        srv._post_search("green beta")
        monkeypatch.setattr(df_type, "collect", spy)
        out = srv._results()
        monkeypatch.undo()
        assert len(out["results"]) == 10 and len(ran) == 1
        ops = executed_operators(ran[0])
        assert "InMemoryTableScan" in ops, ops
        assert not [o for o in ops if "Exchange" in o], ops
    finally:
        monkeypatch.undo()
        srv.stop()
        for df in (pages, postings, lengths):
            df.unpersist()
