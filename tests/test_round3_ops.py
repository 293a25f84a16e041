"""Unit tests for round-3 operators: SCD2 changelog build, batched kNN
join, DSIR importance selection."""

from __future__ import annotations

import pytest
from pyspark.sql import Window, functions as F

from smart_energy_consumption_analytics_using_big_data_spark.ext.selection import dsir_select
from smart_energy_consumption_analytics_using_big_data_spark.ext.similarity import knn_join
from smart_energy_consumption_analytics_using_big_data_spark.operators.relational import (
    scd2_from_changelog,
)

SF = "/root/testdata/sf0.001"


def test_scd2_collapses_runs_and_marks_current(spark):
    rows = [
        # user 1: A A B A  -> versions A, B, A
        (1, "2024-01-01 00:00:00", "A", 1),
        (1, "2024-01-02 00:00:00", "A", 2),
        (1, "2024-01-03 00:00:00", "B", 3),
        (1, "2024-01-04 00:00:00", "A", 4),
        # user 2: single row, NULL attribute (first version must survive)
        (2, "2024-01-01 00:00:00", None, 5),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, attr string, eid int")
    df = df.withColumn("ts", F.to_timestamp("ts"))
    hist = scd2_from_changelog(df, ["user_id"], "attr", "ts", ["eid"]).collect()
    u1 = sorted([r for r in hist if r["user_id"] == 1], key=lambda r: r["valid_from"])
    assert [r["attr"] for r in u1] == ["A", "B", "A"]
    assert [r["is_current"] for r in u1] == [False, False, True]
    # each closed version's valid_to == next version's valid_from
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    u2 = [r for r in hist if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["attr"] is None and u2[0]["is_current"]


def test_knn_join_matches_bruteforce_window(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.functions.vectorfns import cosine
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 4)
    corpus = emb.filter(F.col("vec_id") >= 4)
    got = knn_join(corpus, queries, k=3, n_salt=4).collect()

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    want = (
        c.crossJoin(q)
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in got) == sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in want
    )


def test_knn_join_salt_invariance(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

    emb = load_table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 2)
    corpus = emb.filter(F.col("vec_id") >= 2)
    a = sorted(map(tuple, knn_join(corpus, queries, k=5, n_salt=1).collect()))
    b = sorted(map(tuple, knn_join(corpus, queries, k=5, n_salt=16).collect()))
    assert a == b


def test_dsir_prefers_target_like_docs(spark):
    """Synthetic corpus with a REAL distribution shift (the testdata's
    `lang` label is random metadata over one shared vocabulary, so it
    carries no signal): target docs use code-word vocabulary, raw docs
    use prose words, and held-out "distractor" docs mix in code words.
    DSIR must rank the code-heavy distractors above the prose ones."""
    target_vocab = "tensor gradient optimizer embedding layer"
    prose_vocab = "river meadow sunset harvest lantern"
    rows = []
    for i in range(20):  # target slice
        rows.append((i, target_vocab + f" tok{i % 3}", True))
    for i in range(20, 40):  # raw prose
        rows.append((i, prose_vocab + f" tok{i % 3}", False))
    # raw distractors: 5 code-like, 5 prose-like (these compete for top-5)
    for i in range(40, 45):
        rows.append((i, "tensor layer embedding gradient optimizer", False))
    for i in range(45, 50):
        rows.append((i, "river sunset meadow lantern harvest", False))
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    picked = dsir_select(docs, F.col("is_t"), k=25, n_buckets=256)
    got = [r["doc_id"] for r in picked.collect()]
    # every code-like doc (targets + code distractors) outranks all prose
    assert set(got) == set(range(20)) | set(range(40, 45))
    ws = [r["dsir_weight"] for r in picked.collect()]
    assert ws == sorted(ws, reverse=True)


def test_dsir_deterministic_on_testdata(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    a = [tuple(r) for r in dsir_select(docs, F.col("lang") == "en", k=20).collect()]
    b = [tuple(r) for r in dsir_select(docs, F.col("lang") == "en", k=20).collect()]
    assert a == b and len(a) == 20


def test_winnow_fast_hash_finds_exact_duplicates(spark):
    """Any hash family must surface exact duplicate substrings: two
    docs sharing their full text collide on every fingerprint under
    md5 AND xxhash64; disjoint-text docs pair under neither."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.dedup import winnow_pairs

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    other = "completely different content with no shared substring runs " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    for hash_fn in ("md5", "xxhash64"):
        got = winnow_pairs(docs, hash_fn=hash_fn).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in got] == [(1, 2)], hash_fn


def test_winnow_fast_deterministic_on_testdata(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.ext.dedup import winnow_pairs
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    a = sorted(map(tuple, winnow_pairs(docs, hash_fn="xxhash64").collect()))
    b = sorted(map(tuple, winnow_pairs(docs, hash_fn="xxhash64").collect()))
    assert a == b


def test_sentence_split_udtf(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.functions.pandasfns import (
        sentence_split_udtf,
    )

    SentenceSplit = sentence_split_udtf()
    spark.udtf.register("sentence_split", SentenceSplit)
    rows = spark.sql(
        "SELECT * FROM sentence_split('One two. Three? Four five six')"
    ).collect()
    got = [(r["sentence_idx"], r["sentence"], r["n_tokens"]) for r in rows]
    assert got == [(0, "One two.", 2), (1, "Three?", 1), (2, "Four five six", 3)]
    # lateral join over a table: one row in -> many rows out
    docs = spark.createDataFrame([(1, "A b. C d."), (2, None)], "doc_id long, text string")
    docs.createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        "SELECT doc_id, s.sentence_idx, s.sentence FROM udtf_docs, "
        "LATERAL sentence_split(text) s"
    ).collect()
    assert len(out) == 2 and all(r["doc_id"] == 1 for r in out)


def test_asof_forward_and_tolerance(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 12:00:00"), (2, "2024-01-01 10:00:00")],
        "k int, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:30:00", "a"), (1, "2024-01-01 23:00:00", "b")],
        "k int, ts string, v string",
    ).withColumn("ts", F.to_timestamp("ts"))

    fwd = {
        (r["k"], str(r["ts"])): r["v"]
        for r in asof_join(left, right, "k", direction="forward").collect()
    }
    # 10:00 -> next right at 10:30; 12:00 -> 23:00; key 2 -> no match
    assert fwd[(1, "2024-01-01 10:00:00")] == "a"
    assert fwd[(1, "2024-01-01 12:00:00")] == "b"
    assert fwd[(2, "2024-01-01 10:00:00")] is None

    tol = {
        (r["k"], str(r["ts"])): r["v"]
        for r in asof_join(
            left, right, "k", direction="forward", tolerance_s=3600
        ).collect()
    }
    # 12:00 -> 23:00 is 11h away: outside the 1h tolerance
    assert tol[(1, "2024-01-01 10:00:00")] == "a"
    assert tol[(1, "2024-01-01 12:00:00")] is None

    back = {
        (r["k"], str(r["ts"])): r["v"]
        for r in asof_join(left, right, "k", direction="backward").collect()
    }
    assert back[(1, "2024-01-01 10:00:00")] is None
    assert back[(1, "2024-01-01 12:00:00")] == "a"


def test_winnow_skew_guard_output_identical_and_count_gated(spark):
    """r16 skew guard (VERDICT r15 item 2): count-gating fingerprints
    before collect_set must not change results on any hash path, must
    put the count aggregation + semi join BELOW the collect in the
    plan (so no over-max_df doc array is ever buffered), and must
    complete on a skew-ramped fixture where one fingerprint family is
    shared by 10^4 docs (the hot fps die at the count gate, never
    collected). On the arrow path the guard must not run the Arrow
    kernel more often than the unguarded shape: AQE reuses the
    fingerprint stage's exchange for the guard's second consumer, so
    both executed plans hold one MapInPandas (ext/dedup.winnow_pairs
    docstring; a repartition by fp measured slower and did not ship)."""
    from pyspark.sql import functions as F

    from smart_energy_consumption_analytics_using_big_data_spark.ext.dedup import winnow_pairs

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    near = base + " with one extra tail"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, "totally different content here " * 4)],
        "doc_id long, text string",
    )
    executed = {}
    for hash_fn in ("md5", "xxhash64", "arrow"):
        plain = winnow_pairs(docs, hash_fn=hash_fn)
        guarded = winnow_pairs(docs, hash_fn=hash_fn, skew_guard=True)
        a = sorted(map(tuple, plain.collect()))
        b = sorted(map(tuple, guarded.collect()))
        assert a == b and len(a) > 0, hash_fn
        executed[hash_fn] = plain, guarded

    def kernel_runs(df) -> int:
        final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        return final.count("MapInPandas")

    plain, guarded = executed["arrow"]
    assert kernel_runs(guarded) == kernel_runs(plain) == 1

    # plan property: the guarded shape joins the fps against the
    # count-gate BEFORE any collect_set buffers docs
    plan = (
        winnow_pairs(docs, hash_fn="xxhash64", skew_guard=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftSemi" in plan, plan

    # skew ramp: 10^4 docs sharing a 45-char boilerplate prefix -> hot
    # fingerprints with df=10^4, all dropped at the count gate (long
    # buffers), never collected into one array
    boiler = "the quick brown fox jumps over the lazy dog "
    skew = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit(boiler), F.col("id").cast("string")).alias("text"),
    )
    guarded = winnow_pairs(skew, hash_fn="xxhash64", skew_guard=True).count()
    plain = winnow_pairs(skew, hash_fn="xxhash64").count()
    assert guarded == plain
