"""Round-6 optimization guards: internals changed for performance
must keep their published behavior (and the fixed write-task balance
stays fixed)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F


def test_shard_write_tasks_balanced(spark, tmp_path):
    """repartitionByRange on shard: one write task carries at most a
    contiguous run of ~1 shard (range boundary sharing allows 2) —
    the hash-repartition it replaced left ~37 % of tasks empty and
    packed 2-4 shards onto stragglers (VERDICT r5 #3)."""
    from log_ship_elastic_postfix_spark.operators.shards import _with_order

    df = spark.createDataFrame(
        [(i, f"doc text {i}") for i in range(2000)], ["doc_id", "text"])
    n_shards = 16
    docs = _with_order(df, id_col="doc_id", seed="42", n_shards=n_shards)
    parts = (docs.repartitionByRange(n_shards, "shard")
             .withColumn("_p", F.spark_partition_id())
             .groupBy("_p")
             .agg(F.countDistinct("shard").alias("n_shards_in_task"))
             .collect())
    assert max(r["n_shards_in_task"] for r in parts) <= 2
    # every shard is written by some task, none lost
    total = (docs.select("shard").distinct().count())
    assert total == n_shards


def test_minhash_band_buckets_collide_iff_band_equal(spark):
    """The fused signature+banding kernel: equal minhash band slices
    MUST collide (recall contract); distinct docs get ≥1 distinct
    bucket. Checked against independently computed signatures."""
    import numpy as np
    from log_ship_elastic_postfix_spark.operators import dedup

    texts = ["the quick brown fox jumps over the lazy dog " * 3,
             "the quick brown fox jumps over the lazy dog " * 3,
             "a completely different document with other words entirely"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    rows = (df.select("doc_id", dedup.minhash_band_buckets(
        F.col("text"), 32, 3, 8).alias("bb")).orderBy("doc_id").collect())
    b0, b1, b2 = (np.array(r["bb"]) for r in rows)
    assert (b0 == b1).all(), "identical docs must share every band bucket"
    assert (b0 != b2).any(), "different docs must differ in some band"


def test_minhash_band_buckets_rejects_bands_not_dividing_k(spark):
    """k=30 does not split into 8 equal bands: the call itself raises a
    ValueError naming both values, before any task runs (the kernel's
    reshape(bands, k // bands) would crash per batch)."""
    import pytest
    from log_ship_elastic_postfix_spark.operators import dedup

    with pytest.raises(ValueError, match=r"bands=8.*k=30"):
        dedup.minhash_band_buckets(F.col("text"), 30, 3, 8)


def test_gram_hashes_match_shingle_semantics(spark):
    """_gram_hashes64 emits one hash per DISTINCT word n-gram — the
    count must equal the JVM shingle expression's distinct-gram count
    for every doc (the quantity decontamination joins on). n=8 is the
    operator's own default and needs the coefficient extension beyond
    the published five (it crashed before _coef — caught by the
    8-gram dedup_bench run)."""
    from log_ship_elastic_postfix_spark.operators import dedup

    long_doc = " ".join(f"w{i % 11}" for i in range(30))
    df = spark.createDataFrame(
        [(1, "a b c a b c a b"), (2, "x  y\tz  x y"), (3, ""),
         (4, "one two"), (5, "ONE two THREE four one TWO three FOUR"),
         (6, long_doc)],
        ["doc_id", "text"])
    for n in (3, 8):
        got = (df.select(
            "doc_id",
            F.size(dedup._gram_hashes64(F.col("text"), n)).alias("n_hash"),
            F.size(dedup.shingles(F.col("text"), n)).alias("n_gram"))
            .orderBy("doc_id").collect())
        for r in got:
            assert r["n_hash"] == r["n_gram"], (n, r)


def test_shingle_strings_equal_jvm_shingles(spark):
    """_shingle_strings must produce the identical distinct-gram SET
    as the JVM shingles expression (the jaccard verify consumes set
    sizes)."""
    from log_ship_elastic_postfix_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "The  Quick brown fox  the quick brown"), (2, "a b"),
         (3, "x y z w v"), (4, "")], ["doc_id", "text"])
    rows = (df.select(
        "doc_id",
        dedup._shingle_strings(F.col("text"), 3).alias("py"),
        dedup.shingles(F.col("text"), 3).alias("jvm"))
        .orderBy("doc_id").collect())
    for r in rows:
        assert sorted(r["py"]) == sorted(r["jvm"]), r


def test_normalize_dates_memo_matches_impl():
    """The factorize/scatter memoization must be row-for-row identical
    to the direct implementation, including NaN (envelope-miss) rows
    and the repeated-timestamp fast path."""
    import datetime as dt

    from log_ship_elastic_postfix_spark.operators.parse import (
        _normalize_dates, _normalize_dates_impl)

    mon = pd.Series(["Jul", "Jul", None, "Dec", "Jul", "Jul"])
    day = pd.Series(["26", "26", None, "31", "26", "4"])
    hh = pd.Series(["04", "04", None, "23", "04", "09"])
    mi = pd.Series(["18", "18", None, "59", "18", "00"])
    ss = pd.Series(["34", "34", None, "59", "34", "01"])
    now = dt.datetime(2024, 8, 1)
    a = _normalize_dates(mon, day, hh, mi, ss, "America/Phoenix", now)
    b = _normalize_dates_impl(mon, day, hh, mi, ss, "America/Phoenix", now)
    assert list(a.fillna("~")) == list(b.fillna("~"))


def test_null_vector_rows_score_zero_not_crash(spark):
    """A NULL embedding must reproduce the old expression semantics
    (score 0.0 branch) instead of crashing the batch kernel."""
    from log_ship_elastic_postfix_spark.operators import similarity

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, None), (3, [0.0, 1.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.embedding_near_duplicates(
        df, dim=4, threshold=0.9, n_tables=4, n_bits=2).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (0, 1) in pairs          # the identical pair survives
    assert all(2 not in p for p in pairs)  # null vector never matches

    sem = similarity.semantic_dedup(
        df, centroids=[(0, [1.0, 0.0, 0.0, 0.0])], threshold=0.9,
        n_blocks=2).collect()
    got = {r["vec_id"]: r["dropped"] for r in sem}
    assert got[1] is True and got[2] is False


def test_ivf_assign_all_null_partition(spark):
    """A partition holding only NULL embeddings reaches the IVF assign
    kernel as an all-NULL batch: the zero vectors it scores take the
    centroid width, not a guessed width of 1 that fails the matmul."""
    from log_ship_elastic_postfix_spark.operators import similarity

    schema = "vec_id long, embedding array<double>"
    good = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0, 0.0]) for i in range(6)]
        + [(10 + i, [0.0, 0.0, 1.0, 0.1 * i]) for i in range(6)],
        schema).coalesce(1)
    nulls = spark.createDataFrame(
        [(100 + i, None) for i in range(4)], schema).coalesce(1)
    df = good.union(nulls)
    out = similarity.ivf_topk(
        df, k=3, n_probe=2,
        centroids=[[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]]).collect()
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(6)) | set(range(10, 16)) | set(
        range(100, 104))
    for q in range(6):  # a real vector's top-3 stays in its own cluster
        assert {r["nbr_id"] for r in by_q[q]} <= set(range(6))
    for q in range(100, 104):  # a NULL query scores 0 against everything
        assert all(r["score"] == 0.0 for r in by_q[q])


def test_bullet_line_ratio_counts_newline_lines_only(spark):
    """The bullet count and the line count share one line model: only
    \n starts a line. \r, U+0085 and U+2028/9 do not, so a bullet
    marker after them is inside the line, as is a marker after text."""
    from log_ship_elastic_postfix_spark.functions import textstats

    df = spark.createDataFrame(
        [(0, "intro\r- x\u0085- x\u2028- x\u2029- x - x"),
         (1, "- a\nplain\n  * b\n\u2022 c")],
        "id long, text string")
    got = {r["id"]: r["r"] for r in df.select(
        "id", textstats.bullet_line_ratio(F.col("text")).alias("r"))
        .collect()}
    assert got[0] == 0.0
    assert got[1] == 0.75
