import math
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import recommend as RC


@pytest.fixture(scope="module")
def train(spark):
    # popularity: i1 (3 raters) > i2 (2) > i3 (1); u1 rated i1, i2
    rows = [
        ("u1", "i1"), ("u1", "i2"),
        ("u2", "i1"), ("u2", "i3"),
        ("u3", "i1"), ("u3", "i2"),
    ]
    return spark.createDataFrame(rows, "user_id string, item_id string").cache()


def test_popularity_excludes_rated(train):
    recs = RC.PopularityRecommender(k=2).train(train).get_recommendations(2)
    by_user = {}
    for r in recs.collect():
        by_user.setdefault(r.user_id, []).append((r.rank, r.item_id))
    # u1 rated i1, i2 -> only i3 remains
    assert [i for _, i in sorted(by_user["u1"])] == ["i3"]
    # u2 rated i1, i3 -> i2 is the top unrated
    assert [i for _, i in sorted(by_user["u2"])] == ["i2"]


def test_ranks_contiguous(train):
    recs = RC.PopularityRecommender(k=2).train(train).get_recommendations(2)
    for r in recs.groupBy("user_id").agg(F.min("rank").alias("mn")).collect():
        assert r.mn == 1


def test_topk_by_cosine_excludes_train(spark, train):
    uv = spark.createDataFrame(
        [("u1", [1.0, 0.0]), ("u2", [0.0, 1.0]), ("u3", [1.0, 1.0])],
        "user_id string, vec array<double>",
    )
    iv = spark.createDataFrame(
        [("i1", [1.0, 0.0]), ("i2", [0.0, 1.0]), ("i3", [0.7, 0.7])],
        "item_id string, vec array<double>",
    )
    recs = RC.topk_by_cosine(uv, iv, k=1, train=train)
    got = {r.user_id: r.item_id for r in recs.collect()}
    assert got["u1"] == "i3"  # i1 (best) excluded as rated
    assert got["u2"] == "i2"  # u2 rated i1 and i3 -> only i2 remains
    assert got["u3"] == "i3"


def test_max_user_degree(train):
    assert RC.max_user_degree(train) == 2


def test_get_user_recommendation_is_per_user_slice(train):
    """Reference recommender.py:22-28 contract: the single-user call
    returns exactly the per-user rows of get_recommendations."""
    rec = RC.PopularityRecommender(k=2).train(train)
    full = {
        (r.user_id, r.rank): r.item_id
        for r in rec.get_recommendations(2).collect()
    }
    one = rec.get_user_recommendation("u2", 2).collect()
    assert {(r.user_id, r.rank): r.item_id for r in one} == {
        kv: i for kv, i in full.items() if kv[0] == "u2"
    }


def test_all_recs_disables_truncation(train):
    """Reference deep_walk_based/model.py:71-78: all_recs=True ranks
    EVERY unseen item, ignoring k."""
    rec = RC.PopularityRecommender(k=1, all_recs=True).train(train)
    recs = rec.get_recommendations(1)
    by_user = {}
    for r in recs.collect():
        by_user.setdefault(r.user_id, []).append((r.rank, r.item_id))
    # every user rated 2 of 3 items -> exactly 1 unseen each, ranked,
    # and a k=1 run with all_recs must still return ALL unseen (here 1)
    assert all(len(v) == 1 for v in by_user.values())
    # u1's unseen item is i3 even though k=1 would already include it;
    # the stronger check: a user with 1 rating sees all 2 remaining
    more = train.union(train.sparkSession.createDataFrame(
        [("u4", "i1")], "user_id string, item_id string"))
    rec2 = RC.PopularityRecommender(k=1, all_recs=True).train(more)
    u4 = rec2.get_user_recommendation("u4").collect()
    assert sorted((r.rank, r.item_id) for r in u4) == [(1, "i2"), (2, "i3")]


def test_all_recs_cosine_path(spark, train):
    uv = spark.createDataFrame(
        [("u1", [1.0, 0.0])], "user_id string, vec array<double>"
    )
    iv = spark.createDataFrame(
        [("i1", [1.0, 0.0]), ("i2", [0.0, 1.0]), ("i3", [0.7, 0.7])],
        "item_id string, vec array<double>",
    )
    recs = RC.topk_by_cosine(uv, iv, k=1, train=train, all_recs=True)
    # u1 rated i1, i2 -> all_recs keeps every unseen item (just i3)
    # ranked, and k=1 is ignored for truncation purposes
    assert [(r.item_id, r.rank) for r in recs.collect()] == [("i3", 1)]


def test_all_recs_rejected_on_lsh_scoring():
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.kge import KGERecommender
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.node2vec import Node2VecRecommender

    with pytest.raises(ValueError, match="all_recs"):
        KGERecommender(scoring="lsh", all_recs=True)
    with pytest.raises(ValueError, match="all_recs"):
        Node2VecRecommender(scoring="lsh", all_recs=True)


def _reference_topk(users, items, k, train=None, all_recs=False, single=False):
    """The scoring contract in plain Python: L2-normalise rows whose norm
    is > 0 (NaN counts, as Spark orders it), fold every sum left to
    right from 0.0, rank by (score desc with NaN first, item asc),
    over-fetch max_user_degree + k, anti-join the rated pairs, re-rank
    and truncate to k. ``single``: the vectors are array<float>, whose
    squares the engine takes in float32."""

    def normed(v):
        n = 0.0
        for x in v:
            n = n + (float(np.float32(x) * np.float32(x)) if single else x * x)
        n = math.sqrt(n)
        return [x / n for x in v] if n > 0 or math.isnan(n) else list(v)

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s = s + x * y
        return s

    def ranked(scored):
        return sorted(scored, key=lambda t: (not math.isnan(t[0]), 0.0 if math.isnan(t[0]) else -t[0], t[1]))

    rated = set(train or [])
    n_fetch = max(Counter(u for u, _ in train or []).values(), default=0) + k
    items = [(i, normed(v)) for i, v in items]
    out = {}
    for u, v in users:
        cand = ranked([(dot(normed(v), iv), i) for i, iv in items])
        if train is not None and not all_recs:
            cand = cand[:n_fetch]
        cand = [i for _, i in cand if (u, i) not in rated]
        out.update({(u, r + 1): i for r, i in enumerate(cand if all_recs else cand[:k])})
    return out


# item vectors: exact ties (9, 10, 100 share one vector; so do 3 and 30),
# a zero vector, a NaN vector, and ids whose numeric and string orders
# differ (9 < 10 < 100 as numbers, "10" < "100" < "9" as strings)
_ITEMS = [
    (9, [1.0, 1.0, 0.0]), (10, [1.0, 1.0, 0.0]), (100, [1.0, 1.0, 0.0]),
    (11, [0.0, 0.0, 0.0]), (2, [1.0, 0.0, 0.0]), (3, [0.0, 1.0, 0.0]),
    (30, [0.0, 1.0, 0.0]), (4, [-1.0, 0.0, 0.5]), (5, [0.3, -0.2, 0.9]),
    (6, [float("nan"), 0.0, 1.0]), (7, [0.25, 0.5, -0.125]),
]
_USERS = [
    (1, [2.0, 2.0, 0.0]),   # nearest items 9/10/100 (+ NaN 6) all rated
    (2, [0.0, 0.0, 0.0]),   # zero vector: every score 0, order by id
    (3, [1.0, 0.1, 0.0]),   # rated all but two items: fewer than k unseen
    (4, [0.1, 1.0, 0.2]),
    (5, [-0.5, 0.3, 0.7]),
    (6, [1e-200, 0.0, 0.0]),  # squares underflow: norm 0, kept as is
    (7, [0.3, 0.3, 0.3]),
]
_TRAIN = [(1, 9), (1, 10), (1, 100), (1, 6), (4, 3), (4, 3), (5, 4), (8, 2)] + [
    (3, i) for i, _ in _ITEMS if i not in (2, 5)
]


@pytest.mark.parametrize(
    "id_type,elem,block",
    [("bigint", "double", 256), ("string", "double", 3), ("string", "float", 256), ("bigint", "float", 2)],
)
def test_topk_by_cosine_matches_reference_contract(spark, monkeypatch, id_type, elem, block):
    """The numpy kernel returns the rows of the reference contract in
    plain Python: (score desc, NaN first, item asc) with ties in the id
    column's own type, rated items masked, fewer than k rows when fewer
    remain — across several user blocks when ``block`` is small."""
    monkeypatch.setattr(RC, "_USER_BLOCK", block)
    cast = str if id_type == "string" else int
    single = elem == "float"
    users = [(cast(u), [float(np.float32(x)) for x in v] if single else v) for u, v in _USERS]
    items = [(cast(i), [float(np.float32(x)) for x in v] if single else v) for i, v in _ITEMS]
    train_rows = [(cast(u), cast(i)) for u, i in _TRAIN]
    uv = spark.createDataFrame(users, f"user_id {id_type}, vec array<{elem}>")
    iv = spark.createDataFrame(items, f"item_id {id_type}, vec array<{elem}>")
    train = spark.createDataFrame(train_rows, f"user_id {id_type}, item_id {id_type}")
    for k, kw, ref_kw in (
        (3, {"train": train}, {"train": train_rows}),
        (1, {"train": train, "all_recs": True}, {"train": train_rows, "all_recs": True}),
        (4, {}, {}),
        (1, {"all_recs": True}, {"all_recs": True}),
    ):
        recs = RC.topk_by_cosine(uv, iv, k=k, **kw)
        assert recs.dtypes == [("user_id", id_type), ("item_id", id_type), ("rank", "int")]
        got = {(r.user_id, r.rank): r.item_id for r in recs.collect()}
        assert got == _reference_topk(users, items, k, single=single, **ref_kw), (k, kw)


def test_rec_fixed_emb_top5_matches_duckdb_oracle(spark, monkeypatch):
    """The registry's fixed-vector run of the embedding recommenders'
    scoring path agrees row for row with its DuckDB oracle (bit-exact
    scores, so the tie-breaks agree too) at sf0.001."""
    import os

    from scripts import check_correctness as CC
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.driver_queries import (
        REC_FIXED_SQL,
        rec_fixed_emb_top5,
    )

    sf = os.path.join(os.path.dirname(CC.SF_DIR), "sf0.001")
    monkeypatch.setattr(CC, "SF_DIR", sf)
    got = rec_fixed_emb_top5(spark, sf).toPandas()
    con = CC.duck_conn()
    want = con.sql(REC_FIXED_SQL).df()
    assert len(got) > 0
    assert CC.compare("rec_fixed_emb_top5", got, want) == []


def test_salted_join_equals_plain_join(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.recommend import salted_join

    # pathological skew: 90% of rows share one key
    big = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    got = salted_join(big, small, "k", n_salts=4).select("k", "payload", "v")
    want = big.join(small, "k").select("k", "payload", "v")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_aqe_splits_skewed_sort_merge_join(spark):
    """The session's AQE skew-join posture actually fires: a join with
    one pathological key gets its skewed partition split at runtime
    (skew=true in the finalized adaptive plan). Complements
    salted_join, which covers the cases AQE can't re-plan (e.g.
    pre-shuffle bucket joins)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(60000).select(
            F.when(F.col("id") < 55000, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        small = spark.range(50).select(F.col("id").alias("k"), F.lit("v").alias("val"))
        j = big.join(small, "k")
        assert len(j.collect()) == 60000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_recommender_name_contract():
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.recommend import (
        PopularityRecommender,
    )
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.registries import MODELS

    r = PopularityRecommender()
    assert r.name() == "PopularityRecommender"  # class-name fallback
    m = MODELS["popularity"]({}, 42)
    m._registry_name = "popularity"
    assert m.name() == "popularity"  # registry spelling wins
