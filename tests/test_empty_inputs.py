"""Empty-input robustness: every pipeline operator must return an
empty (correctly-typed) result on an empty corpus, not throw — at
100 TB, empty partitions, empty date slices, and freshly-created
tables are routine inputs."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import (
    dedup as DD,
    packing as PK,
    quality as Q,
    similarity as SIM,
)
from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.splits import stratified_sample


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame([], "doc_id bigint, text string")


@pytest.fixture(scope="module")
def some_docs(spark):
    return spark.createDataFrame(
        [(1, "one small doc here")], "doc_id bigint, text string"
    )


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], "vec_id bigint, embedding array<double>")


def test_dedup_ops_on_empty(spark, empty_docs, some_docs):
    assert DD.exact_dedup(empty_docs).count() == 0
    assert DD.ngram_jaccard_pairs(empty_docs).count() == 0
    assert DD.minhash_signatures(empty_docs).count() == 0
    assert DD.simhash(empty_docs).count() == 0
    assert DD.contamination_pairs(empty_docs, some_docs).count() == 0
    assert DD.contamination_pairs(some_docs, empty_docs).count() == 0
    assert DD.decontaminate(some_docs, empty_docs).count() == 1


def test_text_pipeline_ops_on_empty(spark, empty_docs):
    assert Q.repetition_stats(empty_docs).count() == 0
    assert Q.unigram_logprob(empty_docs).count() == 0
    assert PK.pack_sequences(empty_docs).count() == 0
    assert PK.chunk_documents(empty_docs).count() == 0
    assert stratified_sample(
        empty_docs.withColumn("lang", F.lit("en")), "lang", {"en": 1.0},
        key_cols=["doc_id"],
    ).count() == 0


def test_similarity_ops_on_empty(spark, empty_emb):
    q = empty_emb
    assert SIM.cosine_topk(empty_emb, q).count() == 0
    assert SIM.cosine_lsh_topk(empty_emb, q, n_tables=2).count() == 0
    assert DD.embedding_near_dups(empty_emb).count() == 0
    assert SIM.ivf_topk(empty_emb, empty_emb).count() == 0


def test_topk_by_cosine_on_empty(spark):
    """An empty user, item or train frame yields the (user_id, item_id,
    rank) frame with the input id types — empty unless only train is."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.recommend import (
        topk_by_cosine,
    )

    for id_type, uid, iid in (("bigint", 1, 2), ("string", "u", "i")):
        def frame(rows, id_col):
            return spark.createDataFrame(rows, f"{id_col} {id_type}, vec array<double>")

        uv, iv = frame([(uid, [1.0, 0.0])], "user_id"), frame([(iid, [0.5, 0.5])], "item_id")
        train = spark.createDataFrame([(uid, iid)], f"user_id {id_type}, item_id {id_type}")
        empty_train = spark.createDataFrame([], f"user_id {id_type}, item_id {id_type}")
        want = [("user_id", id_type), ("item_id", id_type), ("rank", "int")]
        for users, items, tr, n in (
            (frame([], "user_id"), iv, train, 0),
            (uv, frame([], "item_id"), train, 0),
            (frame([], "user_id"), frame([], "item_id"), empty_train, 0),
            (uv, iv, empty_train, 1),
            (uv, iv, train, 0),  # the only item is rated
        ):
            recs = topk_by_cosine(users, items, k=5, train=tr)
            assert recs.dtypes == want
            assert recs.count() == n


def test_range_join_ops_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.rangejoin import (
        interval_overlap_join,
        point_in_interval_join,
    )

    empty_iv = spark.createDataFrame([], "id1 long, lo1 long, hi1 long")
    iv = spark.createDataFrame([(2, 0, 10)], "id2 long, lo2 long, hi2 long")
    assert interval_overlap_join(empty_iv, "lo1", "hi1", iv, "lo2", "hi2", 5).count() == 0
    pts = spark.createDataFrame([], "pid long, v long")
    assert point_in_interval_join(pts, "v", iv, "lo2", "hi2", 5).count() == 0
    # empty INTERVAL side: inner drops the point, left keeps it
    some_pts = spark.createDataFrame([(1, 3)], "pid long, v long")
    empty_iv2 = spark.createDataFrame([], "iid long, lo long, hi long")
    assert point_in_interval_join(some_pts, "v", empty_iv2, "lo", "hi", 5).count() == 0
    assert (
        point_in_interval_join(some_pts, "v", empty_iv2, "lo", "hi", 5, how="left").count()
        == 1
    )


def test_cluster_keepers_on_empty(spark):
    empty_cl = spark.createDataFrame([], "id bigint, cluster_id bigint")
    empty_sc = spark.createDataFrame([], "id bigint, score double")
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.dedup import cluster_keepers

    assert cluster_keepers(empty_cl, empty_sc).count() == 0


def test_containment_on_empty(empty_docs):
    assert DD.containment_pairs(empty_docs).count() == 0


def test_label_propagation_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import graph as G

    edges = spark.createDataFrame([], "src string, dst string")
    out = G.label_propagation(edges, 2)
    assert out.columns == ["node", "community"]
    assert out.count() == 0


def test_mmr_rerank_fewer_candidates_than_k(spark):
    # 2 candidates, k=5 -> returns exactly the 2, ranks 1..2
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    sel = SIM.mmr_rerank(emb, query_id=0, k=5, top_n=10)
    assert [rk for rk, _, _ in sel] == [1, 2]


def test_zorder_writer_on_empty(spark, tmp_path):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.sources import layout as LY

    df = spark.createDataFrame([], "x long, y long")
    out = str(tmp_path / "z_empty")
    LY.write_zordered(df, out, ["x", "y"], n_files=2)
    assert spark.read.parquet(out).count() == 0


def test_dense_ids_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.ids import dense_ids

    df = spark.createDataFrame([], "k string")
    assert dense_ids(df, ["k"], "i").count() == 0


def test_bpe_topv_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import bpe as BPE

    docs = spark.createDataFrame([], "doc_id string, text string")
    assert BPE.learn_bpe_merges_topv(docs, n_merges=3).count() == 0


def test_link_entities_wratio_no_candidates(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.integration import link_entities

    items = spark.createDataFrame([("1", "anything")], "item_id string, name string")
    labels = spark.createDataFrame([], "label string, uri string")
    got = link_entities(items, labels, scorer="wratio").collect()
    assert len(got) == 1 and got[0].URI is None


def test_wratio_empty_strings():
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.functions.fuzzy import extract_one, wratio

    assert wratio("", "anything") == 0
    assert wratio(None, None) == 0
    assert extract_one("q", []) is None


def test_semdedup_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import dedup as DD

    emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    assert DD.semdedup(emb, n_cells=4, threshold=0.5).count() == 0


def test_rolling_origin_folds_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.splits import rolling_origin_folds

    df = spark.createDataFrame(
        [], "user_id bigint, item_id bigint, rating double, ts double"
    )
    rows = rolling_origin_folds(df, k=3).collect()
    # every fold row exists but is empty-sided: nothing to train or test
    assert all(r.n_train == 0 and r.n_test == 0 for r in rows)


def test_seasonal_mad_anomalies_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.drift import seasonal_mad_anomalies

    df = spark.createDataFrame([], "g string, day bigint, slot bigint, n bigint")
    assert seasonal_mad_anomalies(df, "g", "day", "slot", "n").count() == 0


def test_recall_curve_on_empty_queries(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import similarity as SIM

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id bigint, embedding array<double>",
    )
    out = SIM.recall_curve(
        emb, emb.filter("vec_id < 0"), k=3, n_cells=2, probes=(1, 2)
    ).collect()
    # depth rows survive with zero counts (n_exact 0 -> recall null)
    assert {r.n_probe for r in out} == {1, 2}
    assert all(r.n_hit == 0 and r.n_exact == 0 for r in out)


def test_kcore_fixpoint_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import graph as G

    df = spark.createDataFrame([], "user_id bigint, item_id bigint")
    core, rounds, conv = G.kcore_fixpoint(df, k_item=2, k_user=2)
    assert conv and core.count() == 0


def test_winnowing_on_empty_and_all_short(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import dedup as DD

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert DD.winnow_fingerprints(empty, k=8, w=4).count() == 0
    assert DD.winnow_pairs(empty, k=8, w=4).count() == 0
    short = spark.createDataFrame([(1, "ab"), (2, "cd")], "doc_id long, text string")
    assert DD.winnow_fingerprints(short, k=8, w=4).count() == 0


def test_triangle_counts_on_empty_and_triangle_free(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.graph import triangle_counts

    empty = spark.createDataFrame([], "src long, dst long")
    assert triangle_counts(empty).count() == 0
    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    assert triangle_counts(path).count() == 0


def test_purged_embargo_tiny_n(spark):
    """n < k: trailing folds have empty test blocks and (documented)
    drop out of the report; the folds that do exist partition n."""
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.splits import purged_embargo_folds

    df = spark.createDataFrame(
        [(1, 1, 1.0, 1.0), (2, 2, 2.0, 2.0), (3, 3, 3.0, 3.0)],
        "user_id long, item_id long, rating double, ts double",
    )
    rows = {r.fold: r for r in purged_embargo_folds(df, k=4, embargo_frac=0.0).collect()}
    assert set(rows) == {0, 1, 2}
    for f, r in rows.items():
        assert r.n_test == 1 and r.n_train + r.n_test + r.n_purged == 3


def test_column_profiles_on_empty(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.drift import column_profiles

    df = spark.createDataFrame([], "id long, x double, s string")
    prof = {r.column: r for r in column_profiles(df).collect()}
    assert set(prof) == {"id", "x", "s"}
    assert all(r.n_rows == 0 and r.n_null == 0 and r.mean is None for r in prof.values())


def test_asof_nearest_on_empty_right(spark):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "a", 5)], "id int, k string, t long")
    right = spark.createDataFrame([], "k string, t long, v double")
    got = asof_join(
        left, right, on="t", by=["k"], value_cols=["v"], direction="nearest"
    ).collect()
    assert len(got) == 1 and got[0].t_right is None and got[0].v_right is None
