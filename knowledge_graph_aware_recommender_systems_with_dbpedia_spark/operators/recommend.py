"""Recommenders: popularity baseline + embedding cosine top-k scoring.

Every scorer keeps the reference's over-fetch + anti-join + truncate
contract (``deep_walk_based/model.py:62-86``):

 1. over-fetch ``n = min(max_user_degree + k, n_items)`` candidates
    per user (guarantees >= k remain after excluding rated items);
 2. anti-join the user's already-rated items (J6);
 3. keep the first k by score (O4).

Scale: the popularity candidate set is tiny (top-n global items) and
broadcast. Exact cosine top-k is the O(U x I) small regime: the
embedding vectors are bounded and already live on the driver, so
:func:`topk_by_cosine` collects them and scores them in one numpy
kernel, bit-exact to the engine's fold order. The scale path is
sign-LSH bucketed candidates (:func:`topk_by_cosine_lsh`, see
similarity.py) or an IVF prefilter.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str | list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join (single or composite key): the hot keys
    of ``big`` are spread over ``n_salts`` shuffle partitions by a
    deterministic row salt; ``small`` is replicated once per salt value.

    AQE's skew-join split handles moderate skew automatically; this is
    the explicit tool for pathological keys (one user with 10^8
    interactions, one stop-phrase LSH bucket) or stages where AQE can't
    re-plan (e.g. stream-static joins). Deterministic: the salt is a
    hash of the row's other columns, not rand().
    """
    keys = [key] if isinstance(key, str) else list(key)
    salt = F.pmod(
        F.hash(*[F.col(c) for c in big.columns]), F.lit(n_salts)
    ).alias("_salt")
    b = big.select("*", salt)
    s = small.join(
        F.broadcast(
            small.sparkSession.range(n_salts).select(F.col("id").cast("int").alias("_salt"))
        ),
        F.lit(True),
    )
    return b.join(s, keys + ["_salt"], how).drop("_salt")


def bucket_skew_ratio(df: DataFrame, keys: list[str]) -> float:
    """max bucket size / mean bucket size — the pre-flight skew probe
    behind ``salt="auto"`` in the LSH joins. One tiny aggregate job
    (shuffles one count per distinct key)."""
    stats = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("mx"), F.avg("c").alias("mean"))
        .collect()[0]
    )
    if not stats["mean"]:
        return 1.0
    return float(stats["mx"]) / float(stats["mean"])


class Recommender:
    """Plugin contract shared by every recommender (reference
    ``framework/recommender/recommender.py:22-28`` and the documented
    add-a-recommender surface ``docs/source/contributing/
    add_recommender.md:9-16``): ``train``, ``get_recommendations(k)``,
    ``get_user_recommendation(user, k)``, and the ``all_recs`` flag
    (True = rank EVERY unseen item per user, no top-k truncation —
    ``deep_walk_based/model.py:71-78``)."""

    k: int = 5
    all_recs: bool = False

    def name(self) -> str:
        """The reference contract's ``name`` (recommender.py:11-31):
        registry key when constructed via MODELS (set by
        registries.make_model), else the class name."""
        return getattr(self, "_registry_name", type(self).__name__)

    def train(self, *args, **kwargs):
        raise NotImplementedError("override train() in your recommender")

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        raise NotImplementedError("override get_recommendations()")

    def get_user_recommendation(self, user_id, k: int | None = None) -> DataFrame:
        """Recommendations for ONE user — by contract the per-user slice
        of :meth:`get_recommendations`. Expressed as a filter on the
        full plan: Catalyst pushes the user_id predicate below the
        ranking window (its partition key) and into the scoring join,
        so only that user's candidates are actually scored."""
        recs = self.get_recommendations(k)
        return recs.filter(F.col("user_id") == F.lit(user_id))


def max_user_degree(train: DataFrame, user_col="user_id") -> int:
    """A8: max #ratings of any user (over-fetch heuristic input)."""
    row = train.groupBy(user_col).count().agg(F.max("count").alias("m")).collect()[0]
    return int(row["m"] or 0)


def exclude_rated_and_truncate(
    scored: DataFrame,
    train: DataFrame,
    k: int,
    user_col: str = "user_id",
    item_col: str = "item_id",
    score_col: str = "score",
    all_recs: bool = False,
) -> DataFrame:
    """J6 + O4: drop train items, re-rank, keep top-k -> (user, item, rank).

    ``all_recs=True`` skips the truncation (every surviving candidate
    stays, ranked) — the reference's ``all_recs`` flag."""
    filtered = scored.join(
        train.select(user_col, item_col), [user_col, item_col], "left_anti"
    )
    w = Window.partitionBy(user_col).orderBy(F.desc(score_col), item_col)
    ranked = filtered.withColumn("rank", F.row_number().over(w))
    if not all_recs:
        ranked = ranked.filter(F.col("rank") <= k)
    return ranked.select(user_col, item_col, "rank")


class PopularityRecommender(Recommender):
    """Most-popular-unseen baseline (the zero-ML end-to-end slice of
    SURVEY §7 phase 2). Candidate set = global top-(max_degree + k)
    items by interaction count — broadcastable by construction.
    ``all_recs=True`` ranks every unseen item (the candidate array is
    then the whole item dim table — bounded, still broadcastable)."""

    def __init__(self, k: int = 5, all_recs: bool = False):
        self.k = k
        self.all_recs = all_recs
        self._train: DataFrame | None = None
        self._pop: DataFrame | None = None

    def train(self, train_ratings: DataFrame) -> "PopularityRecommender":
        # the train set is read 4x (popularity, max degree, user list,
        # anti-join) — persist it once instead of replaying the upstream
        # split lineage per read
        self._train = train_ratings.persist()
        self._pop = (
            train_ratings.groupBy("item_id")
            .agg(F.count(F.lit(1)).alias("pop"))
        )
        return self

    def get_recommendations(self, k: int | None = None) -> DataFrame:
        k = k or self.k
        assert self._train is not None and self._pop is not None
        n_fetch = max_user_degree(self._train) + k
        # over-fetch -> anti-join -> truncate, expressed as array ops:
        # the global candidate list (max_degree + k items, desc pop) is
        # ONE broadcast array row; per user the plan is
        # slice(array_except(candidates, rated), 1, k) — array_except
        # preserves the first array's order, so this is row-for-row the
        # crossJoin + window + left-anti plan without shuffling a
        # users x candidates table (at 100 TB: a map-side-only stage
        # after the per-user collect_set).
        pop_src = (
            self._pop
            if self.all_recs  # every item is a candidate
            else self._pop.orderBy(F.desc("pop"), "item_id").limit(n_fetch)
        )
        top_items = (
            pop_src
            # collect_list order is not guaranteed after limit —
            # re-sort inside the array to pin (pop desc, item asc)
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("pop")).alias("np"), F.col("item_id").alias("i")))
                    ),
                    lambda s: s["i"],
                ).alias("cand")
            )
        )
        rated = self._train.groupBy("user_id").agg(
            F.collect_set("item_id").alias("rated")
        )
        unseen = F.array_except("cand", "rated")
        picked = rated.join(F.broadcast(top_items)).select(
            "user_id",
            (unseen if self.all_recs else F.slice(unseen, 1, k)).alias("recs"),
        )
        return picked.select(
            "user_id", F.posexplode("recs").alias("_p", "item_id")
        ).select("user_id", "item_id", (F.col("_p") + 1).alias("rank"))


def topk_by_cosine_lsh(
    user_vecs: DataFrame,
    item_vecs: DataFrame,
    k: int,
    train: DataFrame,
    n_planes: int = 6,
    over_fetch: int | None = None,
    n_tables: int = 1,
) -> DataFrame:
    """The 100 TB scoring path: sign-LSH bucketed candidate generation
    instead of exact O(U x I) scoring (same over-fetch ->
    anti-join -> truncate contract as topk_by_cosine; approximate —
    recall is tuned by n_planes per table and OR-amplified by
    n_tables — see similarity.cosine_lsh_topk).

    User/item ids are prefix-tagged before the shared-id LSH join so a
    user and an item with the same raw id can never be confused.
    """
    from .similarity import cosine_lsh_topk

    n_fetch = (over_fetch or max_user_degree(train)) + k
    items = item_vecs.select(
        F.concat(F.lit("i:"), F.col("item_id").cast("string")).alias("vec_id"),
        F.col("vec").alias("embedding"),
    )
    users = user_vecs.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("vec_id"),
        F.col("vec").alias("embedding"),
    )
    cand = cosine_lsh_topk(items, users, k=n_fetch, n_planes=n_planes, n_tables=n_tables)
    scored = cand.select(
        F.expr("substring(query_id, 3)").alias("user_id"),
        F.expr("substring(neighbor_id, 3)").alias("item_id"),
        F.col("cosine").alias("score"),
    )
    return exclude_rated_and_truncate(scored, train, k)



# users scored per kernel block: bounds the (block x items) score matrix
_USER_BLOCK = 256


def _collect_vecs(df: DataFrame, id_col: str) -> tuple[pa.Array, np.ndarray]:
    """(ids, (n, dim) vectors) of ``df`` through Arrow; float vectors
    stay float32, as the engine squares them in their own type."""
    t = df.select(id_col, "vec").toArrow()
    vec = t.column("vec").combine_chunks()
    lengths = pc.list_value_length(vec).to_numpy(zero_copy_only=False)
    dim = int(lengths[0]) if len(vec) else 0
    values = vec.flatten()
    if vec.null_count or values.null_count or (lengths != dim).any():
        raise ValueError(f"{id_col} vectors must be non-null arrays of one length")
    dtype = np.float32 if values.type == pa.float32() else np.float64
    mat = values.to_numpy(zero_copy_only=False).astype(dtype, copy=False)
    return t.column(id_col).combine_chunks(), mat.reshape(len(vec), dim)


def _l2_normalised(v: np.ndarray) -> np.ndarray:
    """Rows over their norm ``sqrt(aggregate(vec, 0.0, (a, x) -> a + x * x))``
    — x * x in the element type, summed left to right from 0.0 in
    double — where the norm is > 0; Spark orders NaN above every
    number, so a NaN norm divides too."""
    sq = v * v
    norm = np.zeros(len(v))
    for d in range(v.shape[1]):
        norm += sq[:, d]
    norm = np.sqrt(norm)
    out = v.astype(np.float64)
    scale = (norm > 0) | np.isnan(norm)
    np.divide(out, norm[:, None], out=out, where=scale[:, None])
    return out


def _fold_dot(u: np.ndarray, items_t: np.ndarray) -> np.ndarray:
    """(users x items) dots against the (dim x items) matrix, each folded
    over the dimensions left to right from 0.0 — the IEEE order of
    ``aggregate(zip_with(u, i, *), 0.0, +)``, so scores are bit-identical
    to the engine's (BLAS and np.sum reorder the additions)."""
    s = np.zeros((len(u), items_t.shape[1]))
    term = np.empty_like(s)
    for d in range(len(items_t)):
        np.multiply(u[:, d, None], items_t[d], out=term)
        s += term
    return s


def _sorted_ids(ids: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(ids ascending in their own type — bigint numerically, string
    bytewise, as Spark orders them — and the sorting permutation)."""
    raw = ids.to_numpy(zero_copy_only=False)
    order = np.argsort(raw, kind="stable")
    return raw[order], order


def topk_by_cosine(
    user_vecs: DataFrame,
    item_vecs: DataFrame,
    k: int,
    train: DataFrame | None = None,
    all_recs: bool = False,
) -> DataFrame:
    """O3/M6: exact cosine top-k of items per user, then J6/O4.

    ``user_vecs``: (user_id, vec array<float/double>), ``item_vecs``:
    (item_id, vec), one vector length. Returns (user_id, item_id, rank
    int) in the input id types: per user the k best items the user did
    not rate in ``train`` (every one with ``all_recs``), by score desc
    (NaN first, as Spark orders it), then item_id asc.

    The vectors and the train pairs are collected through Arrow and
    scored on the driver by one blocked numpy kernel, as MLlib's
    ``Word2VecModel.findSynonyms`` scores its driver-held vectors.
    Every sum folds in the order of the engine's
    ``aggregate(zip_with(...))``, so scores and ties are bit-identical
    to the Spark expressions and to the DuckDB oracle (REC_FIXED_SQL);
    masking rated items before ranking yields the rows of the
    over-fetch -> anti-join -> truncate contract. O(U x I) on bounded
    vectors — the scale path is :func:`topk_by_cosine_lsh`.
    """
    u_field = user_vecs.schema["user_id"]
    i_field = item_vecs.schema["item_id"]
    u_arrow, uv = _collect_vecs(user_vecs, "user_id")
    i_arrow, iv = _collect_vecs(item_vecs, "item_id")
    n_users, n_items = len(uv), len(iv)
    if n_users and n_items and uv.shape[1] != iv.shape[1]:
        raise ValueError(f"vector lengths differ: users {uv.shape[1]}, items {iv.shape[1]}")
    # ids sorted for the lookups below; items in id order also let a
    # stable sort on score alone break score ties by item_id
    u_ids, u_order = _sorted_ids(u_arrow)
    i_ids, i_order = _sorted_ids(i_arrow)
    uv = _l2_normalised(uv[u_order])
    items_t = np.ascontiguousarray(_l2_normalised(iv[i_order]).T)

    # rated (user, item) cells as sorted flat indices user * n_items + item;
    # pairs of users or items without a vector drop out on the driver
    rated = np.zeros(0, np.int64)
    if train is not None and n_users and n_items:
        pairs = train.select(
            F.col("user_id").cast(u_field.dataType),
            F.col("item_id").cast(i_field.dataType),
        ).dropna().toArrow()
        pu, pi = (pairs.column(c).to_numpy() for c in ("user_id", "item_id"))
        ru = np.minimum(np.searchsorted(u_ids, pu), n_users - 1)
        ri = np.minimum(np.searchsorted(i_ids, pi), n_items - 1)
        known = (u_ids[ru] == pu) & (i_ids[ri] == pi)
        rated = np.unique(ru[known].astype(np.int64) * n_items + ri[known])

    width = n_items if all_recs else max(0, min(k, n_items))
    picked = [np.zeros((3, 0), np.int64)]  # (user, item, rank) per block
    for b0 in range(0, n_users, _USER_BLOCK):
        b1 = min(b0 + _USER_BLOCK, n_users)
        key = np.negative(_fold_dot(uv[b0:b1], items_t))
        # scores of normalised vectors are finite or NaN, so -inf puts
        # NaN first and +inf puts rated items after every candidate
        key[np.isnan(key)] = -np.inf
        lo, hi = np.searchsorted(rated, [b0 * n_items, b1 * n_items])
        cells = rated[lo:hi] - b0 * n_items
        key.flat[cells] = np.inf
        order = np.argsort(key, axis=1, kind="stable")[:, :width]
        unrated = n_items - np.bincount(cells // n_items, minlength=b1 - b0)
        r, c = np.nonzero(np.arange(width) < np.minimum(width, unrated)[:, None])
        picked.append(np.stack([u_order[b0 + r], i_order[order[r, c]], c + 1]))
    u_idx, i_idx, rank = np.concatenate(picked, axis=1)
    recs = pa.table(
        {
            "user_id": u_arrow.take(u_idx),
            "item_id": i_arrow.take(i_idx),
            "rank": pa.array(rank, pa.int32()),
        }
    )
    schema = StructType([u_field, i_field, StructField("rank", IntegerType(), False)])
    return user_vecs.sparkSession.createDataFrame(recs, schema)
