"""Span instrumentation of the library's layer boundaries, installed
from the benchmark for the traced run only and removed after it.

Each wrapper replaces a module attribute (or class method) that the
library looks up at call time, opens a span named
``<module>.<function>`` around the call and — because Spark is lazy —
forces the call's DataFrame output (persist + count) inside the span,
so the work lands in the layer that planned it. Forcing only moves
when a persisted frame is computed; every output stays the same,
which the traced run checks against the untraced one.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import operator

from pyspark.sql import DataFrame

PKG = "knowledge_graph_aware_recommender_systems_with_dbpedia_spark"


def _force(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


class _Patches:
    """Swap attributes or mapping entries in, restore them on exit."""

    def __init__(self):
        self._saved: list = []

    def wrap(self, owner, attr: str, make) -> None:
        """``owner.attr = make(old)``; for a class, ``old`` is the
        function defined on it."""
        old = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._saved.append((setattr, owner, attr, old))
        setattr(owner, attr, make(old))

    def span(self, tracer, owner, attr: str, name: str, force=None) -> None:
        """Open span ``name`` around every call of ``owner.attr``."""
        self.wrap(owner, attr, lambda old: _spanned(tracer, name, old, force))

    def wrap_item(self, mapping: dict, key: str, make) -> None:
        old = mapping[key]
        self._saved.append((operator.setitem, mapping, key, old))
        mapping[key] = make(old)

    def restore(self) -> None:
        for put, owner, key, old in reversed(self._saved):
            put(owner, key, old)
        self._saved.clear()


def _spanned(tracer, name: str, fn, force=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
            if force is not None:
                out = force(out)
        return out

    return wrapper


def _count(tracer, df: DataFrame) -> int:
    """A row count the trace needs for a ratio; its own span keeps its
    cost out of the layer spans' self time."""
    with tracer.span("perfbench.count"):
        return df.count()


@contextlib.contextmanager
def capture_metric_inputs(enabled: bool):
    """Record the (train) frame of every model train call and the
    (test, recs) frames of every metric call made by
    ``run_experiment``, in call order, for the output checks. Nothing
    is computed inside the timed call: the recs frame is only marked
    for caching, so the metric's own action stores its few rows (k per
    user) and the checks read them back instead of scoring again. The
    experiment evaluates one metric, so the cache saves the timed call
    no work."""
    captured: dict = {"train": [], "metric": []}
    if not enabled:
        yield captured
        return
    from importlib import import_module

    REG = import_module(f"{PKG}.plans.registries")
    patches = _Patches()

    def metric(fn):
        @functools.wraps(fn)
        def wrapper(test, recs, k, **kw):
            recs = recs.persist()
            captured["metric"].append((test, recs))
            return fn(test, recs, k, **kw)
        return wrapper

    def model(factory):
        @functools.wraps(factory)
        def make(parameters, seed):
            m = factory(parameters, seed)
            train = m.train

            @functools.wraps(train)
            def recorded(train_df, *args, **kwargs):
                captured["train"].append(train_df)
                return train(train_df, *args, **kwargs)

            m.train = recorded
            return m
        return make

    for name in ("MAP", "nDCG"):
        patches.wrap_item(REG.METRICS, name, metric)
    for name in list(REG.MODELS):
        patches.wrap_item(REG.MODELS, name, model)
    try:
        yield captured
    finally:
        patches.restore()


@contextlib.contextmanager
def instrument_recommenders(tracer, fill: dict):
    """Spans for every layer ``run_experiment`` crosses. ``fill``
    accumulates recs emitted and users x k for the fill ratio."""
    from importlib import import_module

    EXP = import_module(f"{PKG}.plans.experiment")
    REG = import_module(f"{PKG}.plans.registries")
    SP = import_module(f"{PKG}.operators.splits")
    RE = import_module(f"{PKG}.operators.recommend")
    IK = import_module(f"{PKG}.operators.itemknn")
    N2V = import_module(f"{PKG}.operators.node2vec")
    KGE = import_module(f"{PKG}.operators.kge")
    p = _Patches()

    def span(owner, attr, name, force=None):
        p.span(tracer, owner, attr, name, force)

    span(EXP, "read_typed_csv", "sources.typed_csv.read_typed_csv", _force)

    def force_graph(g):
        return dataclasses.replace(g, edges=_force(g.edges))

    span(EXP, "build_graph", "operators.graph.build_graph", force_graph)

    def traced_kcore(kcore):
        @functools.wraps(kcore)
        def wrapper(ratings, *args, **kwargs):
            with tracer.span("operators.graph.filter_kcore") as sp:
                out = _force(kcore(ratings, *args, **kwargs))
                sp.counts["kept"] = _count(tracer, out)
                sp.counts["in"] = _count(tracer, ratings)
            return out
        return wrapper

    p.wrap(REG, "filter_kcore", traced_kcore)
    span(SP, "split_ratings", "operators.splits.split_ratings", _force)
    span(SP, "train_test", "operators.splits.train_test")

    for cls, module in ((RE.PopularityRecommender, "operators.recommend"),
                        (IK.ItemKNNRecommender, "operators.itemknn"),
                        (IK.KGSimRecommender, "operators.itemknn"),
                        (N2V.Node2VecRecommender, "operators.node2vec"),
                        (KGE.KGERecommender, "operators.kge")):
        base = f"{module}.{cls.__name__}"
        p.wrap(cls, "train", lambda old, n=f"{base}.train": _traced_train(tracer, n, old))
        p.wrap(cls, "get_recommendations", lambda old, n=f"{base}.get_recommendations":
               _traced_recs(tracer, n, old, fill))

    span(N2V, "random_walks", "operators.walks.random_walks", _force)
    span(N2V, "topk_by_cosine", "operators.recommend.topk_by_cosine", _force)
    span(KGE, "topk_by_cosine", "operators.recommend.topk_by_cosine", _force)
    span(KGE, "collect_indexed_triples", "operators.kge.collect_indexed_triples")
    span(KGE, "train_kge", "operators.kge.train_kge")
    for key, fn_name in (("MAP", "map_at_k"), ("nDCG", "ndcg_at_k")):
        p.wrap_item(REG.METRICS, key, lambda old, n=f"operators.metrics.{fn_name}":
                    _spanned(tracer, n, old, _force))
    try:
        yield
    finally:
        p.restore()


def _traced_train(tracer, name, train):
    @functools.wraps(train)
    def wrapper(self, *args, **kwargs):
        with tracer.span(name):
            out = train(self, *args, **kwargs)
            # the trained state each model persists, computed here
            for attr in ("_neighbors", "_vectors", "_emb", "_train"):
                df = getattr(self, attr, None)
                if isinstance(df, DataFrame) and df.is_cached:
                    df.count()
        return out

    return wrapper


def _traced_recs(tracer, name, get_recs, fill):
    @functools.wraps(get_recs)
    def wrapper(self, k=None):
        with tracer.span(name):
            recs = _force(get_recs(self, k))
        fill["recs"] += _count(tracer, recs)
        users = self._train.select("user_id").distinct()
        fill["slots"] += _count(tracer, users) * (k or self.k)
        return recs

    return wrapper


@contextlib.contextmanager
def instrument_curation(tracer):
    """Spans for the drain's layers: the corpus dedup index build, each
    trigger's ``curate_batch`` and its dedup / IVF-ingest calls, the
    state folds and the IVF compaction."""
    from importlib import import_module

    SC = import_module(f"{PKG}.streaming.curation")
    DD = import_module(f"{PKG}.operators.dedup")
    p = _Patches()

    def force_pair(pair):
        return tuple(_force(df) for df in pair)

    def span(owner, attr, name, force=None):
        p.span(tracer, owner, attr, name, force)

    span(SC, "build_corpus_dedup_index", "operators.dedup.build_corpus_dedup_index", force_pair)
    span(SC, "curate_batch", "streaming.curation.curate_batch")
    span(SC, "dedup_against_corpus", "operators.dedup.dedup_against_corpus", _force)
    span(DD, "maybe_compact_dedup_state", "operators.dedup.maybe_compact_dedup_state")
    span(DD, "compact_dedup_state", "operators.dedup.compact_dedup_state")
    span(SC, "append_delta_to_ivf_index", "operators.similarity.append_delta_to_ivf_index")
    span(SC, "ivf_staleness_report", "operators.similarity.ivf_staleness_report")
    span(SC, "compact_ivf_index", "operators.similarity.compact_ivf_index")
    try:
        yield
    finally:
        p.restore()
