"""The benchmark's workloads: what one iteration calls, what it
reports, and how its outputs are checked.

Recommender workloads call ``plans.experiment.run_experiment`` — the
paper pipeline: typed CSVs -> KG build -> k-core -> user split ->
train -> top-k -> MAP@5. The curation workload calls
``operators.similarity.build_ivf_index`` and one availableNow
``streaming.curation.run_curation_drain``.
"""

from __future__ import annotations

import contextlib
import csv
import os
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import inputs
import tracing
from harvest import TriggerLog

K = 5


@dataclass
class Outcome:
    """What one iteration produced, for checks and metrics."""

    values: dict = field(default_factory=dict)   # engine results to compare
    step_s: list[float] = field(default_factory=list)  # per (model, fold) or trigger
    counts: dict = field(default_factory=dict)
    handles: dict = field(default_factory=dict)  # lazy frames for the checks


def _rows_in(path: str) -> int:
    with open(path) as fh:
        return sum(1 for _ in fh) - 1


class KGPipeline:
    """One ``run_experiment`` call per iteration: the paper protocol on
    the LastFM-shape KG (social + enrichment, k-core 20 on users, an
    80/20 per-user hold-out, k = 5, relevance threshold 3) with one
    model per recommender layer: itemKNN (``operators.itemknn``),
    deepwalk_based (``operators.walks`` + ``operators.node2vec``) and
    transE (``operators.kge``), the last two scoring through
    ``operators.recommend.topk_by_cosine``. The embedding models run at
    the smallest size at which they still learn on this shape."""

    name = "kg_pipeline"
    generate = staticmethod(inputs.kg_pipeline)
    THRESHOLD = 3
    # popularity and kgSim are left out: their layers already run here
    # (operators.recommend, operators.itemknn), and with them the traced
    # run on a loaded 4-core host comes near its 180 s limit
    MODELS = [
        {"name": "itemKNN"},
        {"name": "deepwalk_based",
         "parameters": {"n_walks": 4, "walk_len": 8, "embedding_size": 32}},
        # 50 epochs: at 5 transE scores no better than a random top-k
        {"name": "transE", "parameters": {"embedding_dim": 32, "epochs": 50}},
    ]
    # transE's SGD follows the order in which ``collect_indexed_triples``
    # returns the triples, an order the physical plan (and so the
    # tracing) can change; it is held to its band, not to exact equality
    ORDER_DEPENDENT = ("transE",)
    # MAP only: the engine recomputes every model's recs once per
    # metric, and a second metric adds about 12 s to a cold iteration,
    # more than a run's budget allows
    METRICS = ["MAP"]
    GOLDENS = checks.GOLDENS.get("kg_pipeline", {})
    BANDS = checks.BANDS["kg_pipeline"]

    def prepare(self, spark, in_dir: str) -> None:
        self.in_dir = in_dir
        self.input_rows = _rows_in(os.path.join(in_dir, "rating.csv"))

    def config(self, out_dir: str) -> dict:
        def path(name):
            return os.path.join(self.in_dir, name)

        return {"experiment": {
            "dataset": {
                "item": {"path": path("item.csv")},
                "user": {"path": path("user.csv")},
                "ratings": {"path": path("rating.csv")},
                "social": {"path": path("social.csv")},
                "enrich": {"map_path": path("map.csv"), "enrich_path": path("enriched.csv"),
                           "properties": ["subject"]},
            },
            "preprocess": [{"method": "filter_kcore",
                            "parameters": {"k": 20, "iterations": 1, "target": "user"}}],
            "split": {"seed": 42,
                      "test": {"method": "random_by_ratio", "p": 0.2, "level": "user"}},
            "models": self.MODELS,
            "evaluation": {"k": K, "relevance_threshold": self.THRESHOLD,
                           "metrics": self.METRICS},
            "report": {"file": os.path.join(out_dir, "report.csv"),
                       "times_file": os.path.join(out_dir, "times.csv")},
        }}

    def run(self, spark, out_dir: str, capture: bool = False, tracer=None) -> Outcome:
        """The timed call: one ``run_experiment``; with ``tracer``, the
        same call with every layer boundary spanned."""
        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.plans.experiment import (
            run_experiment,
        )

        cfg = self.config(out_dir)
        fill = {"recs": 0, "slots": 0}
        with tracing.capture_metric_inputs(enabled=capture) as captured:
            if tracer is None:
                report = run_experiment(spark, cfg)
            else:
                with tracing.instrument_recommenders(tracer, fill):
                    with tracer.span("plans.experiment.run_experiment"):
                        report = run_experiment(spark, cfg)
        return Outcome(
            values=report,
            counts={"fill": fill, "report": report,
                    "times_file": cfg["experiment"]["report"]["times_file"],
                    "report_bytes": checks.tree_bytes(out_dir)},
            handles=captured,
        )

    def pinned(self, values: dict) -> dict:
        """Results every iteration must reproduce exactly."""
        return {m: v for m, v in values.items() if m not in self.ORDER_DEPENDENT}

    def check(self, spark, out: Outcome, seed: int, default_seed: int) -> list[str]:
        """Untimed: read the per-(model, fold) times, then run the
        output checks (numpy metrics and rec sanity only when frames
        were captured)."""
        with open(out.counts["times_file"]) as fh:
            for row in csv.DictReader(fh):
                out.step_s += [float(v) for k, v in row.items() if k.startswith("fold-") and v]
        failures = []
        if out.handles["train"]:
            failures += checks.recommender_outputs(
                out.handles, out.counts["report"], K, self.THRESHOLD, self.BANDS
            )
        return failures + checks.recommender_quality(
            out.values, self.GOLDENS if seed == default_seed else {}, self.BANDS
        )


class CurationDrain:
    """``build_ivf_index`` over the corpus embeddings, then one
    availableNow ``run_curation_drain`` over a feed of ``N_FILES``
    files, one per trigger, with intra-drain dedup, the in-drain state
    fold and the end-of-drain IVF compaction all firing."""

    name = "curation_drain"
    generate = staticmethod(inputs.curation)
    # two triggers, the fewest with which the in-drain state fold
    # fires: with a limit of 0 dirs it folds trigger 1's state before
    # trigger 2 (the registry's st18 folds two dirs before trigger 3)
    N_FILES = 2
    STATE_COMPACT_DIRS = 0
    DELTA_SHARE_DUE = 0.05   # any cell with >5 % delta rows compacts

    def prepare(self, spark, in_dir: str) -> None:
        import pyarrow.parquet as pq

        self.in_dir = in_dir
        docs = pq.read_table(os.path.join(in_dir, "documents.parquet"), columns=["doc_id", "text"])
        ids = docs["doc_id"].to_numpy()
        feed = docs.filter(ids % 5 == 0)
        self.input_rows = feed.num_rows
        self.feed_bytes = 0
        # id-contiguous slices with increasing mtimes: ids arrive in
        # order, one file per trigger
        cuts = np.linspace(0, feed.num_rows, self.N_FILES + 1).astype(int)
        base = time.time() - 10 * self.N_FILES
        self.feed_dir = os.path.join(in_dir, "feed")
        for j in range(self.N_FILES):
            part = os.path.join(self.feed_dir, f"p{j}", "part-0.parquet")
            os.makedirs(os.path.dirname(part), exist_ok=True)
            pq.write_table(feed.slice(cuts[j], cuts[j + 1] - cuts[j]), part)
            os.utime(part, (base + 10 * j, base + 10 * j))
            self.feed_bytes += os.path.getsize(part)
        self.oracle = checks.curation_oracle(in_dir)
        self.triggers = TriggerLog()
        spark.streams.addListener(self.triggers)

    def run(self, spark, out_dir: str, capture: bool = False, tracer=None) -> Outcome:
        """The timed calls: the IVF base build and the drain."""
        from pyspark.sql import functions as F

        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.operators import (
            similarity as SIM,
        )
        from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.streaming import (
            curation as SC,
        )

        def span(name):
            return tracer.span(name) if tracer else contextlib.nullcontext()

        docs = spark.read.parquet(os.path.join(self.in_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        emb = spark.read.parquet(os.path.join(self.in_dir, "embeddings.parquet"))
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        idx = os.path.join(out_dir, "ivf")
        self.triggers.progress.clear()
        instrument = tracing.instrument_curation(tracer) if tracer else contextlib.nullcontext()
        with instrument:
            with span("operators.similarity.build_ivf_index"):
                SIM.build_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), idx, n_cells=8)
            stream = (
                spark.readStream.schema("doc_id bigint, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(self.feed_dir, "p*", "*.parquet"))
            )
            with span("streaming.curation.run_curation_drain"):
                compacted = SC.run_curation_drain(
                    stream, corpus, idx, os.path.join(out_dir, "metrics"),
                    os.path.join(out_dir, "ck"), emb, quality_threshold=0.68,
                    compact_if_due=True, delta_share_due=self.DELTA_SHARE_DUE,
                    intra_drain_dedup=True, state_compact_dirs=self.STATE_COMPACT_DIRS,
                )
        return Outcome(counts={"compacted": bool(compacted), "idx": idx})

    def pinned(self, values: dict) -> dict:
        return values

    def check(self, spark, out: Outcome, seed: int, default_seed: int) -> list[str]:
        """Untimed: collect the indexed rows and per-trigger progress,
        then compare with the oracle."""
        from pyspark.sql import functions as F

        idx = out.counts["idx"]
        out.values["rows"] = {
            (int(r[0]), int(r[1]))
            for r in spark.read.parquet(os.path.join(idx, "corpus"))
            .filter(F.col("id") % 5 == 0)
            .select("id", "cell")
            .collect()
        }
        out.counts["delta_left"] = os.path.exists(os.path.join(idx, "corpus_delta"))
        self.triggers.wait_for(self.N_FILES)
        trig = [p for p in self.triggers.progress if p["input_rows"] > 0]
        out.counts["triggers"] = trig
        out.step_s = [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in trig]
        failures = checks.curation_outputs(out, self.oracle)
        if len(trig) != self.N_FILES:
            failures.append(f"expected {self.N_FILES} data triggers, saw {len(trig)}")
        return failures


WORKLOADS = {w.name: w for w in (KGPipeline(), CurationDrain())}
