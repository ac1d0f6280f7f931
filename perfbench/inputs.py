"""Seeded input generators, one per workload.

Every generator takes the workload seed and writes its tables under a
directory it is given; the same seed writes byte-identical files.
The recommender workload reuses the repository's LastFM clone
(``scripts/make_lastfm_clone.py``) by import, shrunk through its
module-level shape constants so one run fits the benchmark's budget,
and adds a seeded DBpedia-style ``map.csv`` plus a multi-valued
``enriched.csv``.
"""

from __future__ import annotations

import contextlib
import hashlib
import os

import numpy as np

# LastFM shape (the full clone is 1,892 users x 17,632 artists x 92,834
# listens + 12,717 friendships) at one eighth of its users, artists,
# listens and friendships. The clone's per-user cap of 50 artists is
# kept, so the item-item co-rating work per user barely moves between
# seeds.
LASTFM_SHAPE = dict(
    N_USERS=236, N_ARTISTS=2204, N_INTER=11604, N_SOCIAL=1590,
    N_CORE_ARTISTS=750, K_CORES=15, SOCIAL_POOL=64,
)
LASTFM_LINKED = 0.67   # share of artists with a DBpedia URI (the reference's rate)
# Curation tables: the sf0.1 documents/embeddings schema at half its
# size (sf0.1 has 5,000 docs and 2,000 vectors).
N_DOCS = 2500
N_VECS = 1000
EMB_DIM = 64
N_LABELS = 10
# A fixed vocabulary of 1,600 six-letter, three-syllable alpha words:
# large enough that unrelated docs rarely share a word trigram, so the
# dedup candidate sets are set by the planted duplicates, not by chance.
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
VOCAB = [
    _SYLLABLES[i % 70] + _SYLLABLES[(i // 70) % 70] + _SYLLABLES[(11 * i + 5) % 70]
    for i in range(1600)
]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


@contextlib.contextmanager
def _shape(module, **consts):
    """Temporarily override a clone generator's module-level shape
    constants; the originals are restored on exit."""
    saved = {k: getattr(module, k) for k in consts}
    for k, v in consts.items():
        setattr(module, k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            setattr(module, k, v)


def _write_csv(path: str, header: list[str], rows) -> None:
    with open(path, "w") as fh:
        fh.write(",".join(header) + "\n")
        for row in rows:
            fh.write(",".join(str(c) for c in row) + "\n")


def content_hash(folder: str) -> str:
    """sha256 over every file under ``folder`` (relative path + bytes),
    in sorted order — changes iff a generator's output changes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(folder):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, folder).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _enrichment(rng, item_ids, linked_share, subjects_of):
    """Seeded DBpedia-style mapping + enrichment for ``item_ids``:
    ``linked_share`` of the items get a URI and a multi-valued subject
    list (``subjects_of(item)`` gives the taste-aligned subjects)."""
    linked = [i for i in item_ids if rng.random() < linked_share]
    map_rows = [(i, f"http://dbpedia.org/resource/Entity_{i}") for i in linked]
    enr_rows = [(i, "::".join(subjects_of(i))) for i in linked]
    return map_rows, enr_rows


def kg_pipeline(out_dir: str, seed: int) -> dict:
    """LastFM-shape listens + friendships + enrichment: subjects follow
    the clone's micro-genre cores, plus one random long-tail subject."""
    from scripts import make_lastfm_clone as LF

    with _shape(LF, **LASTFM_SHAPE):
        stats = LF.generate(out_dir, seed)
    n_artists, n_core, k_cores = (LASTFM_SHAPE[k] for k in ("N_ARTISTS", "N_CORE_ARTISTS", "K_CORES"))
    rng = np.random.default_rng(seed + 101)

    def subjects_of(a: int) -> list[str]:
        subs = []
        if a - 1 < n_core:  # the clone's core assignment: rank % K
            core = (a - 1) % k_cores
            subs += [f"Genre_{core}_{j}" for j in range(int(rng.integers(1, 3)))]
        subs.append(f"Tail_{int(rng.integers(0, 400))}")
        return subs

    map_rows, enr_rows = _enrichment(
        rng, range(1, n_artists + 1), LASTFM_LINKED, subjects_of
    )
    _write_csv(os.path.join(out_dir, "map.csv"), ["item_id::string", "URI::string"], map_rows)
    _write_csv(
        os.path.join(out_dir, "enriched.csv"),
        ["item_id::string", "subject::string_list"],
        enr_rows,
    )
    stats.update(n_linked=len(map_rows))
    return stats


def curation(out_dir: str, seed: int) -> dict:
    """``documents`` (doc_id, text, lang, source, n_chars) and
    ``embeddings`` (vec_id, embedding, label) parquet tables with the
    sf0.1 schema. Planted structure: 4 % of the docs are near-duplicates
    of an earlier doc (10 % of tokens swapped), 20 % are short enough to
    fail the quality gate, and every doc with
    ``doc_id % 100 == 45`` is an exact echo of doc 0 — the smallest
    quality-passing feed doc, so the echo rule of the registry's st18
    oracle (``plans/driver_queries.ST18_SQL``) leaves the feed as is."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 303)
    # fixed counts per seed: which docs are short or near-duplicates
    # is drawn, how many is not
    short = set(rng.choice(np.arange(1, N_DOCS), size=N_DOCS // 5, replace=False).tolist())
    near = set(rng.choice(np.arange(51, N_DOCS), size=N_DOCS // 25, replace=False).tolist())
    texts: list[str] = []
    for d in range(N_DOCS):
        if d == 0:  # the echo donor: long enough to pass the gate
            toks = [VOCAB[int(t)] for t in rng.integers(0, len(VOCAB), size=90)]
        elif d % 100 == 45:  # exact echo of the donor, in the feed
            toks = texts[0].split()
        elif d in near:  # an earlier doc with 10 % of its tokens swapped
            toks = texts[int(rng.integers(1, d))].split()
            for j in rng.choice(len(toks), size=max(1, len(toks) // 10), replace=False):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            n_tok = int(rng.integers(2, 6)) if d in short else int(rng.integers(25, 90))
            toks = [VOCAB[int(t)] for t in rng.integers(0, len(VOCAB), size=n_tok)]
        texts.append(" ".join(toks))
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(i)] for i in rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{d % 20}" for d in range(N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, N_LABELS, size=N_VECS).astype(np.int32)
    centers = rng.normal(0.0, 1.0, size=(N_LABELS, EMB_DIM))
    vecs = (centers[labels] + rng.normal(0.0, 0.6, size=(N_VECS, EMB_DIM))) * 0.1
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"n_docs": N_DOCS, "n_vecs": N_VECS}


