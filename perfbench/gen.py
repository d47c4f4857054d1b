"""Seeded inputs for the benchmark workloads.

Everything is a pure function of ``(seed, size)``: the transcript spine and
as-of store come from the package's own generators
(``datagen.gen_transcripts`` / ``gen_feature_store``), the documents and the
request stream from the generators below. Inputs are written as parquet
under the benchmark's own cache directory, keyed by ``(seed, size)``, and
reused when already present.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
MIN_HOT = 1000


def _build_once(out: str, build) -> str:
    """``out`` after ``build(out)`` has completed there once."""
    marker = os.path.join(out, ".done")
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        build(out)
        with open(marker, "w") as f:
            f.write("ok")
    return out


def _cached(cache: str, name: str, seed: int, size: dict, build) -> str:
    """Directory under ``cache`` holding ``build(out_dir)``'s files for
    this (name, size, seed) key."""
    key = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    return _build_once(os.path.join(cache, f"{name}-{key}-seed{seed}"), build)


# ------------------------------------------------------------ transcripts


def transcripts(
    seed: int, n_convs: int, total_turns: int, max_turns: int = 150, cache: str = CACHE
) -> str:
    """``transcripts.parquet`` (spine) and ``feature_store.parquet`` (sparse
    as-of store) from the package generators. ``n_convs`` Zipf(1.2)
    conversations capped at ``max_turns`` turns, plus one hot conversation
    (the last conversation id) sized so the spine has ``total_turns`` turns
    for every seed; only a seed whose other conversations already come
    within ``MIN_HOT`` turns of the total gets a larger spine."""
    from funcify_feature_eng_spark.datagen import gen_feature_store, gen_transcripts

    def build(out: str) -> None:
        base = gen_transcripts(n_convs=n_convs, seed=seed, max_turns=max_turns).num_rows
        hot = max(total_turns - base, MIN_HOT)
        tr = gen_transcripts(
            n_convs=n_convs, seed=seed, max_turns=max_turns, hot_conv_turns=hot
        )
        pq.write_table(tr, os.path.join(out, "transcripts.parquet"))
        pq.write_table(gen_feature_store(tr, seed=seed), os.path.join(out, "feature_store.parquet"))

    size = {"c": n_convs, "t": total_turns, "m": max_turns}
    return _cached(cache, "transcripts", seed, size, build)


def publish_points(data_dir: str, n_files: int) -> str:
    """The points a recomputed feature is published for (every even turn),
    split into ``n_files`` parquet files: one file per micro-batch."""

    def build(src: str) -> None:
        tr = pq.read_table(os.path.join(data_dir, "transcripts.parquet"))
        idx = tr.column("turn_idx").to_numpy()
        pts = tr.filter(pa.array(idx % 2 == 0)).select(["conv_id", "turn_idx", "text", "ts"])
        n = pts.num_rows
        for j in range(n_files):
            lo, hi = j * n // n_files, (j + 1) * n // n_files
            pq.write_table(pts.slice(lo, hi - lo), os.path.join(src, f"part-{j:03d}.parquet"))

    return _build_once(os.path.join(data_dir, f"points{n_files}"), build)


# -------------------------------------------------------------- documents


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def gen_documents(
    n_docs: int,
    seed: int,
    exact_share: float = 0.1,
    near_share: float = 0.1,
    digit_share: float = 0.1,
    min_words: int = 80,
    max_words: int = 200,
) -> pa.Table:
    """Documents with stated shares of exact copies and near-duplicate edits.

    Base documents draw words from a 4000-word random vocabulary, so two
    unrelated documents share no word 3-shingle in practice. A near-dup
    replaces one word of a base document (shingle Jaccard >= 0.92 at 80
    words). ``digit_share`` of base documents carry a digit token, which the
    curation pipeline's language rule rejects.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_base = n_docs - n_exact - n_near
    base: list[list[str]] = []
    for _ in range(n_base):
        words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(min_words, max_words + 1)))])
        if rng.random() < digit_share:
            words[int(rng.integers(0, len(words)))] = f"n{int(rng.integers(0, 100))}"
        base.append(words)
    texts = [" ".join(w) for w in base]
    for i in rng.integers(0, n_base, n_exact):
        texts.append(texts[int(i)])
    for i in rng.integers(0, n_base, n_near):
        words = list(base[int(i)])
        pos = int(rng.integers(0, len(words)))
        repl = words[pos]
        while repl == words[pos]:
            repl = str(vocab[int(rng.integers(0, len(vocab)))])
        words[pos] = repl
        texts.append(" ".join(words))
    order = rng.permutation(len(texts))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(1, len(texts) + 1, dtype=np.int64)),
            "text": pa.array([texts[int(k)] for k in order], pa.string()),
        }
    )


def documents(seed: int, n_docs: int, cache: str = CACHE) -> str:
    def build(out: str) -> None:
        pq.write_table(gen_documents(n_docs, seed), os.path.join(out, "documents.parquet"))

    return _cached(cache, "documents", seed, {"n": n_docs}, build)


# --------------------------------------------------------------- requests


def gen_requests(
    conv_ids: list[str], hot_id: str, n: int, seed: int, zipf_a: float = 1.3, hot_rank: int = 3
) -> list[dict]:
    """Entity-lookup requests: conversation ids drawn Zipf(``zipf_a``) over a
    seeded ranking that puts the hot conversation at ``hot_rank``; the query
    text (``narrow``/``wide``) and the wide query's ``$gap`` drawn per request."""
    rng = np.random.default_rng(seed + 101)
    others = [c for c in sorted(conv_ids) if c != hot_id]
    ranking = [others[int(k)] for k in rng.permutation(len(others))]
    ranking.insert(min(hot_rank - 1, len(ranking)), hot_id)
    ranks = np.minimum(rng.zipf(zipf_a, n), len(ranking)) - 1
    kinds = np.where(rng.random(n) < 0.5, "narrow", "wide")
    gaps = rng.choice([900.0, 3600.0], n)
    return [
        {"kind": str(k), "conv_id": ranking[int(r)], "gap": float(g)}
        for k, r, g in zip(kinds, ranks, gaps)
    ]


def requests(seed: int, data_dir: str, n: int) -> list[dict]:
    path = os.path.join(data_dir, f"requests{n}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    conv = pq.read_table(os.path.join(data_dir, "transcripts.parquet"), columns=["conv_id"])
    ids = sorted(set(conv.column("conv_id").to_pylist()))
    reqs = gen_requests(ids, ids[-1], n, seed)
    with open(path, "w") as f:
        json.dump(reqs, f)
    return reqs

