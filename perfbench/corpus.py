"""Seeded input generator for the benchmark workloads.

Documents keep the shape of the engine's testdata ``documents`` table:
the same 30-token vocabulary, 10-100 tokens per text (44-577 chars),
the same ``lang`` prior (41% ``en``; ``q_ml_classify``'s ``acc_ok``
oracle needs the majority share above 0.30) and 20 round-robin sources.
Near-duplicates are planted the way the testdata plants them: a base
text with `` dup`` appended (3-shingle Jaccard ~0.98, edit distance 4).

The workloads differ only in how documents share text:

- ``dupheavy``: ~60% of documents sit in exact-duplicate clusters with
  Pareto-tailed sizes, so distinct texts are ~half the documents;
- ``unique``: no exact duplicates at all.

Every value comes from ``random.Random(seed)`` and the parquet writer
embeds no clock, so one seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
#: The reference's 7-label set; stream payloads carry one as their claimed category.
CATEGORIES = (
    "environmental news", "health news", "technology", "political", "arts", "sports", "social",
)

#: Per-workload corpus shape. ``dup_share``: documents inside exact-dup
#: clusters; ``mean_cluster``: their mean size (so distinct texts ≈
#: docs · (1 - dup_share + dup_share / mean_cluster)); ``tail``: Pareto
#: shape of cluster sizes; ``near_share``: documents that are a planted
#: near-duplicate of another document's text.
SHAPES = {
    "dupheavy": {"docs": 2000, "dup_share": 0.60, "mean_cluster": 6.0, "tail": 1.5,
                 "max_cluster": 150, "near_share": 0.05},
    "unique": {"docs": 2000, "dup_share": 0.0, "mean_cluster": 1.0, "tail": 1.5,
               "max_cluster": 1, "near_share": 0.05},
}


def _text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))


def _lang(rng: random.Random) -> str:
    x, acc = rng.random(), 0.0
    for lang, p in LANGS:
        acc += p
        if x < acc:
            return lang
    return LANGS[-1][0]


def _cluster_sizes(total: int, shape: dict) -> list[int]:
    """Pareto-tailed sizes >= 2 summing exactly to ``total`` documents.

    The sizes are the distribution's quantiles, not random draws, so
    every seed gets the same cluster-size profile (and so the same
    quadratic pair count in the dedup operators); only which texts and
    positions form the clusters depends on the seed."""
    alpha, scale = shape["tail"], shape["mean_cluster"] * (shape["tail"] - 1) / shape["tail"]

    def profile(c: int) -> list[int]:
        return [
            max(2, min(shape["max_cluster"], int(scale * (1 - (i + 0.5) / c) ** (-1 / alpha))))
            for i in range(c)
        ]

    c = 1
    while sum(profile(c)) < total:
        c += 1
    sizes = profile(c)
    sizes[-1] -= sum(sizes) - total  # the last quantile is the smallest
    if sizes[-1] < 2:
        sizes[0] += sizes.pop()
    return sizes


def make_corpus(seed: int, workload: str) -> tuple[list[str], list[str], dict]:
    """Return (texts, langs, descriptors) for ``workload`` in doc_id order."""
    shape = SHAPES[workload]
    rng = random.Random(f"corpus:{workload}:{seed}")
    n = shape["docs"]
    n_near = int(n * shape["near_share"])
    n_dup = int(n * shape["dup_share"])
    sizes = _cluster_sizes(n_dup, shape) if n_dup else []
    n_single = n - n_dup - n_near
    seen: set[str] = set()

    def fresh() -> str:
        t = _text(rng)
        while t in seen:
            t = _text(rng)
        seen.add(t)
        return t

    singles = [fresh() for _ in range(n_single)]
    # A near-duplicate copies one singleton text, so every seed plants
    # exactly ``n_near`` pairs and no two copies collide into an exact dup.
    near = [b + " dup" for b in rng.sample(singles, n_near)]
    texts = [fresh() for _ in sizes]
    texts = [t for t, s in zip(texts, sizes) for _ in range(s)] + singles + near
    rng.shuffle(texts)
    langs = [_lang(rng) for _ in texts]
    desc = {
        "documents": len(texts),
        "distinct_texts": len(set(texts)),
        "dup_clusters": len(sizes),
        "max_cluster": max(sizes, default=1),
        "near_dup_pairs": n_near,
    }
    return texts, langs, desc


def write_corpus(seed: int, workload: str, out_dir: str) -> dict:
    """Write ``out_dir/documents.parquet`` and return its descriptors."""
    texts, langs, desc = make_corpus(seed, workload)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(len(texts))], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"), compression="snappy")
    return desc


def stream_payloads(seed: int, n: int, part: str) -> list[tuple[str, str]]:
    """``n`` seeded (content, claimed category) pairs for one stream phase."""
    rng = random.Random(f"stream:{part}:{seed}")
    return [(_text(rng), rng.choice(CATEGORIES)) for _ in range(n)]


def payload_line(content: str, category: str, event_ts: str) -> str:
    """One line of a json-files source: ``value`` holds the payload JSON."""
    payload = json.dumps({"content": content, "category": category, "event_ts": event_ts})
    return json.dumps({"value": payload}) + "\n"
