"""Seeded inputs. The same ``seed`` gives byte-identical files.

* ``write_documents`` — the ``documents`` table (doc_id, text, lang, source,
  n_chars) with contiguous ``doc_id`` 0..n-1: ``discover_outlinks`` targets
  ``pmod(…, max_doc_id)``, so gaps in the id range would make links dead.
  Texts draw from the same 30-word vocabulary as the repo's test data, with
  planted exact and near duplicates so the dedup operators have work.
* ``write_embeddings`` — the ``embeddings`` table (vec_id, embedding, label):
  unit vectors around ten class centroids, with planted near copies.
* ``backlog_df`` — the standing crawl backlog: canonical URLs on the web's own
  hosts, at priorities below every live page.

Each table is one parquet file: the single-split layout of the sf1.0
curation inputs. ``digest`` names an input definition, for keys of outputs
compared across runs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
EXACT_DUP_PCT = 1.0
NEAR_DUP_PCT = 3.0
EMB_DIM = 64
EMB_CLASSES = 10
#: path prefix of every backlog URL; no page of the web lives under it
BACKLOG_PATH = "/b/"


def digest(*params) -> str:
    """Digest of this generator's source and a workload's own input
    parameters: a change to either gives new keys, not a false mismatch."""
    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(repr(params).encode())
    return h.hexdigest()[:12]


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    off = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[off[i] : off[i + 1]]) for i in range(n)]
    # planted duplicates: copies of an earlier doc, exact or with a few
    # tokens replaced (near duplicates for MinHash / n-gram spans)
    n_exact = int(n * EXACT_DUP_PCT / 100)
    n_near = int(n * NEAR_DUP_PCT / 100)
    targets = rng.choice(np.arange(n // 2, n), n_exact + n_near, replace=False)
    for j, t in enumerate(targets):
        src = texts[int(rng.integers(0, n // 2))]
        if j < n_exact:
            texts[t] = src
        else:
            toks = src.split()
            for k in rng.integers(0, len(toks), 2):
                toks[k] = "dup"
            texts[t] = " ".join(toks)
    return texts


def write_documents(path: str, n: int, seed: int) -> str:
    rng = np.random.default_rng([seed, 1])
    texts = _texts(rng, n)
    langs = rng.choice(LANGS[0], n, p=LANGS[1])
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "documents.parquet")
    pq.write_table(table, out)
    return out


def write_embeddings(path: str, n: int, seed: int) -> str:
    rng = np.random.default_rng([seed, 2])
    centroids = rng.standard_normal((EMB_CLASSES, EMB_DIM))
    labels = rng.integers(0, EMB_CLASSES, n)
    vecs = centroids[labels] + 0.8 * rng.standard_normal((n, EMB_DIM))
    near = rng.choice(np.arange(n // 2, n), int(n * NEAR_DUP_PCT / 100), replace=False)
    src = rng.integers(0, n // 2, len(near))
    vecs[near] = vecs[src] + 0.01 * rng.standard_normal((len(near), EMB_DIM))
    labels[near] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "embeddings.parquet")
    pq.write_table(table, out)
    return out


def backlog_df(spark, n: int, first_id: int, seed: int):
    """``n`` seed rows (url, priority, depth) for URLs no page answers.

    Hosts follow the web's own doc→host assignment for ids past the last
    page, so the backlog sits on the same hosts as the live pages. Priority
    lies in [-2, -1), below every live page (seeds and discoveries are
    ≥ 0), so the politeness rank never picks a backlog URL while its host
    still has live pages: the backlog is read, gated and ranked every round,
    and never fetched. Fetching it would be 404s, whose streaks open host
    circuits and starve later rounds.
    """
    from pyspark.sql import functions as F

    from web_crawling_prj_spark.sources.pages_gen import host_for_doc

    i = F.col("id") + F.lit(first_id)
    mix = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000))
    return spark.range(n).select(
        F.format_string(f"https://%s{BACKLOG_PATH}%d", host_for_doc(i), i).alias("url"),
        (F.lit(-2.0) + mix / 1_000_000.0).alias("priority"),
        F.lit(0).alias("depth"),
    )
