"""Seeded benchmark inputs.

Token corpora come from the program's own generator
(``synth_tokens_distributed(seed=…)``), which follows the token contract
(no null elements, ``n_tok == size(tokens)``).  Text, embeddings, point
streams and planted duplicates/neighbours are generated here from the
same seed.  The seed shapes the inputs only; it is never passed to the
program's operators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TOKENS_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def write_corpus(spark, path: str, n_docs: int, seed: int, files: int | None = None) -> None:
    """The at-rest tokens table: ``files`` parquet files, each holding a
    contiguous doc-id range."""
    from tsc_spark.sources.synth import synth_tokens_distributed

    df = synth_tokens_distributed(spark, n_docs, seed=seed, partitions=files)
    df.write.mode("overwrite").parquet(path)


def collect_docs(spark, path: str) -> list[tuple[str, list[int]]]:
    rows = spark.read.parquet(path).select("doc_id", "tokens").orderBy("doc_id").collect()
    return [(r["doc_id"], list(r["tokens"])) for r in rows]


def docs_frame(spark, docs: list[tuple[str, list[int]]]):
    pdf = pd.DataFrame(
        {
            "doc_id": [d for d, _ in docs],
            "tokens": [np.asarray(t, dtype=np.int32) for _, t in docs],
            "n_tok": np.array([len(t) for _, t in docs], dtype=np.int32),
            "source": "bench",
        }
    )
    return spark.createDataFrame(pdf, TOKENS_DDL)


def plant_query(docs, rng: np.random.Generator, q_len: int, n_hosts: int):
    """A query series copied verbatim into ``n_hosts`` docs long enough
    to hold it.  Returns (docs, query, host doc ids)."""
    query = [int(x) for x in rng.integers(0, 24, size=q_len)]
    eligible = [i for i, (_, t) in enumerate(docs) if len(t) >= q_len + 4]
    hosts = sorted(rng.choice(eligible, size=n_hosts, replace=False).tolist())
    out = list(docs)
    for i in hosts:
        doc_id, toks = out[i]
        at = int(rng.integers(0, len(toks) - q_len + 1))
        toks = list(toks)
        toks[at : at + q_len] = query
        out[i] = (doc_id, toks)
    return out, query, [out[i][0] for i in hosts]


def sparse_points(docs, rng: np.random.Generator, drop_frac: float) -> pd.DataFrame:
    """Point stream (doc_id, point_index, token) with random points and
    whole 8-point windows deleted, so gap-fill has real gaps."""
    ids, idx, tok = [], [], []
    for doc_id, toks in docs:
        n = len(toks)
        keep = rng.random(n) >= drop_frac
        dead_window = int(rng.integers(0, max(-(-n // 8), 1)))
        keep[dead_window * 8 : dead_window * 8 + 8] = False
        pos = np.nonzero(keep)[0]
        ids.extend([doc_id] * pos.size)
        idx.extend(pos.tolist())
        tok.extend(np.asarray(toks, dtype=np.int32)[pos].tolist())
    return pd.DataFrame(
        {
            "doc_id": ids,
            "point_index": np.asarray(idx, dtype=np.int32),
            "token": np.asarray(tok, dtype=np.int32),
        }
    )


def texts(rng: np.random.Generator, n_docs: int, n_words: int, n_groups: int, copies: int):
    """Random-word documents plus ``n_groups`` planted duplicate groups
    (a doc and ``copies`` verbatim copies under new ids).  Returns
    (DataFrame-ready pandas frame, list of planted id groups)."""
    vocab = np.array([f"w{i:04d}" for i in range(2000)])
    body = [" ".join(vocab[rng.integers(0, vocab.size, size=n_words)]) for _ in range(n_docs)]
    ids = [f"t{i:06d}" for i in range(n_docs)]
    groups = []
    for g, src in enumerate(rng.choice(n_docs, size=n_groups, replace=False).tolist()):
        members = [ids[src]]
        for c in range(copies):
            ids.append(f"t{n_docs + g * copies + c:06d}")
            body.append(body[src])
            members.append(ids[-1])
        groups.append(sorted(members))
    return pd.DataFrame({"doc_id": ids, "text": body}), groups


def embeddings(rng: np.random.Generator, n: int, dim: int, n_planted: int):
    """Gaussian vectors, a query, and ``n_planted`` near-copies of the
    query (cosine > 0.999).  Returns (matrix float32, ids, query, planted ids)."""
    m = rng.standard_normal((n, dim)).astype(np.float32)
    q = rng.standard_normal(dim).astype(np.float32)
    planted = sorted(rng.choice(n, size=n_planted, replace=False).tolist())
    for i in planted:
        m[i] = q + 0.01 * rng.standard_normal(dim).astype(np.float32)
    ids = np.arange(1, n + 1, dtype=np.int64)
    return m, ids, q, [int(ids[i]) for i in planted]


def embeddings_frame(spark, m: np.ndarray, ids: np.ndarray):
    pdf = pd.DataFrame({"vec_id": ids, "embedding": list(m)})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
