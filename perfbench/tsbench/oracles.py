"""Driver-side expectations computed without the program's operators.

Each function here is a plain-numpy restatement of what an output must
hold, so an output check never grades the program against itself.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

STRIDES = {0: 1, 1: 8, 2: 64}

# the retention policy the benchmark applies, in each tier's own windows
RETENTION_POLICY = {0: 64, 1: 16, 2: 8}

ROW_COLUMNS = ["doc_id", "tier", "window_idx", "agg_count", "agg_min", "agg_max", "agg_sum"]


def windows(tokens, stride: int) -> list[tuple[int, int, int, int, int]]:
    """(window_idx, count, min, max, sum) of each stride-sized window."""
    a = np.asarray(tokens, dtype=np.int64)
    out = []
    for w, lo in enumerate(range(0, a.size, stride)):
        c = a[lo : lo + stride]
        out.append((w, int(c.size), int(c.min()), int(c.max()), int(c.sum())))
    return out


def tier_rows(docs: list[tuple[str, list[int]]], tiers=(0, 1, 2), keep=None) -> pd.DataFrame:
    """Every tier window of ``docs``; with ``keep`` ({tier: k}), only the
    last k windows of each doc (the retention survivors)."""
    cols: dict[str, list] = {c: [] for c in ROW_COLUMNS}
    for doc_id, toks in docs:
        for t in tiers:
            ws = windows(toks, STRIDES[t])
            if keep is not None:
                ws = ws[max(len(ws) - keep[t], 0) :]
            for w, c, lo, hi, s in ws:
                for col, v in zip(ROW_COLUMNS, (doc_id, t, w, c, lo, hi, s)):
                    cols[col].append(v)
    df = pd.DataFrame(cols)
    return df.astype({c: "int64" for c in ROW_COLUMNS if c != "doc_id"})


def parquet_tier_totals(path: str) -> dict[int, tuple[int, int, int]]:
    """Per tier of an at-rest tokens table, read with pyarrow: (windows,
    Σagg_count, Σagg_sum) = (Σ⌈n_tok/stride⌉, Σn_tok, Σtokens)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tokens = pq.read_table(path, columns=["tokens"]).column("tokens").combine_chunks()
    n = pc.list_value_length(tokens).to_numpy(zero_copy_only=False).astype(np.int64)
    total = int(pc.list_flatten(tokens).to_numpy().astype(np.int64).sum())
    return {t: (int(np.sum(-(-n // s))), int(n.sum()), total) for t, s in STRIDES.items()}


def exact_window_pairs(docs: list[tuple[str, list[int]]], ws: int) -> tuple[int, int]:
    """(pair count, Σ(i + j)) of within-doc position pairs i<j whose
    length-``ws`` windows are equal."""
    count = 0
    pos_sum = 0
    for _, toks in docs:
        seen: dict[tuple, list[int]] = {}
        for i in range(len(toks) - ws + 1):
            seen.setdefault(tuple(toks[i : i + ws]), []).append(i)
        for ps in seen.values():
            k = len(ps)
            count += k * (k - 1) // 2
            # each position pairs with the k-1 others
            pos_sum += (k - 1) * sum(ps)
    return count, pos_sum


def sparse_gapfill(points: pd.DataFrame, n_tok: dict[str, int], stride: int) -> dict:
    """Expected tier windows of a sparse point stream, gap-filled
    against each doc's full ⌈n_tok/stride⌉ grid."""
    expected = int(sum(-(-n // stride) for n in n_tok.values() if n > 0))
    w = points["point_index"] // stride
    present = points.assign(w=w).groupby(["doc_id", "w"]).size()
    return {
        "rows": expected,
        "gapfilled": expected - int(present.size),
        "agg_count": int(points.shape[0]),
        "agg_sum": int(points["token"].astype("int64").sum()),
    }


def keep_last(tier_table: pd.DataFrame, keep: int) -> dict:
    """Rows and Σagg_sum left when each doc keeps its last ``keep`` windows."""
    horizon = tier_table.groupby("doc_id")["window_idx"].transform("max") - keep + 1
    kept = tier_table[tier_table["window_idx"] >= horizon]
    return {"rows": int(kept.shape[0]), "agg_sum": int(kept["agg_sum"].sum())}


def cosine_topk(emb: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int) -> list[int]:
    norms = np.maximum(np.linalg.norm(emb, axis=1), 1e-12)
    cos = emb @ q / (norms * max(float(np.linalg.norm(q)), 1e-12))
    order = np.lexsort((ids, -cos))
    return [int(i) for i in ids[order[:k]]]
