"""Correctness checks applied to every timed operation's output.

- code corpus: dup-pair recall and precision against the planted
  `Corpus.truth_pairs`, plus the sha256 invariant (byte-identical files
  always share one cluster);
- documents / operator mix: row-by-row agreement with the DuckDB oracle
  SQL each query is registered with. The oracle rows are computed once
  by `make_expected.py` and stored as per-row digests, because the oracle
  SQL for the near-dup and span queries takes minutes in DuckDB.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from itertools import combinations
from pathlib import Path

import numpy as np
import pandas as pd
from check_exact import canon  # the repo's exact Spark-vs-DuckDB comparison

EXPECTED_DIR = Path(__file__).resolve().parent / "expected"
MIN_RECALL = 0.99


def row_digests(df: pd.DataFrame) -> tuple[list[str], np.ndarray]:
    """(sorted column names, one uint64 digest per row) of the canonical
    form `check_exact.py` compares: floats by bit pattern, rows sorted."""
    c = canon(df)
    if len(c) == 0:
        return list(c.columns), np.empty(0, dtype=np.uint64)
    digests = pd.util.hash_pandas_object(c.astype(str), index=False)
    return list(c.columns), digests.to_numpy(np.uint64)


def mismatch_rows(got: pd.DataFrame, expected: dict) -> int:
    """Rows in `got` or in the oracle result that the other lacks (multiset
    symmetric difference); every row counts when the columns differ."""
    cols, dig = row_digests(got)
    if cols != expected["columns"]:
        return len(got) + len(expected["digests"])
    a, b = Counter(dig.tolist()), Counter(expected["digests"].tolist())
    return sum(((a - b) + (b - a)).values())


def input_fingerprint(tables: dict[str, pd.DataFrame]) -> str:
    """Content hash of generated input tables (stored beside the expected
    digests so a changed generator cannot be checked against stale rows)."""
    h = hashlib.sha256()
    for name in sorted(tables):
        df = tables[name]
        h.update(name.encode())
        for col in df.columns:
            s = df[col]
            if s.dtype == object and len(s) and isinstance(s.iloc[0], np.ndarray):
                h.update(np.stack(s.to_numpy()).tobytes())
            else:
                h.update(pd.util.hash_pandas_object(s, index=False)
                         .to_numpy().tobytes())
    return h.hexdigest()


def load_expected(workload: str) -> tuple[str, dict[str, dict]]:
    """(input fingerprint, query -> {"columns", "digests"})."""
    with np.load(EXPECTED_DIR / f"{workload}.npz") as z:
        fp = str(z["fingerprint"])
        out = {}
        for key in z.files:
            if key.endswith("__digests"):
                q = key[: -len("__digests")]
                out[q] = {"digests": z[key],
                          "columns": [str(c) for c in z[f"{q}__columns"]]}
    return fp, out


def save_expected(workload: str, fingerprint: str,
                  results: dict[str, pd.DataFrame]) -> Path:
    EXPECTED_DIR.mkdir(exist_ok=True)
    arrays = {"fingerprint": np.array(fingerprint)}
    for q, df in results.items():
        cols, dig = row_digests(df)
        arrays[f"{q}__digests"] = dig
        arrays[f"{q}__columns"] = np.array(cols)
    path = EXPECTED_DIR / f"{workload}.npz"
    np.savez_compressed(path, **arrays)
    return path


class CorpusTruth:
    """Planted truth of one generated code corpus, keyed by Spark doc_id."""

    def __init__(self, keys: pd.DataFrame, truth_pairs: set[tuple[str, str]]):
        # keys: doc_id, k (repo//path//commit), sha (sha256 of content)
        to_id = dict(zip(keys["k"], keys["doc_id"]))
        self.pairs = {tuple(sorted((to_id[a], to_id[b])))
                      for a, b in truth_pairs}
        groups = keys.groupby("sha")["doc_id"].apply(list)
        self.exact_groups = [g for g in groups if len(g) > 1]

    def score(self, clusters: pd.DataFrame) -> dict[str, float]:
        """recall, precision and exact-group violations of one output."""
        pred: set[tuple[int, int]] = set()
        for members in clusters.groupby("cluster_id")["doc_id"].apply(list):
            if len(members) > 1:
                pred.update(combinations(sorted(members), 2))
        hit = len(pred & self.pairs)
        cid = dict(zip(clusters["doc_id"], clusters["cluster_id"]))
        split = sum(len({cid.get(d) for d in g}) != 1
                    for g in self.exact_groups)
        return {
            "recall": hit / len(self.pairs) if self.pairs else 1.0,
            "precision": hit / len(pred) if pred else 1.0,
            "exact_groups_split": split,
        }
