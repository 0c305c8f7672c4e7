"""Deterministic corpus sampling / splitting for training pipelines.

Train/val/test assignment must be a pure function of the document id —
stable across reruns, cluster sizes, and partitionings — so it is computed
from a content-independent hash of the id, never from randomness or row
order. Pure per-row JVM expressions: no shuffle, no Python, scale-free.

One plan, two hash families behind ``hash=`` (``_hashed`` below; the
MinHash operators in operators/dedup.py take the same switch):

- ``hash="xxhash64"`` (default): the production path — JVM-native,
  fastest.
- ``hash="md5"``: portable to any SQL engine; ``corpus_split_sql`` is its
  exact DuckDB twin for oracle checking.

At 100 TB the split is a WHERE clause, not a job: downstream stages filter
on the split column and Catalyst pushes the predicate into the scan.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKETS = 1_000_000  # ppm resolution for split fractions


def _hashed(col, salt: str, hash: str):
    """Salted bigint hash of a string column in the chosen family.

    ``"md5"`` keeps the first 60 bits of md5(salt || col) as a decimal —
    expressible verbatim in DuckDB (conv == from-hex)."""
    if hash == "xxhash64":
        return F.xxhash64(col, F.lit(salt))
    if hash == "md5":
        return F.conv(F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 15),
                      16, 10).cast("long")
    raise ValueError(f"unknown hash family: {hash}")


def corpus_split(df: DataFrame, weights: dict[str, float] | None = None,
                 id_col: str = "doc_id", seed: str = "split-v1",
                 hash: str = "xxhash64") -> DataFrame:
    """Assign each row a deterministic split label by hashed-id bucket.

    ``weights`` maps label -> fraction (must sum to <= 1; the LAST label
    gets the remainder, with a UserWarning when that differs from its
    declared weight). Insertion order defines the bucket ranges,
    so the same weights dict always yields the same assignment; changing
    ``seed`` re-deals every document. Returns the input columns plus
    ``split``.
    """
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    if not weights or any(w < 0 for w in weights.values()) \
            or sum(weights.values()) > 1.0 + 1e-9:
        raise ValueError("weights must be non-negative and sum to <= 1")
    bucket = F.pmod(_hashed(F.col(id_col).cast("string"), seed, hash),
                    F.lit(_BUCKETS))
    labels = list(weights)
    rest = 1.0 - sum(weights[label] for label in labels[:-1])
    if abs(rest - weights[labels[-1]]) > 1e-9:
        warnings.warn(
            f"corpus_split: last label {labels[-1]!r} declares weight "
            f"{weights[labels[-1]]} but gets the remainder {rest:.6g}",
            UserWarning, stacklevel=2)
    expr = None
    hi = 0
    for label in labels[:-1]:
        hi += int(round(weights[label] * _BUCKETS))
        cond = bucket < hi
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = F.lit(labels[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def corpus_split_sql(table: str = "documents",
                     weights: dict[str, float] | None = None,
                     id_col: str = "doc_id", seed: str = "split-v1") -> str:
    """DuckDB oracle twin of corpus_split(hash='md5')."""
    if weights is None:
        weights = {"train": 0.98, "val": 0.01, "test": 0.01}
    bucket = (f"(('0x' || substr(md5('{seed}' || "
              f"CAST({id_col} AS VARCHAR)), 1, 15))::BIGINT % {_BUCKETS})")
    labels = list(weights)
    cases = []
    hi = 0
    for label in labels[:-1]:
        hi += int(round(weights[label] * _BUCKETS))
        cases.append(f"WHEN {bucket} < {hi} THEN '{label}'")
    when = " ".join(cases)
    case = (f"CASE {when} ELSE '{labels[-1]}' END" if cases
            else f"'{labels[-1]}'")
    return f"SELECT *, {case} AS split FROM {table}"
