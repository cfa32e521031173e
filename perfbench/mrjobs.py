"""The benchmark's own MapReduce clients, in both adapter shapes.

They are module-level functions on purpose: Spark pickles them by reference,
so every Python worker must be able to import this module (and
``mapreducefw_spark``). ``run.py`` puts both on the workers' path.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

SEARCH_SUBSTR = "gear"

WORDCOUNT_MAP_SCHEMA = "k2 string, v2 int"
WORDCOUNT_OUT_SCHEMA = "token string, n bigint"
SEARCH_MAP_SCHEMA = "k2 string, v2 string"
SEARCH_OUT_SCHEMA = "key string, value string"


def wordcount_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Flat map: one (token, 1) row per token of each input line."""
    for pdf in batches:
        tokens = pdf["line"].str.split(" ").explode()
        yield pd.DataFrame({"k2": tokens.to_numpy(), "v2": np.ones(len(tokens), dtype=np.int32)})


def wordcount_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"token": [pdf["k2"].iloc[0]], "n": [int(pdf["v2"].sum())]})


def search_map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Identity emit: (dir, name) -> (k2 = dir, v2 = name)."""
    for pdf in batches:
        yield pd.DataFrame({"k2": pdf["dir"].to_numpy(), "v2": pdf["name"].to_numpy()})


def search_reduce(pdf: pd.DataFrame) -> pd.DataFrame:
    """Keep the names that contain the substring, re-keyed with a NULL value."""
    hits = pdf["v2"][pdf["v2"].str.contains(SEARCH_SUBSTR, regex=False)].to_numpy()
    return pd.DataFrame({"key": hits, "value": [None] * len(hits)}, dtype=object)


def wordcount_map_kv(line_no: int, line: str) -> list[tuple[str, int]]:
    return [(tok, 1) for tok in line.split(" ")]


def wordcount_reduce_kv(token: str, ones: list[int]) -> list[tuple[str, int]]:
    return [(token, len(ones))]

