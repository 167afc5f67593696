"""Pandas reference implementations of the KG front end's extraction and
link scoring. The package runs both as Catalyst expressions; these
Arrow-batched pandas versions are the parity oracles the kg tests compare
those expressions against."""

from __future__ import annotations

import hashlib
import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arachne_spark.kg.extract import _DEFAULT, _PATTERNS, MENTION_SCHEMA


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if pdf.empty:
            continue
        sha = pdf["content"].map(
            lambda c: hashlib.sha256(c.encode("utf-8")).hexdigest()
        )
        base = pdf[["repo", "path", "commit", "lang"]].copy()
        base["content_sha256"] = sha
        outs = []
        for lang, group_idx in pdf.groupby("lang").groups.items():
            sub = pdf.loc[group_idx]
            pats = _PATTERNS.get(lang, _DEFAULT)
            for kind, pat in pats.items():
                hits = sub["content"].str.extractall(pat, flags=re.M)
                if hits.empty:
                    continue
                hits = hits.reset_index(level=1, drop=True)[0].rename("mention")
                joined = base.loc[hits.index].copy()
                joined["mention"] = hits.values
                joined["mention_kind"] = kind
                outs.append(joined)
        if outs:
            out = pd.concat(outs, ignore_index=True).drop_duplicates()
            yield out[list(MENTION_SCHEMA.fieldNames())]


def extract_mentions_pandas(code_files: DataFrame) -> DataFrame:
    """code_files -> mentions through the mapInPandas extractor."""
    cols = ["repo", "path", "commit", "lang", "content"]
    return code_files.select(*cols).mapInPandas(_extract_batches, MENTION_SCHEMA)


def _bigrams(s: pd.Series) -> pd.Series:
    def grams(x: str) -> set:
        x = x or ""
        return {x[i : i + 2] for i in range(len(x) - 1)} or {x}

    return s.map(grams)


@F.pandas_udf(T.DoubleType())
def link_score(mention: pd.Series, alias: pd.Series, prior: pd.Series) -> pd.Series:
    """score = 0.7 * bigram-Jaccard(mention, alias) + 0.3 * prior (vectorized)."""
    mg, ag = _bigrams(mention.str.lower()), _bigrams(alias.str.lower())
    inter = [len(a & b) for a, b in zip(mg, ag)]
    union = [len(a | b) or 1 for a, b in zip(mg, ag)]
    jac = pd.Series(inter, index=mention.index) / pd.Series(union, index=mention.index)
    return 0.7 * jac + 0.3 * prior.astype(float)
