"""Stage B — entity linking (SURVEY §7.0 step B).

Mentions are scored against a broadcast entity dictionary. The candidate
generation is a broadcast hash join on a normalized alias key (JVM-side,
codegen'd); the scoring combines the dictionary prior with a character-bigram
Jaccard similarity between the raw mention and the alias surface form. The
scorer is a pure column expression (whole-stage codegen, zero Python workers
in the hot path), differential-tested against a pandas UDF oracle under
``tests/kg_oracles.py``. The best candidate per mention wins via one min_by hash
aggregation (deterministic tie-break on canonical_iri).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _bigram_set(c: Column) -> Column:
    """Distinct character bigrams of lower(c) as an array — pure expression.
    A string shorter than 2 chars yields {itself}."""
    lc = F.lower(c)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(lc) - 1, F.lit(1))),
            lambda i: lc.substr(i, F.lit(2)),
        )
    )
    return F.when(F.length(lc) < 2, F.array(lc)).otherwise(grams)


def link_score_expr(mention: Column, alias: Column, prior: Column) -> Column:
    """score = 0.7 * bigram-Jaccard(mention, alias) + 0.3 * prior, as a
    Catalyst expression (codegen'd)."""
    mg, ag = _bigram_set(mention), _bigram_set(alias)
    inter = F.size(F.array_intersect(mg, ag)).cast("double")
    union = F.greatest(F.size(F.array_union(mg, ag)), F.lit(1)).cast("double")
    return 0.7 * (inter / union) + 0.3 * prior.cast("double")


def _norm(c):
    return F.translate(F.lower(c), "_", "")


def link_mentions_single_pass(
    mentions: DataFrame,
    entity_dict: DataFrame,
    min_score: float = 0.5,
) -> DataFrame:
    """Same contract as link_mentions, in ONE corpus pass.

    The vocab-scoring path costs a second full scan of the mention stream
    when the pipeline is a fused lazy plan (the broadcast `best` subtree
    re-runs extraction to discover the vocabulary) — at 100 TB that second
    corpus read dwarfs everything else. Here the DICTIONARY side is
    pre-grouped instead: one dict-scale groupBy packs all candidates of an
    alias_norm into an array, the broadcast join emits at most ONE row per
    mention occurrence, and best-candidate selection is a pure array
    expression (score each candidate in place, array_min over a
    (-score, iri, ...) struct — deterministic: max score, ties by min IRI).
    Zero corpus-side shuffles, zero extra passes; the scoring expression
    runs per occurrence rather than per distinct string, the right trade
    ONLY when re-reading the corpus costs more than re-scoring repeats.

    MEASURED (r4 A/B, 4M synthetic files, local-cluster): the synthetic
    corpus has ~1.7k distinct mentions across ~20M occurrences, so in-row
    bigram-Jaccard scoring costs ~10^4x more scorings than vocab scoring
    while the saved regex re-pass is ~20-40 s — extract stage 378 s vs
    87 s at 1x4, 160 s vs 53 s at 4x4 (checksums identical). The vocab
    path stays the default; prefer this one only for corpora whose
    distinct-mention vocabulary approaches the occurrence count (e.g.
    hash-like identifiers) or where the corpus read is remote/expensive
    and the scorer is cheap."""
    cand = (
        entity_dict.withColumn("alias_norm", _norm(F.col("alias")))
        .groupBy("alias_norm")
        .agg(
            F.collect_list(
                F.struct("alias", "canonical_iri", "kind", "prior")
            ).alias("cands")
        )
    )
    j = mentions.join(
        F.broadcast(cand),
        _norm(F.col("mention")) == F.col("alias_norm"),
        "inner",
    )
    scored = F.transform(
        F.col("cands"),
        lambda c: F.struct(
            (-link_score_expr(F.col("mention"), c["alias"], c["prior"])).alias(
                "ns"
            ),
            c["canonical_iri"].alias("canonical_iri"),
            c["kind"].alias("kind"),
            c["alias"].alias("alias"),
            c["prior"].alias("prior"),
        ),
    )
    # pass through EVERY corpus-side column: the pre-encoded pipeline
    # stages a thin (file_sid, mention, mention_kind) schema instead of
    # the seven-column string one, and linking is agnostic to which
    keys = list(mentions.columns)
    best = F.array_min(F.filter(scored, lambda s: -s["ns"] >= min_score))
    return (
        j.withColumn("__best", best)
        .filter(F.col("__best").isNotNull())
        .select(
            *keys,
            F.col("__best.canonical_iri").alias("canonical_iri"),
            F.col("__best.kind").alias("kind"),
            F.col("__best.alias").alias("alias"),
            F.col("__best.prior").alias("prior"),
            (-F.col("__best.ns")).alias("score"),
        )
    )


def link_mentions(
    mentions: DataFrame,
    entity_dict: DataFrame,
    min_score: float = 0.5,
) -> DataFrame:
    """mentions x broadcast(dict) -> best (mention, canonical_iri, kind, score).

    The dictionary is the small side — broadcast explicitly so the join never
    shuffles the (huge) mention table (SURVEY O8: broadcast the ontology-
    derived side tables). Scoring is a codegen'd column expression."""
    # Score the VOCABULARY, not the corpus: the best candidate for a mention
    # depends only on the mention string, and distinct mention strings are
    # dictionary-scale (identifiers repeat massively in any code corpus),
    # so candidate generation + scoring + best-selection run over the tiny
    # distinct set. Map-side partial aggregation shrinks the vocab shuffle
    # to ~|vocab| rows per partition; the resolved table then broadcast-joins
    # back onto the full mention stream — the 10^12-row side is never
    # shuffled at all.
    vocab = mentions.select("mention").distinct()
    pairs = vocab.join(
        F.broadcast(entity_dict.withColumn("alias_norm", _norm(F.col("alias")))),
        _norm(F.col("mention")) == F.col("alias_norm"),
        "inner",
    ).withColumn(
        "score", link_score_expr(F.col("mention"), F.col("alias"), F.col("prior"))
    )
    # best candidate per mention via min_by on (-score, canonical_iri):
    # deterministic (max score, ties -> min IRI)
    best = (
        pairs.filter(F.col("score") >= min_score)
        .groupBy("mention")
        .agg(
            F.min_by(
                F.struct("canonical_iri", "kind", "alias", "prior", "score"),
                F.struct((-F.col("score")).alias("ns"), F.col("canonical_iri").alias("ci")),
            ).alias("best")
        )
        .select("mention", "best.canonical_iri", "best.kind", "best.alias", "best.prior", "best.score")
    )
    # pass through EVERY corpus-side column: the pre-encoded pipeline
    # stages a thin (file_sid, mention, mention_kind) schema instead of
    # the seven-column string one, and linking is agnostic to which
    keys = list(mentions.columns)
    # extraction already dedups mentions per file batch, so the inner
    # broadcast join preserves the old one-row-per-(file, mention, kind)
    # contract without re-shuffling the corpus-side table
    return mentions.join(F.broadcast(best), on="mention", how="inner").select(
        *keys, "canonical_iri", "kind", "alias", "prior", "score"
    )
