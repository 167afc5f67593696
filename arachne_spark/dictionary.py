"""Term dictionary: encoded term strings <-> 8-byte long ids for the fixpoint
hot loop (SURVEY.md §1.3's reserved optimization; the analogue of the
reference's interned-URI / cached-hashCode structural identity,
Triple.scala:11,83-87).

Design — HASH ids, not assigned ids:

    id(term) = xxhash64(term)            (salt 0)
             = xxhash64(term, salt)      (salt > 0, only after a collision)

Because the id is a pure column expression, ENCODING NEEDS NO JOIN and no
shuffle: any triples DataFrame maps to (long, long, long) in a single
codegen'd projection, and incremental batches / resumed runs encode new data
statelessly with the same salt. Every join, distinct, and anti-join in the
fixpoint then carries 24 bytes per row instead of arbitrarily long IRI
strings — the round-1 bench showed the 8M-row self-join round was
memory-bound on exactly those fat string keys.

Injectivity is VERIFIED, not assumed: `build_term_dict` distincts the term
vocabulary (input terms + rule constants — derived facts can never contain
any other term, since heads only rearrange body bindings and rule constants)
and checks count == countDistinct(id), bumping the salt until collision-free
(64-bit birthday bound makes even one retry vanishingly unlikely). The same
distinct'd vocabulary IS the decode dictionary used at the export boundary.

Decoding is 3 hash joins against the dictionary — paid once at export, never
inside the loop.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arachne_spark.model import TRIPLE_COLS

TRIPLE_ID_SCHEMA = T.StructType(
    [T.StructField(c, T.LongType(), False) for c in TRIPLE_COLS]
)


def term_id_col(c, salt: int = 0):
    """The id expression for one term column. Pure Catalyst (whole-stage
    codegen); salt participates in the hash only when non-zero so the common
    path is a single-argument xxhash64."""
    return F.xxhash64(c) if salt == 0 else F.xxhash64(c, F.lit(salt))


def encode_ids(triples: DataFrame, salt: int = 0) -> DataFrame:
    """(s,p,o string) -> (s,p,o long): one projection, no joins, no shuffle."""
    return triples.select(
        *[term_id_col(F.col(c), salt).alias(c) for c in TRIPLE_COLS]
    )


def decode_ids(
    ids: DataFrame, term_dict: DataFrame, strict: bool = False
) -> DataFrame:
    """(s,p,o long) -> (s,p,o string) via 3 dictionary joins (export path).
    Inner joins are exact because the dictionary covers the full closed term
    universe (input terms + rule constants).

    ``strict=True`` (used when the vocabulary was caller-provided, so
    coverage is a contract rather than a construction): left joins plus a
    per-row assert_true, so a term missing from the dictionary raises at
    scan time instead of silently dropping the fact."""
    return decode_cols(ids, term_dict, TRIPLE_COLS, strict).select(*TRIPLE_COLS)


def decode_cols(
    df: DataFrame, term_dict: DataFrame, cols, strict: bool = False
) -> DataFrame:
    """Decode the id columns ``cols`` of ``df`` to term strings, one
    dictionary join each (inner, or left + raise_error when ``strict``);
    every other column passes through, and the column order is kept."""
    out = df
    for c in cols:
        m = term_dict.select(
            F.col("id").alias(c), F.col("term").alias(f"__{c}_term")
        )
        out = out.join(m, on=c, how="left" if strict else "inner")

    def term(c):
        t = F.col(f"__{c}_term")
        if not strict:
            return t.alias(c)
        return (
            F.when(t.isNotNull(), t)
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"decode miss on '{c}': term id absent from the "
                            "caller-provided vocabulary (coverage contract "
                            "violated), id="
                        ),
                        F.col(c).cast("string"),
                    )
                )
            )
            .alias(c)
        )

    return out.select(*[term(c) if c in cols else F.col(c) for c in df.columns])


def build_term_dict(
    spark: SparkSession,
    triples: Optional[DataFrame],  # ignored (may be None) when vocab is given
    extra_terms: list[str],
    *,
    max_salt: int = 8,
    start_salt: int = 0,
    vocab: Optional[DataFrame] = None,
) -> tuple[int, DataFrame]:
    """Distinct term vocabulary + collision-free salt.

    Returns (salt, dict_df) where dict_df has columns (term string, id long),
    localCheckpoint'ed. One distinct shuffle over the input terms (the same
    pass a decode dictionary needs anyway); per-salt verification is a single
    map-side-combinable aggregate over the checkpointed vocabulary.

    ``vocab``: caller-provided term universe (single string column) that
    MUST cover every term in ``triples``. KG pipelines usually know their
    vocabulary from dimension tables (entity dictionaries, file inventories)
    that are far thinner than the fact stream — supplying it replaces the
    per-column distincts over the full triple table (the dominant
    dictionary-build cost: 2 high-cardinality fat-string shuffles) with one
    distinct over the dimension union. Coverage is the caller's contract;
    the engine's strict decode (decode_ids(..., strict=True)) turns a
    violation into a loud error instead of silently dropped facts. The
    collision check below still runs against the provided universe, so a
    superset vocabulary is safe (it can only force an extra salt retry)."""
    if vocab is not None:
        terms = vocab.select(F.col(vocab.columns[0]).alias("term"))
    else:
        # Per-column distincts, NOT explode-then-distinct: exploding to 3N
        # rows before a high-cardinality distinct defeats map-side partial
        # aggregation (each map task's hash table holds nearly the whole
        # vocabulary and spills) — measured ~2x slower and anti-scaling with
        # executor count. Column-wise, p/o collapse to tiny sets map-side
        # and only the subject-like column carries its true cardinality; the
        # second distinct then runs over ~|vocab| pre-deduped rows.
        cols = [
            triples.select(F.col(c).alias("term")).distinct()
            for c in TRIPLE_COLS
        ]
        terms = reduce(DataFrame.unionByName, cols)
    if extra_terms:
        terms = terms.unionByName(
            spark.createDataFrame([(t,) for t in extra_terms], "term string")
        )
    vocab = terms.distinct()
    for salt in range(start_salt, start_salt + max_salt):
        d = vocab.select(
            "term", term_id_col(F.col("term"), salt).alias("id")
        ).localCheckpoint(eager=True)
        row = d.agg(
            F.count("*").alias("n"), F.countDistinct("id").alias("k")
        ).collect()[0]
        if row["n"] == row["k"]:
            return salt, d
        vocab = d.select("term")  # reuse the materialized vocab for retries
    raise RuntimeError(
        f"no collision-free salt in [{start_salt}, {start_salt + max_salt})"
    )


# Batches at or below this many distinct terms take the two-pass broadcast
# membership path (the dictionary is streamed map-only); larger batches fall
# back to a plain shuffled anti-join, which is correct at any size.
DELTA_BROADCAST_ROWS = 200_000


def _batch_terms_plan(new_triples: DataFrame) -> DataFrame:
    """Distinct term vocabulary of ONE batch — the only aggregate in the
    incremental path, and it runs over the batch, never the dictionary."""
    return new_triples.select(
        F.explode(F.array(*[F.col(c) for c in TRIPLE_COLS])).alias("term")
    ).distinct()


def _seen_terms_plan(term_dict: DataFrame, batch_terms: DataFrame) -> DataFrame:
    """Dictionary terms that appear in the (broadcast) batch.

    LeftSemi with the SMALL side broadcast as the build side streams the
    billions-row dictionary map-only — no Exchange ever touches the
    dictionary (plan-asserted in tests). This is the engine's two-pass
    membership trick (engine.py round-loop dedup) applied to dictionary
    maintenance; the naive `batch.join(dict, how="left_anti")` form would put
    the dictionary on the BUILD side of a BroadcastHashJoin (impossible at
    scale) or shuffle both sides (a full-vocab shuffle per micro-batch)."""
    return term_dict.select("term").join(
        F.broadcast(batch_terms), on="term", how="left_semi"
    )


def _collision_probe_plan(term_dict: DataFrame, new_ids: DataFrame) -> DataFrame:
    """Dictionary rows whose id collides with a (broadcast) new-term id —
    same map-only shape: the dictionary is scanned, never shuffled."""
    return term_dict.select("id").join(
        F.broadcast(new_ids), on="id", how="left_semi"
    )


def dict_delta(
    term_dict: DataFrame,
    new_triples: DataFrame,
    salt: int,
    broadcast_rows: int = DELTA_BROADCAST_ROWS,
) -> DataFrame:
    """The batch's GENUINELY NEW dictionary rows, verified collision-free —
    O(|batch|) shuffle work; the full vocabulary is only ever STREAMED
    (map-only scans), never shuffled or re-aggregated.

    distinct() runs over the batch's terms only. Membership against the
    existing dictionary uses two broadcast passes (semi to find the batch
    terms the dictionary already has, anti against that small `seen` set) so
    the dictionary stays on the streamed side of both joins; batches larger
    than ``broadcast_rows`` distinct terms fall back to a plain shuffled
    left_anti. The id collision check streams the dictionary the same way.
    The salt is FIXED (already-encoded facts can't be re-salted); a collision
    — new term vs existing id, or within the batch — raises, and the correct
    recovery is a full re-materialization (at 64 bits this is a
    practically-impossible event)."""
    batch = _batch_terms_plan(new_triples).localCheckpoint(eager=True)
    n_batch = batch.count()
    if 0 < n_batch <= broadcast_rows:
        seen = _seen_terms_plan(term_dict, batch).localCheckpoint(eager=True)
        fresh = batch.join(F.broadcast(seen), on="term", how="left_anti")
    else:
        fresh = batch.join(term_dict.select("term"), on="term", how="left_anti")
    new_terms = fresh.select(
        "term", term_id_col(F.col("term"), salt).alias("id")
    ).localCheckpoint(eager=True)
    row = new_terms.agg(
        F.count("*").alias("n"), F.countDistinct("id").alias("k")
    ).collect()[0]
    clashes = (
        0
        if row["n"] == 0
        else _collision_probe_plan(
            term_dict, new_terms.select("id").localCheckpoint(eager=True)
        ).count()
        if row["n"] <= broadcast_rows
        else new_terms.join(term_dict, on="id", how="left_semi").count()
    )
    if row["n"] != row["k"] or clashes:
        raise RuntimeError(
            "xxhash64 collision between incremental terms and the existing "
            f"dictionary at salt={salt}; re-materialize from scratch"
        )
    return new_terms


def extend_term_dict(
    term_dict: DataFrame, new_triples: DataFrame, salt: int
) -> DataFrame:
    """Union newly-seen terms into an existing dictionary (incremental
    maintenance) in O(|batch|): the new rows come from :func:`dict_delta`
    and the result is a lazy union with the (already-checkpointed) existing
    dictionary — the full vocabulary is never re-shuffled or re-hashed."""
    return term_dict.unionByName(dict_delta(term_dict, new_triples, salt))


def lookup_term_ids(
    spark: SparkSession, terms: list[str], salt: int = 0
) -> dict[str, int]:
    """Driver-side term -> id map for rule constants (one tiny Spark job so
    the hash is EXACTLY the JVM xxhash64 used on data)."""
    if not terms:
        return {}
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    rows = df.select("term", term_id_col(F.col("term"), salt).alias("id")).collect()
    return {r["term"]: r["id"] for r in rows}


def rule_constants(ruleset) -> list[str]:
    """All constant terms appearing in rule bodies/heads (encoded strings).
    These join the dictionary so head-constructed facts always decode, even
    when a constant never occurs in the input data."""
    consts: set[str] = set()
    for r in ruleset:
        for atom in tuple(r.body) + tuple(r.head):
            for t in atom:
                if isinstance(t, str):
                    consts.add(t)
    return sorted(consts)


def encode_ruleset(ruleset, const_ids: dict[str, int]):
    """Rewrite a RuleSet's string constants to dictionary long ids. Rule
    structure (vars, wildcards, names) is untouched, so the compiled plans
    are shape-identical — only the literal values (and join key widths)
    change."""
    from arachne_spark.rules import Rule, RuleSet

    def enc_atom(a):
        return tuple(const_ids[t] if isinstance(t, str) else t for t in a)

    rules = [
        Rule(r.name, tuple(enc_atom(a) for a in r.body), tuple(enc_atom(a) for a in r.head))
        for r in ruleset
    ]
    return RuleSet(rules)
