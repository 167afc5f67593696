"""Semi-naive Datalog fixpoint engine over Spark DataFrames.

This is the Spark-first replacement for the reference's entire Rete runtime
(RuleEngine.scala:50-95, ReteNodes.scala) — SURVEY.md O7. Instead of a triple-at-
a-time agenda (LIFO, RuleEngine.scala:56-63) the engine runs *rounds*:

    round r:  for each rule with k body atoms, evaluate k delta variants
              (delta at position i, facts-so-far at positions j<i, facts-as-of-
              previous-round at positions j>i — classic semi-naive, no duplicate
              re-derivation across variants)
              -> union instantiated heads across rules
              -> distinct                       (R11 set semantics)
              -> anti-join against accumulated facts   (R11 "only new to agenda")
              -> delta_{r+1}; empty delta => least fixpoint (R13)

Agenda order is irrelevant to the fixpoint (monotone rules + set semantics), so
the reference's LIFO agendas and child-activation ordering (C5/O6) have no
analogue — per-round `distinct` supersedes them.

Scale design (the reason this exists):
- DICTIONARY-ENCODED HOT LOOP (default): terms are hashed to 8-byte longs
  (dictionary.py, xxhash64 with verified injectivity), so every join key,
  shuffle row, and hash-table entry in the loop is 24 bytes instead of
  arbitrarily long IRI strings — the analogue of the reference's interned
  URIs / cached structural hashCodes (Triple.scala:11,83-87). Encoding is a
  pure projection (no join); decoding happens ONCE at the export boundary.
- delta is localCheckpoint'ed each round: truncates lineage AND gives AQE exact
  sizes, so small deltas broadcast automatically in the next round's joins.
- facts is a union of checkpointed deltas, re-checkpointed every few rounds to
  bound plan depth.
- driver-side rule/variant skipping (the unlinking analogue, O5/R7/R8): one
  bounded aggregate per round yields the rule-relevant predicate counts;
  a variant whose delta-position atom has a constant predicate absent from
  the delta is skipped without launching a job, and a whole rule is skipped
  when any constant-predicate body atom has zero facts overall.
- the per-round fact-dedup join scans only the facts slice whose predicate
  occurs in the round's derived set (a bounded runtime probe; bucket-file-
  pruned on the store) — a derived triple can only collide with a fact that
  shares its predicate, so the late-round dedup cost is O(|derivable-pred
  facts|), not O(|facts|).
- one compile path: each round's surviving variants compile to ONE SQL
  statement (plans/sqlgen.py) over the round's facts/delta/facts_old views,
  registered as global temp views so streaming micro-batches, whose
  relations live in per-batch session clones, resolve them too. Alpha
  selections (C2/O4) are WHERE conditions pushed into those scans; Catalyst
  reuses identical exchanges and subqueries across union branches.
- nonlinear rules (e.g. transitivity written r(x,y) ^ r(y,z) -> r(x,z)) double
  reachable path length per round, so rounds = O(log depth) out of the box.
- AQE (incl. skew-join splitting) is expected ON; hot-key skew on rdf:type /
  subClassOf object sides is further mitigated because TBox-side atom slices
  are small and broadcast (SURVEY O12).

One ingest pipeline: like the reference's single entry point for the first
insert and every later one (processTriples, RuleEngine.scala:50-65),
``materialize``, ``materialize_encoded`` and ``incremental`` all run
``_ingest``; a fresh run is the first batch over no prior facts. It decides
the representation (the prior result's, pre-encoded, or dict_encode/auto)
and then the storage once; checkpoints the batch's string distinct only
when a later step reads it again (the size decision, the dictionary, the
anti-join); builds the dictionary (``build_term_dict``) or its delta
(``dict_delta``); takes the seed delta (stage 0 itself, or the batch minus
the prior facts); writes or appends it to the store; and commits the seed
round's metrics line with the setup phases. ``_run`` only runs rounds;
``resume`` rebuilds its relations from the round parquet and calls it too.

Provenance (R12/R14): with ``store_derivations=True`` each NEW fact records
exactly one derivation — (rule, supporting body triples), emitted by a
second SQL statement over the same round views whose SELECTs also carry each
body atom's matched triple — matching the reference, which records only the FIRST derivation of a fact
(RuleEngine.scala:74-78 gates on ``memory.facts.add``), so recursive
expansion terminates. ``FixpointResult.explain_full`` reproduces
WorkingMemory.explain (WorkingMemory.scala:21-48): recursively expand derived
supporting facts, cartesian-combine per body, return
Explanation(asserted facts, rules) sets.

Resumability (north rule): with ``checkpoint_dir`` set, each round's delta is
written to parquet (``round=NNNN``) together with a ``metrics.jsonl`` line
carrying round number, delta sizes, wall time, per-rule skip stats, and
per-partition lineage, plus a ``meta.json`` recording the representation
(ids or strings), the dictionary salt and whether decode is strict;
``FixpointEngine.resume`` restarts from the last completed round.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field, replace
from functools import reduce
from itertools import product as _iter_product
from typing import Optional

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arachne_spark.dictionary import (
    build_term_dict,
    decode_ids,
    dict_delta,
    encode_ids,
    encode_ruleset,
    lookup_term_ids,
    rule_constants,
)
from arachne_spark.model import TRIPLE_COLS
from arachne_spark.plans.sqlgen import PB_BUCKETS, pb_sql, variant_selects
from arachne_spark.rules import Any_, Rule, RuleSet, Var

TRIPLE_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType(), False) for c in TRIPLE_COLS]
)


def _is_const(t) -> bool:
    """Atom term is a constant — an encoded string OR a dictionary long id."""
    return not isinstance(t, (Var, Any_))


def _empty_like(df: DataFrame) -> DataFrame:
    return df.sparkSession.createDataFrame([], df.schema)


# Predicate-bucketed facts store (SURVEY O1): the facts relation checkpoints
# to parquet PARTITIONED BY a hash bucket of the predicate, so every
# const-predicate alpha selection prunes to 1/PB_BUCKETS of the store's files
# at scan time instead of scanning all facts — this attacks the measured
# O(|facts|) per-round scan floor (~9 s/round at 40M facts, BENCH r2). The
# bucket count (plans/sqlgen.PB_BUCKETS) bounds directory fan-out for open
# predicate vocabularies; a constant's bucket is `sqlgen.pb_sql`.


def _pb_write_col(df: DataFrame) -> Column:
    """Bucket column for the write side; long ids are already uniform hashes
    (pmod directly), strings hash via xxhash64 first."""
    if isinstance(df.schema["p"].dataType, T.LongType):
        return F.pmod(F.col("p"), F.lit(PB_BUCKETS))
    return F.pmod(F.xxhash64(F.col("p")), F.lit(PB_BUCKETS))


@dataclass(frozen=True)
class _CompiledRules:
    """Per-representation compiled rule set: the same rules either with
    string constants (encoded terms) or with long-id constants."""

    rules: tuple[Rule, ...]
    gate_pairs: tuple       # const-(p,o) gate atoms (alpha-memory emptiness)
    gate_preds: tuple       # constant predicates across rule bodies

    @property
    def sig(self) -> tuple:
        """Gate-key signature: gate counts (and slice caches keyed by them)
        carry over between runs only under an identical signature."""
        return (self.gate_preds, self.gate_pairs)


@dataclass
class _Counts:
    """Exact counts a run starts from: gate counts and row totals of the
    first delta, of facts and of facts_old (empty on a fresh run), plus the
    TBox-slice value cache they validate. Callers observe them on the job
    that materializes each relation, or carry them from a prior result."""

    delta: dict
    delta_total: int
    facts: dict
    facts_total: int
    old: dict = field(default_factory=dict)
    old_total: int = 0
    lineage: list = field(default_factory=list)
    slices: dict = field(default_factory=dict)
    # the first delta's predicate set, when its checkpoint observed it
    pvals: Optional[frozenset] = None


def _compile_rules(ruleset) -> _CompiledRules:
    rules = tuple(ruleset)
    gate_pairs = tuple(
        sorted(
            {
                (a[1], a[2])
                for r in rules
                for a in r.body
                if _is_const(a[1]) and _is_const(a[2])
            }
        )
    )
    gate_preds = tuple(
        sorted({a[1] for r in rules for a in r.body if _is_const(a[1])})
    )
    return _CompiledRules(rules, gate_pairs, gate_preds)


@dataclass
class RoundMetrics:
    round: int
    delta_in: int
    delta_out: int
    facts_total: int
    seconds: float
    rules_skipped: int
    variants_skipped: int
    partition_lineage: list[int] = field(default_factory=list)
    # partition counts, read from checkpoint-only plans (no job): the facts
    # relation the round's joins read (the seed round: the one it built for
    # round 1) and the delta the round committed
    facts_partitions: int = 0
    delta_partitions: int = 0
    # wall seconds per round phase (derive/dedup/stats/commit jobs) — the
    # fine-grained S7 stage-timing channel; keys are stable names so
    # harnesses can aggregate the per-round driver floor across runs
    phases: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return dict(self.__dict__)


@dataclass
class FixpointResult:
    """The working memory at least fixpoint (WorkingMemory.scala:5-18 analogue).

    In dictionary-encoded mode (the default), ``facts``/``asserted`` are lazy
    DECODE plans (3 dictionary joins) over the checkpointed long-id stores
    ``facts_ids``/``asserted_ids`` — set operations and incremental seeds run
    on the ids; strings materialize only when exported or collected.

    An ``incremental()`` result also carries what the next batch continues
    from without recounting: the exact gate counts of ``facts`` with their
    signature and slice cache, and ``copy_partitions``, the partition count
    its in-memory facts copy got (the next batch copies into the same
    count, so it reads as many partitions as the first batch did)."""

    facts: DataFrame          # asserted ∪ derived (WorkingMemory.facts, N1)
    asserted: DataFrame
    rounds: int
    metrics: list[RoundMetrics]
    # (s,p,o,rule_name,round,body) — ONE derivation per derived fact (R12)
    derivations: Optional[DataFrame] = None
    facts_ids: Optional[DataFrame] = None
    asserted_ids: Optional[DataFrame] = None
    term_dict: Optional[DataFrame] = None
    salt: int = 0
    # pred_partitioned runs only: the raw store relation (with __pb/__rnd),
    # in the run's representation (ids or strings) — lets downstream
    # consumers (Reasoner.from_result) prune const-predicate scans to the
    # predicate's bucket files instead of scanning all facts
    facts_store: Optional[DataFrame] = None
    # caller-provided-vocab runs decode strictly EVERYWHERE: a coverage miss
    # must raise, never silently drop facts via decode's inner join — the
    # flag is recorded here so every decode on this result (not just
    # facts/asserted in _wrap_ids) inherits it (ADVICE r4 #1)
    strict_decode: bool = False
    # exact gate counts of ``facts`` (keys as in _delta_stats) under the
    # engine's gate-key signature ``gate_sig``, and the TBox-slice value
    # cache ({(key, pos): (alpha count, values)}). Facts are append-only
    # with set semantics and an incremental seed delta is disjoint from
    # ``facts``, so incremental() continues from prev counts + seed counts
    # exactly, and a cached slice whose count is unchanged is unchanged.
    gate_counts: Optional[dict] = None
    gate_sig: Optional[tuple] = None
    slice_cache: Optional[dict] = None
    # P of the last batch (None on a fresh run): max(defaultParallelism,
    # prev P or, on the first batch, prev facts' partition count). The
    # asserted and term_dict refreshes copy into the same P.
    copy_partitions: Optional[int] = None

    def inferred_only(self) -> DataFrame:
        """facts minus asserted — the --inferred-only export (S6, Main.scala:81).
        In id mode the anti-join runs on 8-byte keys; only the (smaller)
        result is decoded."""
        spo = list(TRIPLE_COLS)
        if self.facts_ids is not None:
            ids = self.facts_ids.join(self.asserted_ids, on=spo, how="left_anti")
            return decode_ids(ids, self.term_dict, strict=self.strict_decode)
        return self.facts.join(self.asserted, on=spo, how="left_anti")

    @property
    def facts_count(self) -> int:
        return self.metrics[-1].facts_total if self.metrics else -1

    # -- provenance (R12/R14) ------------------------------------------------

    def _triple_key(self, s: str, p: str, o: str) -> Optional[tuple]:
        """Encoded-string triple -> the derivations table's key (ids when in
        dictionary mode). None if a term is not in the dictionary (the triple
        can then only be an asserted/unknown leaf)."""
        if self.term_dict is None:
            return (s, p, o)
        rows = self.term_dict.filter(F.col("term").isin([s, p, o])).collect()
        tmap = {r["term"]: r["id"] for r in rows}
        if not all(t in tmap for t in (s, p, o)):
            return None
        return (tmap[s], tmap[p], tmap[o])

    def explain(self, s: str, p: str, o: str) -> list[dict]:
        """Direct derivation record(s) for one (encoded) triple: list of
        {'rule_name', 'round'} — at most one entry, matching the reference's
        first-derivation-only recording (RuleEngine.scala:74-78)."""
        if self.derivations is None:
            raise ValueError("materialized with store_derivations=False")
        key = self._triple_key(s, p, o)
        if key is None:
            return []
        rows = (
            self.derivations.filter(
                (F.col("s") == key[0]) & (F.col("p") == key[1]) & (F.col("o") == key[2])
            )
            .select("rule_name", "round")
            .collect()
        )
        return [r.asDict() for r in rows]

    def explain_full(
        self, s: str, p: str, o: str, max_depth: Optional[int] = None
    ) -> list[dict]:
        """Recursive explanations — the WorkingMemory.explain replica
        (R14, WorkingMemory.scala:21-48): expand each derived supporting fact
        through its derivation, cartesian-combine across body atoms, and
        return every Explanation as {'facts': set of ASSERTED leaf triples
        (encoded strings), 'rules': set of rule names}. A fact with no
        derivation is its own leaf Explanation (:27). Driver-side anchored
        EXPLICIT-STACK expansion with memoized per-fact lookups — unbounded
        depth by default, matching the reference (semi-naive derivations form
        a DAG: every body fact was derived in a strictly earlier round), and
        the query touches only the cone above one triple, never the whole
        derivations table. ``max_depth`` optionally caps the cone height."""
        if self.derivations is None:
            raise ValueError("materialized with store_derivations=False")
        key = self._triple_key(s, p, o)
        if key is None:
            return [{"facts": {(s, p, o)}, "rules": set()}]

        # Phase 1 — fetch the derivation cone LEVEL-BATCHED: one Spark job
        # per cone level (frontier isin-filter), not one per fact. The query
        # still touches only the cone above the probe triple, never the
        # whole derivations table.
        sep = chr(1)  # unambiguous joiner for composite keys
        keycol = F.concat_ws(
            sep, *[F.col(c).cast("string") for c in ("s", "p", "o")]
        )

        def _k(t):
            return sep.join(str(x) for x in t)

        dcache: dict = {}
        frontier = {key}
        while frontier:
            got: dict = {t: [] for t in frontier}
            flist = sorted(_k(t) for t in frontier)
            for i in range(0, len(flist), 10_000):  # bounded literal lists
                rows = (
                    self.derivations.filter(keycol.isin(flist[i : i + 10_000]))
                    .select("s", "p", "o", "rule_name", "body")
                    .collect()
                )
                for r in rows:
                    # setdefault: a string-mode literal containing the \x01
                    # joiner could alias a frontier key in the isin filter —
                    # the stray row must not crash the lookup (ADVICE r3)
                    got.setdefault((r["s"], r["p"], r["o"]), []).append(r)
            dcache.update(got)
            frontier = {
                tuple(b)
                for rs in got.values()
                for r in rs
                for b in r["body"]
                if tuple(b) not in dcache
            }

        def derivs(t):
            return dcache.get(t, [])

        # enter/exit DFS with an explicit stack. `ancestors` guards against
        # cyclic derivation data (impossible for a valid semi-naive table —
        # body facts come from strictly earlier rounds — but a corrupted
        # table must not hang): a back-edge to an ancestor is treated as a
        # leaf for that combination only.
        memo: dict = {}
        ancestors: set = set()
        stack: list[tuple] = [(key, 0, False)]
        while stack:
            t, depth, entered = stack.pop()
            if entered:
                out = []
                for r in derivs(t):
                    parts = [
                        memo.get(
                            tuple(b),
                            [{"facts": frozenset([tuple(b)]), "rules": frozenset()}],
                        )
                        for b in r["body"]
                    ]
                    for combo in _iter_product(*parts):
                        facts = frozenset().union(*[c["facts"] for c in combo])
                        rules = frozenset([r["rule_name"]]).union(
                            *[c["rules"] for c in combo]
                        )
                        out.append({"facts": facts, "rules": rules})
                uniq = {(e["facts"], e["rules"]): e for e in out}
                memo[t] = list(uniq.values())
                ancestors.discard(t)
                continue
            if t in memo or t in ancestors:
                continue
            if max_depth is not None and depth > max_depth:
                raise RecursionError("explanation depth exceeded")
            rows = derivs(t)
            if not rows:
                memo[t] = [{"facts": frozenset([t]), "rules": frozenset()}]
                continue
            ancestors.add(t)
            stack.append((t, depth, True))
            for r in rows:
                for b in r["body"]:
                    bt = tuple(b)
                    if bt not in memo:
                        stack.append((bt, depth + 1, False))

        expls = memo[key]
        if self.term_dict is not None:
            ids = sorted({i for e in expls for f in e["facts"] for i in f})
            rmap = {
                r["id"]: r["term"]
                for r in self.term_dict.filter(F.col("id").isin(ids)).collect()
            }
            return [
                {
                    "facts": {tuple(rmap[i] for i in f) for f in e["facts"]},
                    "rules": set(e["rules"]),
                }
                for e in expls
            ]
        return [{"facts": set(e["facts"]), "rules": set(e["rules"])} for e in expls]


def empty_triples(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], TRIPLE_SCHEMA)


class FixpointEngine:
    """Compile once, reuse for any number of datasets (README.md:9;
    RuleEngine.scala:8-9 immutable network / per-dataset WorkingMemory:50-51).
    The engine holds the validated RuleSet and per-materialization state lives
    in the FixpointResult.

    ``dict_encode`` selects the hot-loop representation: True runs on 8-byte
    term ids (see dictionary.py), False directly on encoded term strings
    (results are identical — differential-tested), and "auto" (default)
    counts the input once and uses ids at/above ``dict_threshold`` rows —
    tiny inputs don't amortize the dictionary's fixed jobs, huge ones need
    the 24-byte shuffle rows."""

    def __init__(
        self,
        spark: SparkSession,
        ruleset: RuleSet,
        *,
        store_derivations: bool = False,
        checkpoint_dir: Optional[str] = None,
        facts_refresh: int = 8,
        broadcast_rows: int = 200_000,
        max_rounds: int = 10_000,
        dict_encode: bool | str = "auto",
        dict_threshold: int = 1_000_000,
        pred_partitioned: bool | str = "auto",
        store_threshold: int = 10_000_000,
        store_max_files: int = 2_048,
        track_lineage: bool = False,
    ) -> None:
        self.spark = spark
        self.ruleset = ruleset
        self.store_derivations = store_derivations
        self.checkpoint_dir = checkpoint_dir
        # re-checkpoint the accumulated facts union every N rounds (bounds
        # plan width on deep fixpoints; individual deltas are always
        # checkpointed, so lineage depth is bounded regardless)
        self.facts_refresh = facts_refresh
        # derived sets at or below this row count dedup against facts via
        # broadcast semi/anti passes instead of a full facts shuffle
        self.broadcast_rows = broadcast_rows
        self.max_rounds = max_rounds
        self.dict_encode = dict_encode
        self.dict_threshold = dict_threshold
        # SURVEY O1: keep the facts relation as parquet partitioned by a
        # predicate hash bucket under checkpoint_dir — const-predicate alpha
        # scans then prune to 1/PB_BUCKETS of the files. Requires
        # checkpoint_dir; per-round cost is an O(|delta|) append. "auto"
        # (default) mirrors dict_encode="auto": inputs at/above
        # ``store_threshold`` rows take the store (the measured ~10M-fact
        # crossover, BENCH.md §4 — below it the in-memory localCheckpoint
        # store scans faster than parquet decode; above it the store's
        # partition pruning wins AND memory residency stops being an
        # option). ``store_max_files`` bounds file accumulation across long
        # incremental histories via compaction at batch boundaries.
        self.pred_partitioned = (
            pred_partitioned if checkpoint_dir is not None else False
        )
        self.store_threshold = store_threshold
        self.store_max_files = store_max_files
        # per-round partition-lineage histograms need a grouped aggregate
        # job per round; with tracking off (default) the round's exact total
        # + gate counts ride the dedup job's Observation instead — one fewer
        # scheduler round-trip per round. scaling_bench turns tracking on
        # for its rows-per-partition evidence tables.
        self.track_lineage = track_lineage
        self._string_ctx = _compile_rules(ruleset)
        self._const_terms = rule_constants(ruleset)
        self._id_ctx_cache: dict[int, _CompiledRules] = {}
        # test hook: when a list, each round appends the PHYSICAL plan of
        # its derived union before checkpointing (plan-shape regressions —
        # e.g. a small delta losing its broadcast hint — only show up in
        # the physical join, never in the optimized plan)
        self.debug_plan_sink: Optional[list] = None

    def _ctx_for_salt(self, salt: int) -> _CompiledRules:
        """Compiled rules with long-id constants for a given dictionary salt.
        One tiny Spark job per new salt (JVM-exact xxhash64 of the rule
        constants); cached — the 'compile once, reuse' contract holds because
        salt 0 serves essentially every dataset."""
        if salt not in self._id_ctx_cache:
            const_ids = lookup_term_ids(self.spark, self._const_terms, salt)
            self._id_ctx_cache[salt] = _compile_rules(
                encode_ruleset(self.ruleset, const_ids)
            )
        return self._id_ctx_cache[salt]

    def _delta_stats(
        self, delta: DataFrame, ctx: _CompiledRules
    ) -> tuple[dict, int, list[int]]:
        """One job -> (alpha counts, total, per-partition lineage). Runs only
        under lineage tracking; otherwise Observations take the same counts.

        Alpha counts drive rule/variant skipping — the Rete left/right
        unlinking analogue (O5/R7/R8, ReteNodes.scala:88-93,153-158): a key
        ("p", p) counts rows per rule-relevant predicate, and a key
        ("po", p, o) counts the const-(p,o) gate atoms the rule set actually
        contains (e.g. (?p rdf:type owl:SymmetricProperty)) — exactly the
        alpha memories whose emptiness lets whole rules be skipped without
        launching a single job. The partition histogram is the per-partition
        lineage the north rule asks for.

        BOUNDED: both grouping keys are gated to the rule set's constant
        predicates / (p,o) gate pairs, so collect size is
        O(partitions x |rule consts|) regardless of the data's predicate
        vocabulary — open RDF with millions of distinct p collects the same
        handful of rows."""
        if ctx.gate_pairs:
            gate = reduce(
                lambda a, b: a | b,
                [
                    (F.col("p") == p) & (F.col("o") == o)
                    for (p, o) in ctx.gate_pairs
                ],
            )
            gate_o = F.when(gate, F.col("o"))
        else:
            gate_o = F.lit(None).cast(delta.schema["o"].dataType)
        if ctx.gate_preds:
            gate_p = F.when(F.col("p").isin(list(ctx.gate_preds)), F.col("p"))
        else:
            gate_p = F.lit(None).cast(delta.schema["p"].dataType)
        rows = (
            delta.groupBy(
                F.spark_partition_id().alias("pid"), gate_p.alias("gp"), gate_o.alias("go")
            )
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        counts: dict = {}
        lineage: dict[int, int] = {}
        total = 0
        for r in rows:
            total += r["cnt"]
            if r["gp"] is not None:
                k = ("p", r["gp"])
                counts[k] = counts.get(k, 0) + r["cnt"]
            if r["go"] is not None:
                kk = ("po", r["gp"], r["go"])
                counts[kk] = counts.get(kk, 0) + r["cnt"]
            lineage[r["pid"]] = lineage.get(r["pid"], 0) + r["cnt"]
        return counts, total, [lineage[k] for k in sorted(lineage)]

    @staticmethod
    def _gate_obs_aggs(ctx: Optional[_CompiledRules]) -> tuple[list, list]:
        """Observation aggregates equivalent to _delta_stats' gate counts:
        one exact count + one conditional sum per gate key (both bounded by
        the RULE SET's constant vocabulary, never the data's). EXACTNESS:
        the conditional sums partition the same rows _delta_stats groups, so
        every decision input — total, per-gate-key counts — is identical.
        ``ctx=None`` yields the count alone."""
        aggs = [F.count(F.lit(1)).alias("n")]
        keys: list[tuple] = []
        for p in ctx.gate_preds if ctx else ():
            keys.append(("p", p))
            aggs.append(
                F.sum((F.col("p") == F.lit(p)).cast("long")).alias(
                    f"g{len(keys) - 1}"
                )
            )
        for p, o in ctx.gate_pairs if ctx else ():
            keys.append(("po", p, o))
            aggs.append(
                F.sum(
                    ((F.col("p") == F.lit(p)) & (F.col("o") == F.lit(o))).cast(
                        "long"
                    )
                ).alias(f"g{len(keys) - 1}")
            )
        return aggs, keys

    @staticmethod
    def _gate_vals(vals, keys: list) -> tuple[dict, int]:
        """(nonzero gate counts, row count) from observed aggregate values."""
        preds = {kk: vals[f"g{i}"] for i, kk in enumerate(keys) if vals[f"g{i}"]}
        return preds, vals["n"]

    @staticmethod
    def _with_pred_set(obs_aggs: tuple[list, list]) -> tuple[list, list]:
        """``obs_aggs`` plus the observed relation's predicate set. Only
        for relations known to hold at most PRED_SET_CAP rows, so the set
        is bounded before the job runs."""
        return obs_aggs[0] + [F.collect_set("p").alias("pv")], obs_aggs[1]

    def _observed_checkpoint(
        self, plan: DataFrame, obs_aggs: tuple[list, list]
    ) -> tuple[DataFrame, dict, int, Optional[frozenset]]:
        """Eager localCheckpoint of ``plan`` whose own job also yields the
        exact gate counts and row count, via an Observation, and the
        predicate set when ``obs_aggs`` asks for it (None if not, or empty)."""
        obs = Observation()
        df = plan.observe(obs, *obs_aggs[0]).localCheckpoint(eager=True)
        vals = obs.get
        pvals = frozenset(vals.get("pv", ())) or None
        return (df, *self._gate_vals(vals, obs_aggs[1]), pvals)

    @staticmethod
    def _nparts(df: DataFrame) -> int:
        """Partition count of a plan over checkpoints or file scans: the
        planner reads it, no job runs (a plan with an Exchange would run
        its stages under AQE, so never pass one)."""
        return df.rdd.getNumPartitions()

    @staticmethod
    def _balanced_copy(df: DataFrame, parts: int) -> DataFrame:
        """One checkpoint of ``df`` in exactly ``parts`` round-robin
        partitions (a user-set count, which AQE never coalesces): a copy of
        a union of a large relation and small pieces keeps no tiny
        partitions, and every partition holds the same share of rows."""
        return df.repartition(parts).localCheckpoint(eager=True)

    def _gate_pass(self, df: DataFrame, ctx: _CompiledRules) -> tuple[dict, int]:
        """One aggregate pass over an already materialized relation, for
        counts no earlier job could observe."""
        aggs, keys = self._gate_obs_aggs(ctx)
        return self._gate_vals(df.agg(*aggs).first(), keys)

    def _commit_delta(
        self, plan: DataFrame, ctx: _CompiledRules, obs_aggs: tuple[list, list]
    ) -> tuple[DataFrame, dict, int, Optional[frozenset], list[int]]:
        """Checkpoint the round's new delta and return (delta, gate counts,
        exact total, predicate set if ``obs_aggs`` observes it, lineage).
        Lineage tracking keeps the separate grouped stats job (per-partition
        histogram needs grouping; ``obs_aggs`` then holds the count and
        predicate set only); otherwise the counts fold into the checkpoint's
        own job via an Observation — exact either way (see _gate_obs_aggs)."""
        if self.track_lineage:
            nd, _, _, pv = self._observed_checkpoint(plan, obs_aggs)
            preds, total, lineage = self._delta_stats(nd, ctx)
            return nd, preds, total, pv, lineage
        return (*self._observed_checkpoint(plan, obs_aggs), [])

    @staticmethod
    def _atom_key(atom) -> Optional[tuple]:
        """The alpha-count key this atom's emptiness can be checked against."""
        p, o = atom[1], atom[2]
        p_const, o_const = _is_const(p), _is_const(o)
        if p_const and o_const:
            return ("po", p, o)
        if p_const:
            return ("p", p)
        return None

    def _rule_keys(self, rule: Rule) -> list[Optional[tuple]]:
        return [self._atom_key(a) for a in rule.body]

    # -- value-level alpha propagation (driver-side semi-join pruning for
    # var-predicate atoms). A variable in PREDICATE position defeats the
    # per-predicate count skipping above: the atom matches every fact, so
    # e.g. prp-trp's (?x ?p ?y) forces a full-facts scan each round even
    # when the only transitive property is one IRI the delta never carries
    # (measured: the two prp-trp variants were the whole cost of the
    # zero-output fixpoint-confirmation round — 12-46 s at 40-80M facts).
    # When that same variable also appears in s/o position of a const-
    # predicate atom (the property-characteristic TBox pattern: (?p rdf:type
    # owl:TransitiveProperty), (?p rdfs:subPropertyOf ?q), (?r owl:chainFirst
    # ?p) ...), the atom's alpha slice is TBox-sized, so the driver collects
    # its distinct values ONCE (cache invalidated by the slice's exact alpha
    # count, which only grows) and then
    #   (a) SKIPS a delta variant outright when the delta's own predicate
    #       set is disjoint from the allowed values, and
    #   (b) pushes `p IN (values)` into the facts/facts_old side of every
    #       surviving var-predicate atom — which partition-prunes the
    #       __pb-bucketed store to the matching buckets instead of scanning
    #       all facts.
    # This is the distributed analogue of the reference's per-predicate
    # alpha index dispatch (ReteNodes.scala:88-93): Rete never scans the
    # whole working memory for (?x ?p ?y) because tokens arrive pre-indexed
    # by predicate; here the driver narrows the scan declaratively instead.
    PRED_SET_CAP = 1024  # max |values| usable as an IN filter / skip set
    PRED_SLICE_COLLECT_ROWS = 65536  # collect only TBox-small alpha slices
    PRED_PB_CAP = 48  # max OR-chain length for __pb partition pruning
    pred_values_rows = 100_000_000  # delta pred-set job gate (one O(delta) scan)

    @staticmethod
    def _var_pred_constraints(rule: Rule) -> dict[int, list[tuple]]:
        """Per body-atom index with a VARIABLE predicate: the list of
        (alpha_key, 's'|'o') slices of OTHER body atoms that constrain the
        variable's values. Empty list = unconstrained (e.g. eq-rep-s)."""
        out: dict[int, list[tuple]] = {}
        for j, atom in enumerate(rule.body):
            v = atom[1]
            if _is_const(v) or isinstance(v, Any_):
                continue
            cons: list[tuple] = []
            for m, am in enumerate(rule.body):
                if m == j:
                    continue
                kk = FixpointEngine._atom_key(am)
                if kk is None:
                    continue
                if am[0] == v:
                    cons.append((kk, "s"))
                if am[2] == v:
                    cons.append((kk, "o"))
            out[j] = cons
        return out

    def _vp_cons(self, ctx: _CompiledRules) -> tuple[list, bool]:
        """Per-rule var-predicate constraint shapes, and whether any rule
        has a CONSTRAINED var-predicate atom — the only reader of a delta's
        predicate set. Rule sets without one (e.g. a plain transitive
        closure, all predicates constant) never need that set, so no job or
        observation computes it."""
        cons = [self._var_pred_constraints(r) for r in ctx.rules]
        return cons, any(bool(c) for per_rule in cons for c in per_rule.values())

    def _warm_slice_cache(
        self, facts: DataFrame, vp_cons: list, totals: dict, cache: dict
    ) -> None:
        """Collect every stale-but-eligible TBox-slice value set in ONE
        single-pass job — one scan + one map-side-partial aggregate instead
        of a collect per slice (~10 scheduler round trips at round 1 on a
        typical OWL-RL rule set). Later rounds, and incremental batches that
        carry the cache, find every count unchanged and skip the job
        entirely. Collect size stays bounded: only slices whose exact
        alpha count is <= PRED_SLICE_COLLECT_ROWS are included, so the
        per-tag collect_set state is capped by construction."""
        if self.PRED_SLICE_COLLECT_ROWS < 0:
            return
        needed: list[tuple] = []
        seen: set = set()
        for per_rule in vp_cons:
            for cons in per_rule.values():
                for kk, pos in cons:
                    if (kk, pos) in seen:
                        continue
                    seen.add((kk, pos))
                    cnt = totals.get(kk, 0)
                    hit = cache.get((kk, pos))
                    if hit is not None and hit[0] == cnt:
                        continue
                    if cnt == 0:
                        cache[(kk, pos)] = (0, frozenset())
                    elif cnt <= self.PRED_SLICE_COLLECT_ROWS:
                        needed.append((kk, pos, cnt))
        if not needed:
            return
        preds = {kk[1] for kk, _, _ in needed}
        rel = facts
        if "__pb" in facts.columns:
            if len(preds) <= self.PRED_PB_CAP:
                pb = reduce(
                    lambda a, b: a | b,
                    [F.col("__pb") == F.expr(pb_sql(p)) for p in preds],
                )
                rel = rel.filter(pb)
            rel = rel.select(*TRIPLE_COLS)
        rel = rel.filter(F.col("p").isin(list(preds)))
        sel = [
            F.when(
                (F.col("p") == F.lit(kk[1]))
                & (
                    (F.col("o") == F.lit(kk[2]))
                    if kk[0] == "po"
                    else F.lit(True)
                ),
                F.struct(
                    F.lit(i).alias("t"),
                    (F.col("s") if pos == "s" else F.col("o")).alias("v"),
                ),
            )
            for i, (kk, pos, _) in enumerate(needed)
        ]
        rows = (
            rel.select(F.explode(F.array(*sel)).alias("e"))
            .where(F.col("e").isNotNull())
            .groupBy(F.col("e.t").alias("t"))
            .agg(F.collect_set(F.col("e.v")).alias("vs"))
            .collect()
        )
        got = {r["t"]: r["vs"] for r in rows}
        for i, (kk, pos, cnt) in enumerate(needed):
            vs = got.get(i, [])
            vals = frozenset(vs) if len(vs) <= self.PRED_SET_CAP else None
            cache[(kk, pos)] = (cnt, vals)

    def _allowed_preds(
        self, cons: list[tuple], totals: dict, cache: dict
    ) -> Optional[frozenset]:
        """Intersection of the available constraint slices' value sets (a
        safe superset of the variable's matches — using any subset of the
        constraints only widens it). None = no usable constraint.

        EXACTNESS (proof audit, VERDICT r4 #3): every constraint in ``cons``
        is about the SAME variable (built per-variable by
        _var_pred_constraints), so a feasible binding must appear in every
        constraining slice — intersection is sound. Each slice set is
        collected over the full ``facts`` relation (_warm_slice_cache),
        while the constraining atom may be joined against a SUB-relation
        (delta or facts_old, both subsets of facts) — a superset source only
        widens the result. A cached set is used only while its recorded
        alpha count equals the slice's exact count: facts are append-only
        with set semantics, so an unchanged count proves an unchanged slice
        (slices too big to collect have no usable entry)."""
        if self.PRED_SLICE_COLLECT_ROWS < 0:
            return None  # pruning disabled (tests' sensitivity guard)
        out: Optional[frozenset] = None
        for kk, pos in cons:
            hit = cache.get((kk, pos))
            if hit is None or hit[0] != totals.get(kk, 0) or hit[1] is None:
                continue
            out = hit[1] if out is None else (out & hit[1])
        return out

    def _delta_pred_values(
        self, delta: DataFrame, n_rows: int
    ) -> Optional[frozenset]:
        """The delta's distinct predicate set (bounded: one O(|delta|) scan
        of an already-checkpointed delta, collect capped at PRED_SET_CAP)."""
        if not (0 < n_rows <= self.pred_values_rows):
            return None
        rows = (
            delta.select("p").distinct().limit(self.PRED_SET_CAP + 1).collect()
        )
        if len(rows) > self.PRED_SET_CAP:
            return None
        return frozenset(r[0] for r in rows)

    def _write_meta(self, *, ids: bool, salt: int, strict: bool) -> None:
        """Record the checkpoint representation. The string path writes
        ids=false explicitly so a dir reused across modes can never resume
        long-id parquets with the wrong decoder (or vice versa); ``strict``
        carries strict decode (caller vocabulary, pre-encoded input) across
        resume()."""
        if not self.checkpoint_dir:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        with open(
            os.path.join(self.checkpoint_dir, "meta.json"), "w", encoding="utf-8"
        ) as f:
            json.dump({"ids": ids, "salt": salt, "strict": strict}, f)

    def _clear_stale_checkpoint(self) -> None:
        """A fresh materialize() under a reused checkpoint_dir starts at
        round 0: remove per-round deltas, derivation records, incremental
        ``terms/`` sidecars, the bucketed store and metrics left by any
        previous run (ADVICE r3: a later resume() would otherwise union
        stale terms into the rebuilt dictionary and reload unrelated
        derivation records)."""
        cd = self.checkpoint_dir
        if not cd or not os.path.isdir(cd):
            return
        for d in os.listdir(cd):
            if d.startswith(("round=", "derivs=")) or d in ("terms", "facts_by_p"):
                shutil.rmtree(os.path.join(cd, d), ignore_errors=True)
        mpath = os.path.join(cd, "metrics.jsonl")
        if os.path.exists(mpath):
            os.remove(mpath)

    def _resolve_store(self, n_rows: Optional[int]) -> bool:
        """Resolve pred_partitioned="auto" by input size (the measured ~10M
        crossover, BENCH.md §4), mirroring dict_encode="auto"."""
        if self.pred_partitioned == "auto":
            return n_rows is not None and n_rows >= self.store_threshold
        return bool(self.pred_partitioned)

    def materialize(
        self,
        asserted: DataFrame,
        *,
        row_hint: Optional[int] = None,
        vocab: Optional[DataFrame] = None,
    ) -> FixpointResult:
        """Run to least fixpoint (processTriples, RuleEngine.scala:50-65).

        ``row_hint``: approximate input row count, when the caller already
        knows it (e.g. just counted a staged table) — skips the auto-mode
        sizing scan. Only feeds threshold decisions, never correctness.

        ``vocab``: caller-provided term universe (one string column) that
        must cover every term in ``asserted`` — typically the union of the
        pipeline's dimension tables (entity dictionary, file inventory,
        TBox constants), which are far thinner than the fact stream. Skips
        the dictionary build's per-column distincts over the full input (2
        high-cardinality fat-string shuffles); decode turns strict, so a
        coverage violation raises instead of dropping facts. Ignored in
        string mode."""
        return self._ingest(None, asserted, n=row_hint, vocab=vocab)

    def build_dictionary(
        self, vocab: DataFrame, *, start_salt: int = 0
    ) -> tuple[int, DataFrame]:
        """Collision-checked term dictionary for the pre-encoded path:
        caller vocabulary + THIS ruleset's constants (heads only rearrange
        body bindings and rule constants, so input terms + constants cover
        every derivable term). Call this FIRST — the returned salt is what
        the id-emitting plan (linked_to_triples(salt=...)) must hash with —
        then pass both to ``materialize_encoded``."""
        return build_term_dict(
            self.spark, None, self._const_terms, vocab=vocab,
            start_salt=start_salt,
        )

    def materialize_encoded(
        self,
        asserted_ids: DataFrame,
        *,
        term_dict: DataFrame,
        salt: int = 0,
        row_hint: Optional[int] = None,
    ) -> FixpointResult:
        """Fixpoint over PRE-ENCODED long-id triples (s,p,o all long).

        The 100 TB shape for pipelines that construct their triples
        programmatically (KG extraction): the producing plan wraps each term
        expression in ``term_id_col`` and never materializes the fat IRI
        strings at all — no string staging table, no separate encode
        projection, and the round-0 distinct shuffles 24-byte rows. The
        caller owns the dictionary contract:

        - ``term_dict`` comes from ``build_term_dict(..., vocab=...)`` over a
          vocabulary covering every term the ids were hashed from (collision
          checking happens there, fixing ``salt`` BEFORE the triples plan is
          built);
        - ids must be ``xxhash64(term[, salt])`` of the encoded term strings
          (``term_id_col`` — the engine hashes its rule constants the same
          way, so constants meet data on equal ids).

        Decode is strict: a vocabulary coverage miss raises at export rather
        than silently dropping facts."""
        return self._ingest(
            None, asserted_ids, n=row_hint, encoded=(term_dict, salt)
        )

    def _wrap_ids(
        self,
        raw: FixpointResult,
        term_dict: DataFrame,
        salt: int,
        strict: bool,
    ) -> FixpointResult:
        return replace(
            raw,
            facts=decode_ids(raw.facts, term_dict, strict=strict),
            asserted=decode_ids(raw.asserted, term_dict, strict=strict),
            facts_ids=raw.facts,
            asserted_ids=raw.asserted,
            term_dict=term_dict,
            salt=salt,
            strict_decode=strict,
        )

    # derived sets with at most this many distinct predicates prune the
    # dedup join's facts side to the matching predicate slice; the probe is
    # one bounded job (distinct + limit over the checkpointed derived set)
    DEDUP_PRED_CAP = 1024
    # below this many accumulated facts the probe job costs more than the
    # unpruned scan it would save (store mode always prunes: file skipping
    # pays regardless)
    dedup_prune_rows = 2_000_000
    # partition-prune the bucketed store only for small predicate sets — a
    # longer OR-chain over __pb stops paying for its planning cost because
    # most of the 64 buckets are touched anyway
    DEDUP_PB_CAP = 64

    def _dedup_facts_side(
        self,
        facts: DataFrame,
        dd: DataFrame,
        spo: list,
        static_preds: Optional[set] = None,
    ) -> DataFrame:
        """The facts relation pruned for the round's fact-dedup join.

        A derived triple can only equal an existing fact sharing its
        predicate, so the facts side needs only rows whose ``p`` occurs in
        the derived set ``dd``. When every fired head atom this round has a
        CONSTANT predicate the driver already knows a superset of dd's
        predicates from the rule heads alone (``static_preds``) and no probe
        job runs — the common OWL-RL case. Heads with predicate VARIABLES
        (owl:inverseOf-style rules) make the set data-dependent, so those
        rounds probe ``dd`` at runtime. On the predicate-bucketed store the
        same set prunes to the matching ``__pb`` partition files, turning
        the late-round O(|facts|) dedup scan into O(|facts_p∈heads|).
        Unbounded-vocabulary safety: the probe is ``limit``-capped; past the
        cap the full relation is used unchanged.
        """
        if static_preds is not None:
            preds = list(static_preds)
        else:
            preds = [
                r["p"]
                for r in dd.select("p")
                .distinct()
                .limit(self.DEDUP_PRED_CAP + 1)
                .collect()
            ]
        if not preds or len(preds) > self.DEDUP_PRED_CAP:
            return facts.select(*spo) if "__pb" in facts.columns else facts
        cond = F.col("p").isin(preds)
        if "__pb" in facts.columns and len(preds) <= self.DEDUP_PB_CAP:
            cond = cond & reduce(
                lambda a, b: a | b,
                [F.col("__pb") == F.expr(pb_sql(p)) for p in preds],
            )
        return facts.filter(cond).select(*spo)

    def _anti_small(
        self, small: DataFrame, big: DataFrame, n_small: int, spo: list
    ) -> DataFrame:
        """``small`` minus ``big`` with ``big`` STREAMED map-only when the
        small side fits a broadcast: semi-join finds the (few) small rows big
        already has, anti against that set yields the rest. The naive
        ``small.join(big, how="left_anti")`` puts the billions-row store on
        the build/shuffle side — the same join-physical bug fixed in
        dict_delta (VERDICT r3 wrong #1). Falls back to the shuffled anti for
        large batches."""
        if 0 < n_small <= self.broadcast_rows:
            # lazy `seen`: its broadcast build runs the semi-join inline
            # (one job at the caller's action instead of an eager checkpoint
            # + a second job); |seen| <= n_small keeps the broadcast bounded
            seen = big.join(F.broadcast(small), on=spo, how="left_semi")
            return small.join(F.broadcast(seen), on=spo, how="left_anti")
        return small.join(big, on=spo, how="left_anti")

    def incremental(
        self, prev: FixpointResult, new_triples: DataFrame
    ) -> FixpointResult:
        """Insert-only incremental maintenance: new asserted triples seed the
        delta against an ALREADY-materialized store — the reuse pattern the
        reference's Rete gives for free (new triples re-enter the same
        network, README.md:9; SURVEY §2.6 streaming note). Semi-naive rounds
        then close the gap; unchanged facts are never recomputed, nor
        re-counted: the run continues from ``prev``'s exact gate counts and
        TBox-slice cache (see FixpointResult.gate_counts)."""
        return self._ingest(prev, new_triples)

    def _ingest(
        self,
        prev: Optional[FixpointResult],
        batch: DataFrame,
        *,
        n: Optional[int] = None,
        vocab: Optional[DataFrame] = None,
        encoded: Optional[tuple[DataFrame, int]] = None,
    ) -> FixpointResult:
        """The one ingest pipeline behind materialize, materialize_encoded
        and incremental: a fresh run is the first batch over no prior facts
        (``prev=None``). Prepare decides the representation (``prev``'s,
        pre-encoded, or dict_encode/auto), then the storage; stage 0 is the
        batch's distinct; the seed is that distinct on a fresh run and its
        anti-join against ``prev``'s facts on a batch; the store step writes
        or appends it; the seed round's metrics line, carrying the setup
        phases, commits last. ``_run`` then only runs rounds."""
        spo = list(TRIPLE_COLS)
        rows = batch.select(*spo)
        count_only = self._gate_obs_aggs(None)
        sd = os.path.join(self.checkpoint_dir or "", "facts_by_p")
        ph: dict = {}
        clock = [time.time()]

        def mark(name: str) -> None:
            """Record one setup phase's wall seconds for the seed round."""
            now = time.time()
            ph[name] = round(now - clock[0], 4)
            clock[0] = now

        if prev is not None:
            # checkpoint the incoming batch so the result never holds
            # micro-batch lineage (a foreachBatch DataFrame is only valid
            # inside its batch); the dictionary delta and both anti-joins
            # read it again
            rows, _, n_new, _ = self._observed_checkpoint(
                rows.distinct(), count_only
            )
            mark("stage0_distinct")
            ids, salt, strict = prev.facts_ids is not None, prev.salt, prev.strict_decode
            if ids:
                new_dict_rows = dict_delta(prev.term_dict, rows, salt)
                term_dict = prev.term_dict.unionByName(new_dict_rows)
                if self.checkpoint_dir:
                    # persist the batch's NEW terms so resume() can decode
                    # facts whose terms never appear in the original input
                    os.makedirs(self.checkpoint_dir, exist_ok=True)
                    new_dict_rows.write.mode("append").parquet(
                        os.path.join(self.checkpoint_dir, "terms")
                    )
                mark("dict_build")
                rows = encode_ids(rows, salt).localCheckpoint(eager=True)
                mark("encode")
                prev_facts, prev_asserted = prev.facts_ids, prev.asserted_ids
            else:
                prev_facts, prev_asserted = prev.facts, prev.asserted
            ctx = self._ctx_for_salt(salt) if ids else self._string_ctx
            # seed delta: new triples the store doesn't have. Small batches
            # (the streaming norm) stream the full facts store map-only via
            # the two-pass broadcast; the Observation folds the delta's count
            # and gate counts into the checkpoint job, lineage tracking too,
            # and the predicate set round 1 prunes by when the batch (a
            # superset of the delta) is known to hold at most PRED_SET_CAP
            # rows
            seed_obs = self._gate_obs_aggs(ctx)
            if n_new <= self.PRED_SET_CAP and self._vp_cons(ctx)[1]:
                seed_obs = self._with_pred_set(seed_obs)
            delta, delta_preds, d, pvals = self._observed_checkpoint(
                self._anti_small(rows, prev_facts, n_new, spo), seed_obs
            )
            base = prev.facts_count + d
            # EXACT: the seed delta is disjoint from prev_facts, so facts'
            # counts are prev's plus the delta's. A prev with another gate-key
            # signature (rule set or salt) costs one aggregate pass.
            if prev.gate_sig == ctx.sig and prev.gate_counts is not None:
                prev_counts, slices = prev.gate_counts, dict(prev.slice_cache or {})
            else:
                (prev_counts, _), slices = self._gate_pass(prev_facts, ctx), {}
            totals = dict(prev_counts)
            for kk, cnt in delta_preds.items():
                totals[kk] = totals.get(kk, 0) + cnt
            counts = _Counts(
                delta_preds, d, totals, base, prev_counts, prev.facts_count,
                slices=slices, pvals=pvals,
            )
            # batch k reads as many facts partitions as batch 1: the copy
            # below lands in P partitions, P never below the parallelism
            # and never below what the previous copy (or, on the first
            # batch, the fresh result's facts) had
            parts = max(
                self.spark.sparkContext.defaultParallelism,
                prev.copy_partitions or self._nparts(prev_facts),
            )
            mark("seed")
            store = self._resolve_store(base)
            # continue round numbering after the previous run so a shared
            # checkpoint_dir accumulates a consistent delta sequence
            round0 = prev.metrics[-1].round + 1 if prev.metrics else 1
            if store:
                facts, prev_facts, prev_asserted = self._store_batch(
                    sd, round0, prev_facts, prev_asserted, prev.facts_count, delta
                )
                mark("store_init")
            else:
                # in memory the copy pays for itself: rounds over a lazy
                # union of every delta since the last refresh measured
                # slower (BENCH.md). A plain checkpoint of the union would
                # keep every partition of it, adding the seed's and each
                # round delta's per batch, and every later variant, dedup
                # scan and facade call starts a task per partition; one
                # round-robin copy into P partitions keeps the count fixed
                # and the partitions even (BENCH.md, "Balanced batch copy")
                facts = self._balanced_copy(prev_facts.unionByName(delta), parts)
                mark("facts_union")
            # asserted stays a SET: drop re-asserted triples before the union
            asserted = prev_asserted.unionByName(
                self._anti_small(rows, prev_asserted, n_new, spo)
            )
            facts_old, metrics = prev_facts, list(prev.metrics)
        else:
            self._clear_stale_checkpoint()
            if encoded is not None:
                (term_dict, salt), ids, strict = encoded, True, True
            else:
                term_dict, salt, ids = None, 0, self.dict_encode
                strict = vocab is not None
            staged = (
                ids == "auto"
                and n is None
                and self.pred_partitioned is False
                and vocab is None
            )
            if staged:
                # Size-unknown auto mode without a store: fold the sizing
                # count into the stage-0 distinct's own job (Observation)
                # instead of a separate count pass — the distinct must run
                # either way, and the threshold is a heuristic, so comparing
                # the DISTINCT count against it is as principled as the raw
                # count. Below the threshold the checkpointed distinct IS the
                # string-mode facts relation; at/above it the dictionary
                # builds from it — per-column distincts over fewer rows than
                # the raw input — and encode is a pure projection whose
                # output is already distinct. Gate counts wait for the
                # representation n decides. Store runs keep the explicit
                # count: the store write needs the distinct LAZY, and store
                # sizing precedes it.
                rows, _, n, _ = self._observed_checkpoint(
                    rows.distinct(), count_only
                )
                mark("stage0_distinct")
            elif n is None and "auto" in (ids, self.pred_partitioned):
                # one count pass (cheap for parquet/checkpointed inputs)
                # decides whether the dictionary's / bucketed store's fixed
                # jobs amortize
                n = rows.count()
                mark("input_count")
            if ids == "auto":
                ids = n >= self.dict_threshold
            store = self._resolve_store(n)
            if ids and term_dict is None:
                salt, term_dict = build_term_dict(
                    self.spark, rows, self._const_terms, vocab=vocab
                )
                mark("dict_build")
            ctx = self._ctx_for_salt(salt) if ids else self._string_ctx
            self._write_meta(ids=bool(ids), salt=salt, strict=strict)
            # stage 0 in the run's representation. Injectivity was verified
            # by build_term_dict, so encoding a distinct string relation
            # yields already-distinct id rows.
            plan = encode_ids(rows, salt) if ids and encoded is None else rows
            if not staged:
                plan = plan.distinct()
            # the seed's counts ride the job that materializes it (lineage
            # tracking keeps the grouped job: its histogram needs grouping)
            obs = self._gate_obs_aggs(None if self.track_lineage else ctx)
            if store:
                # the plan stays LAZY: the rebuild write executes it straight
                # into the partitioned parquet, so the input is materialized
                # exactly once (no duplicate block-manager checkpoint of the
                # full fact set — the r2-measured ~5x-cost write)
                written = self._store_write(plan, sd, 0, overwrite=True, obs_aggs=obs)
                facts, phase = self._store_read(sd, 0), "store_init"
            elif staged and not ids:
                # the checkpointed distinct IS the facts relation
                facts, written, phase = plan, None, "stats0"
            else:
                facts, *written, _ = self._observed_checkpoint(plan, obs)
                phase = "encode" if ids and encoded is None else "stage0_distinct"
            if self.track_lineage:
                preds, d, lineage = self._delta_stats(facts, ctx)
            elif written:
                preds, d, lineage = (*written, [])
            else:
                preds, d, lineage = (*self._gate_pass(facts, ctx), [])
            mark(phase)
            # the result's asserted relation is the materialized stage 0
            asserted = facts.select(*spo) if store else facts
            delta = facts
            counts = _Counts(preds, d, preds, d, lineage=lineage)
            round0, base, facts_old, metrics = 0, d, _empty_like(plan), []
        # commit the seed round AFTER the store step, so a metrics line never
        # claims a round the store doesn't hold yet; in store mode the store
        # already holds the seed under its __rnd stamp
        m0 = RoundMetrics(
            round0, 0, d, base, 0.0, 0, 0, counts.lineage,
            facts_partitions=self._nparts(facts),
            delta_partitions=self._nparts(delta),
            phases=ph,
        )
        self._write_round(round0, delta, m0, delta_to_disk=not store)
        raw = self._run(
            facts, asserted, delta, facts_old,
            round0=round0, counts=counts, metrics=metrics + [m0],
            derivations=prev.derivations if prev else None,
            ctx=ctx, store_dir=sd if store else None,
        )
        if prev is not None:
            # bound the asserted (and id-mode term_dict) plan depth across
            # long incremental histories: each batch wraps another union, so
            # the chains are collapsed into one balanced copy each whenever a
            # batch's metrics cross a multiple of facts_refresh (a batch adds
            # 2+ metrics, so it can step over every exact multiple)
            k = max(1, self.facts_refresh)
            raw = replace(raw, copy_partitions=parts)
            if len(raw.metrics) // k > len(prev.metrics) // k:
                raw = replace(raw, asserted=self._balanced_copy(raw.asserted, parts))
                if ids:
                    term_dict = self._balanced_copy(term_dict, parts)
        if ids:
            return self._wrap_ids(raw, term_dict, salt, strict)
        return raw

    def resume(self, asserted: DataFrame) -> FixpointResult:
        """Restart from the last completed round under ``checkpoint_dir``.
        The per-round parquet already carries the representation (long ids or
        strings); ``meta.json`` carries the dictionary salt and strict
        decode (a ``vocab=`` or pre-encoded run stays strict), and the decode
        dictionary is rebuilt statelessly from the asserted input + rule
        constants (hash ids depend on nothing else)."""
        if not self.checkpoint_dir:
            raise ValueError("no checkpoint_dir configured")
        rounds = sorted(
            int(d.split("=")[1])
            for d in os.listdir(self.checkpoint_dir)
            if d.startswith("round=")
        )
        sd = os.path.join(self.checkpoint_dir, "facts_by_p")
        mpath = os.path.join(self.checkpoint_dir, "metrics.jsonl")
        store_resume = False
        # a crash mid-_store_compact leaves the store under a sidecar name;
        # repair before the existence check so resume never silently falls
        # back to materialize(asserted) and loses incremental batches
        if not rounds and self._store_recover(sd) and os.path.exists(mpath):
            # store-mode checkpoint: per-round deltas live ONLY in the
            # bucketed store under their ``__rnd`` stamps (no duplicate
            # ``round=`` writes); metrics.jsonl is the committed-round log,
            # and each line was written strictly AFTER its store append, so
            # every logged round is fully present — a torn append from the
            # crash round carries a later __rnd and is filtered out below
            with open(mpath, encoding="utf-8") as f:
                rounds = sorted(
                    {json.loads(line)["round"] for line in f if line.strip()}
                )
            store_resume = bool(rounds)
        if not rounds:
            return self.materialize(asserted)
        asserted = asserted.select(*TRIPLE_COLS)
        meta_path = os.path.join(self.checkpoint_dir, "meta.json")
        id_mode, salt, strict = False, 0, False
        if os.path.exists(meta_path):
            with open(meta_path, encoding="utf-8") as f:
                meta = json.load(f)
            id_mode = bool(meta.get("ids"))
            salt = int(meta.get("salt", 0))
            strict = bool(meta.get("strict", False))
        if id_mode:
            _, term_dict = build_term_dict(
                self.spark, asserted, self._const_terms, start_salt=salt, max_salt=1
            )
            terms_dir = os.path.join(self.checkpoint_dir, "terms")
            if os.path.isdir(terms_dir):
                # terms persisted by incremental() batches — covers resumes
                # whose `asserted` predates those batches
                extra = self.spark.read.parquet(terms_dir)
                term_dict = term_dict.unionByName(
                    extra.join(term_dict.select("term"), on="term", how="left_anti")
                ).localCheckpoint(eager=True)
            ctx = self._ctx_for_salt(salt)
            asserted_run = encode_ids(asserted, salt).distinct().localCheckpoint(
                eager=True
            )
        else:
            ctx = self._string_ctx
            asserted_run = asserted
        if store_resume:
            # reconstruct from the store's __rnd stamps. All three relations
            # are EAGERLY checkpointed here because the (possibly torn) store
            # is rebuilt below. A store rebuilt mid-history stamps everything
            # at its rebuild round, so ``__rnd == last`` can over-approximate
            # the true last delta — semi-naive stays correct with a larger
            # delta (worst case it replays round-0 semantics), it never
            # under-derives.
            last = rounds[-1]
            stamp = F.col("__rnd")
            sdf = self.spark.read.parquet(sd).filter(stamp <= last)
            facts_p = sdf.select(*TRIPLE_COLS)
            delta_p = sdf.filter(stamp == last).select(*TRIPLE_COLS)
            old_p = sdf.filter(stamp < last).select(*TRIPLE_COLS)
        else:
            deltas = [
                self.spark.read.parquet(
                    os.path.join(self.checkpoint_dir, f"round={r:04d}")
                )
                .select(*TRIPLE_COLS)
                for r in rounds
            ]
            facts_p, delta_p = reduce(DataFrame.unionByName, deltas), deltas[-1]
            old_p = deltas[:-1] and reduce(DataFrame.unionByName, deltas[:-1])
        # the three eager checkpoints (facts, last delta, facts_old) carry
        # their exact gate counts and row counts on their own jobs
        aggs = self._gate_obs_aggs(ctx)
        facts, facts_preds, n_facts, _ = self._observed_checkpoint(facts_p, aggs)
        delta_last, delta_preds, n_delta, _ = self._observed_checkpoint(delta_p, aggs)
        facts_old, old_preds, n_old, _ = (
            self._observed_checkpoint(old_p, aggs)
            if len(rounds) > 1
            else (_empty_like(facts), {}, 0, None)
        )
        if id_mode:
            # decode coverage gate: every resumed id must be in the rebuilt
            # dictionary, else decode_ids' inner joins would SILENTLY drop
            # facts (e.g. resuming with the original asserted set after
            # incremental() batches introduced new terms)
            n_decodable = decode_ids(facts, term_dict).count()
            if n_decodable != n_facts:
                raise ValueError(
                    f"resume(): {n_facts - n_decodable} checkpointed facts "
                    "contain terms absent from the rebuilt dictionary — pass "
                    "the SAME asserted set (including incremental batches) "
                    "the checkpoint was built from"
                )
        metrics = []
        if os.path.exists(mpath):
            with open(mpath, encoding="utf-8") as f:
                metrics = [RoundMetrics(**json.loads(line)) for line in f if line.strip()]
            # last line per round wins (a resumed run may have re-logged
            # rounds it replayed), ordered by round
            by_round = {m.round: m for m in metrics if m.round <= rounds[-1]}
            metrics = [by_round[r] for r in sorted(by_round)]
        if self.pred_partitioned or store_resume:
            # the crashed run's facts_by_p store may hold a torn append from
            # the round that died — rebuild it from the reconstructed facts
            # (safe: the relations above are eagerly checkpointed)
            if os.path.isdir(sd):
                shutil.rmtree(sd)
        # reload persisted derivation records (R12/R14 continuity): a
        # store_derivations run that crashed mid-fixpoint keeps every
        # already-recorded explanation
        derivations = None
        if self.store_derivations:
            deriv_dirs = sorted(
                d
                for d in os.listdir(self.checkpoint_dir)
                if d.startswith("derivs=") and int(d.split("=")[1]) <= rounds[-1]
            )
            if deriv_dirs:
                derivations = reduce(
                    DataFrame.unionByName,
                    [
                        self.spark.read.parquet(
                            os.path.join(self.checkpoint_dir, d)
                        )
                        for d in deriv_dirs
                    ],
                ).localCheckpoint(eager=True)
        store_dir = sd if self._resolve_store(n_facts) else None
        if store_dir:
            self._store_write(facts, store_dir, rounds[-1], overwrite=True)
            facts = self._store_read(store_dir, rounds[-1])
        raw = self._run(
            facts, asserted_run, delta_last, facts_old,
            round0=rounds[-1],
            counts=_Counts(
                delta_preds, n_delta, facts_preds, n_facts, old_preds, n_old
            ),
            metrics=metrics, derivations=derivations, ctx=ctx,
            store_dir=store_dir,
        )
        if id_mode:
            return self._wrap_ids(raw, term_dict, salt, strict)
        return raw

    # -- predicate-bucketed facts store (SURVEY O1) -------------------------
    def _store_write(
        self,
        rel: DataFrame,
        store_dir: str,
        rnd: int,
        *,
        overwrite: bool = False,
        n_rows: Optional[int] = None,
        obs_aggs: Optional[tuple[list, list]] = None,
    ) -> Optional[tuple[dict, int]]:
        """Append ``rel`` to the store stamped ``__rnd = rnd``, or rebuild
        the store from it (``overwrite``). Given ``obs_aggs``, the write's
        own job observes the (gate counts, rows) it writes."""
        # bound file-count growth: a small late-round delta written from 32
        # tasks x 64 buckets would add ~2k tiny files per round; coalescing
        # by size keeps appends at <= tasks-per-round x touched buckets
        if n_rows is not None:
            rel = rel.coalesce(max(1, min(32, n_rows // 250_000 + 1)))
        obs = Observation()
        (
            (rel.observe(obs, *obs_aggs[0]) if obs_aggs else rel)
            .withColumn("__rnd", F.lit(rnd))
            .withColumn("__pb", _pb_write_col(rel))
            .write.partitionBy("__pb")
            .mode("overwrite" if overwrite else "append")
            .parquet(store_dir)
        )
        return self._gate_vals(obs.get, obs_aggs[1]) if obs_aggs else None

    def _store_nfiles(self, store_dir: str) -> int:
        n = 0
        for _, _, files in os.walk(store_dir):
            n += sum(1 for f in files if f.endswith(".parquet"))
        return n

    def _store_compact(self, store_dir: str) -> None:
        """Rewrite the store's accumulated per-round appends into ~one file
        per bucket (long incremental histories otherwise grow file counts
        without bound — VERDICT r3 next-round #6). ``__rnd`` values are
        preserved as a data column, so snapshot-at-round reads still hold;
        per-file __rnd min/max stats widen, which only weakens file skipping
        for OLD-round reads (resume rebuilds the store anyway). Write to a
        sibling dir then two-rename swap: the only crash window is between
        the two renames (old aside, new not yet in), and ``_store_recover``
        closes it by renaming whichever complete copy survives back into
        place — there is NO state where both the live dir and both sidecars
        are absent, so a crash mid-compact always leaves a recoverable
        store (VERDICT r4 "What's wrong #2": the previous rmtree-then-rename
        order had a destroy window that silently lost incremental batches)."""
        tmp = store_dir + ".compact"
        old = store_dir + ".old"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        (
            self.spark.read.parquet(store_dir)
            .repartition(PB_BUCKETS, F.col("__pb"))
            .write.partitionBy("__pb")
            .mode("overwrite")
            .parquet(tmp)
        )
        os.rename(store_dir, old)
        os.rename(tmp, store_dir)
        shutil.rmtree(old)

    @staticmethod
    def _store_recover(store_dir: str) -> bool:
        """Repair a store interrupted mid-``_store_compact``. Returns True
        iff a valid store exists at ``store_dir`` afterwards. Cases, in the
        order the compact sequence can crash:
        - live dir present: drop stale sidecars (``.compact`` may be a torn
          write; ``.old`` only exists after the live dir was renamed back in,
          i.e. the compact completed) — store valid.
        - live dir absent, ``.old`` present: crashed between the two
          renames. The old (pre-compact) copy is complete — rename it back.
          A complete ``.compact`` may also exist; the old copy is preferred
          because completeness of ``.compact`` can't be proven cheaply.
        - neither: no store."""
        tmp = store_dir + ".compact"
        old = store_dir + ".old"
        if os.path.isdir(store_dir):
            shutil.rmtree(tmp, ignore_errors=True)
            shutil.rmtree(old, ignore_errors=True)
            return True
        if os.path.isdir(old):
            os.rename(old, store_dir)
            shutil.rmtree(tmp, ignore_errors=True)
            return True
        shutil.rmtree(tmp, ignore_errors=True)
        return False

    def _store_read(self, store_dir: str, rnd: int) -> DataFrame:
        """Snapshot-at-round read: the __rnd <= rnd filter (file-skipped via
        parquet min/max stats — each file holds one round) makes the read
        stable against later appends, Iceberg-snapshot style; __pb is the
        partition column const-predicate alpha selections prune on."""
        return self.spark.read.parquet(store_dir).filter(F.col("__rnd") <= rnd)

    def _store_batch(
        self,
        store_dir: str,
        rnd: int,
        prev_facts: DataFrame,
        prev_asserted: DataFrame,
        n_prev: int,
        delta: DataFrame,
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Bring the store to batch round ``rnd``: compact, verify, append.
        Returns the store read at ``rnd`` and the prior facts and asserted
        relations. When compaction ran (``prev``'s files are gone then), the
        prior facts are the compacted store's read, and the prior asserted
        relation was checkpointed before the rewrite: it may read the store
        (a fresh store run's asserted IS its stage-0 store read).

        Compaction happens HERE — after the seed delta is materialized (it
        no longer references the old files) and before any relation for
        this batch is built over the store. Old
        FixpointResults' relations are invalidated by design (same as any
        non-snapshot table format). Both count checks verify that the store
        actually IS prev's facts before trusting it: a stale store from a
        different run under a reused checkpoint_dir would silently corrupt
        the facts relation (ADVICE r3). Each probe scans only the __rnd
        column. A missing or stale store is rebuilt from prev ∪ delta,
        stamped ``rnd`` (exact for every ``__rnd <= rnd`` read)."""
        have = self._store_recover(store_dir)
        if (
            have
            and self._store_nfiles(store_dir) > self.store_max_files
            and self._store_read(store_dir, rnd - 1).count() == n_prev
        ):
            prev_asserted = prev_asserted.localCheckpoint(eager=True)
            self._store_compact(store_dir)
            prev_facts = self._store_read(store_dir, rnd - 1).select(*TRIPLE_COLS)
        if have and self._store_read(store_dir, rnd - 1).count() == n_prev:
            self._store_write(delta, store_dir, rnd)
        else:
            self._store_write(
                prev_facts.unionByName(delta), store_dir, rnd, overwrite=True
            )
        return self._store_read(store_dir, rnd), prev_facts, prev_asserted

    def _write_round(
        self, rnd: int, delta: DataFrame, m: RoundMetrics, delta_to_disk: bool = True
    ) -> None:
        """Commit one round: the delta parquet (resume's replay unit) and
        the metrics line. In store mode the bucketed store — appended BEFORE
        this commit — already holds the delta under its ``__rnd`` stamp, so
        ``delta_to_disk=False`` skips the duplicate write (half the per-round
        write volume at scale); resume() then replays rounds from
        metrics.jsonl + ``__rnd`` filters instead of ``round=`` dirs."""
        if not self.checkpoint_dir:
            return
        os.makedirs(self.checkpoint_dir, exist_ok=True)
        if delta_to_disk:
            delta.write.mode("overwrite").parquet(
                os.path.join(self.checkpoint_dir, f"round={rnd:04d}")
            )
        with open(
            os.path.join(self.checkpoint_dir, "metrics.jsonl"), "a", encoding="utf-8"
        ) as f:
            f.write(json.dumps(m.to_dict()) + "\n")

    def _run(
        self,
        facts: DataFrame,
        asserted: DataFrame,
        delta: DataFrame,
        facts_old: DataFrame,
        *,
        round0: int,
        counts: _Counts,
        metrics: list[RoundMetrics],
        derivations: Optional[DataFrame],
        ctx: _CompiledRules,
        store_dir: Optional[str],
    ) -> FixpointResult:
        """Semi-naive rounds after the committed round ``round0``, from
        ``counts``, the caller's exact counts of ``delta``, ``facts`` and
        ``facts_old`` (see _Counts). ``metrics`` holds every committed
        round so far; with ``store_dir`` set, ``facts`` is the bucketed
        store's read at ``round0`` and each round appends to it."""
        spark = self.spark
        spo = list(TRIPLE_COLS)
        delta_preds, delta_total = counts.delta, counts.delta_total
        facts_count = counts.facts_total
        if self.store_derivations and derivations is None:
            spo_fields = [
                T.StructField(c, facts.schema[c].dataType, False) for c in spo
            ]
            derivations = spark.createDataFrame(
                [],
                T.StructType(
                    spo_fields
                    + [
                        T.StructField("rule_name", T.StringType(), False),
                        T.StructField("round", T.IntegerType(), False),
                        T.StructField(
                            "body",
                            T.ArrayType(T.StructType(spo_fields), False),
                            False,
                        ),
                    ]
                ),
            )

        # driver-side alpha counts for facts (whole-rule skip, O5/R7/R8) and
        # for facts-as-of-previous-round (variant pruning: in a fresh run's
        # first round facts_old is empty, so only the last delta variant of
        # every rule can produce anything)
        totals = dict(counts.facts)
        totals_old, facts_old_total = counts.old, counts.old_total

        # value-level alpha propagation state: per-rule var-predicate
        # constraint shapes (static), the collected TBox-slice value cache
        # (invalidated by exact alpha counts), and the current delta's
        # predicate set (None when unknown/too big). The seed delta's set is
        # only worth a job when the delta is a proper subset of facts
        # (incremental batches); a fresh round-1 delta IS facts.
        vp_cons, has_vp = self._vp_cons(ctx)
        slice_cache = dict(counts.slices)
        delta_pvals: Optional[frozenset] = counts.pvals
        if delta_pvals is None and has_vp and delta_total < facts_count:
            delta_pvals = self._delta_pred_values(delta, delta_total)
        # a committed delta known to hold at most PRED_SET_CAP rows (it is
        # a subset of the round's distinct derived set) observes its
        # predicate set on its own checkpoint job; larger ones keep the
        # separate bounded job after the commit
        gate_obs = self._gate_obs_aggs(None if self.track_lineage else ctx)
        commit_obs = (gate_obs, self._with_pred_set(gate_obs))
        facts_parts = self._nparts(facts)

        # every round compiles to SQL text over three views (plans/sqlgen.py).
        # They are GLOBAL temp views: inside foreachBatch the batch's
        # relations belong to a per-batch session clone, whose session temp
        # views the engine's session cannot see. Per-run names so concurrent
        # engines never clobber each other.
        vp = f"__arachne_{os.getpid()}_{id(self) & 0xFFFFFF:x}"
        views = (f"{vp}_facts", f"{vp}_delta", f"{vp}_fold")
        gdb = spark.conf.get("spark.sql.globalTempDatabase")
        qviews = tuple(f"{gdb}.{v}" for v in views)

        # budget is rounds executed THIS call — a long-lived incremental
        # store whose cumulative round numbering exceeds max_rounds must
        # still close the new batch's fixpoint
        rnd = round0
        try:
            while rnd < round0 + self.max_rounds:
                rnd += 1
                t0 = time.time()
                ph: dict = {}
                _t = t0

                def _mark(name: str) -> None:
                    # cumulative wall per phase (a phase can run more than once
                    # per round, e.g. dedup_semi under the derivations path)
                    nonlocal _t
                    now = time.time()
                    ph[name] = round(ph.get(name, 0.0) + (now - _t), 4)
                    _t = now

                delta_in = delta_total

                # Size-adaptive delta joins: localCheckpointed deltas carry no
                # size statistics, so Catalyst cannot auto-broadcast them and
                # plans a SortMergeJoin that shuffles the ENTIRE facts relation
                # even when the delta is 600 rows (the late-fixpoint norm — at
                # 80M facts that round measured 9-45 s of pure shuffle). The
                # driver knows |delta| exactly from the stats job, so hint the
                # broadcast itself: every delta-variant join then streams the
                # facts/store side map-only, no Exchange on the 10^8-row side.
                broadcast_delta = 0 < delta_total <= self.broadcast_rows
                rels = (facts, delta, facts_old)
                for v, rel in zip(views, rels):
                    rel.createOrReplaceGlobalTempView(v)
                rel_pb = tuple("__pb" in rel.columns for rel in rels)
                sql_parts: list[str] = []
                meta_parts: list[str] = []

                # one-pass warm of the TBox-slice value cache (round 1 does the
                # single job; later rounds see unchanged counts and skip it)
                self._warm_slice_cache(facts, vp_cons, totals, slice_cache)
                rules_skipped = 0
                variants_skipped = 0
                # driver-known superset of the round's derived predicates (from
                # fired CONST-predicate heads); None once any var-predicate head
                # fires — _dedup_facts_side then probes dd at runtime instead
                head_preds: Optional[set] = set()
                for rule_idx, rule in enumerate(ctx.rules):
                    keys = self._rule_keys(rule)
                    # whole-rule skip: an alpha memory (const p / const (p,o) atom)
                    # with zero matching facts overall. EXACT: `totals` holds
                    # per-gate-key counts over ALL accumulated facts — seeded by
                    # the caller's exact counts (_Counts) and maintained by adding
                    # new_preds, whose delta is anti-joined against facts first
                    # (disjoint, so no double counting) — a 0 is a true empty
                    # alpha slice, never a proxy (the r4 R8 lesson).
                    if any(kk is not None and totals.get(kk, 0) == 0 for kk in keys):
                        rules_skipped += 1
                        continue
                    k = len(rule.body)
                    rule_fired = False
                    for i in range(k):
                        kk = keys[i]
                        # delta-variant gate skip. EXACT: delta_preds is this
                        # round's exact gate aggregate over the checkpointed
                        # delta itself — atom i is joined against exactly that
                        # relation, so a 0 count proves the variant empty.
                        if kk is not None and delta_preds.get(kk, 0) == 0:
                            variants_skipped += 1
                            continue
                        # variant pruning against facts_old (positions j > i):
                        # provably-empty slices mean the whole variant is empty.
                        # EXACT: facts_old_total is the true |facts_old| row
                        # count carried by the driver (prev_facts_count /
                        # the caller's counts — NOT the gate-pred proxy
                        # that caused the r4 under-derivation), and totals_old
                        # is the exact gate-count snapshot taken when facts_old
                        # was the facts relation
                        if i < k - 1 and (
                            facts_old_total == 0
                            or any(
                                keys[j] is not None and totals_old.get(keys[j], 0) == 0
                                for j in range(i + 1, k)
                            )
                        ):
                            variants_skipped += 1
                            continue
                        # value-level pruning: resolve each var-predicate atom's
                        # allowed predicate set from its TBox-slice constraints;
                        # an empty set (or a delta whose predicates are disjoint
                        # from the delta-position atom's set) proves the variant
                        # empty WITHOUT a job, else the set narrows the scan
                        restrict: dict[int, frozenset] = {}
                        provably_empty = False
                        for j, cons in vp_cons[rule_idx].items():
                            if not cons:
                                continue
                            allowed = self._allowed_preds(
                                cons, totals, slice_cache
                            )
                            if allowed is None:
                                continue
                            if not allowed or (
                                j == i
                                and delta_pvals is not None
                                and delta_pvals.isdisjoint(allowed)
                            ):
                                provably_empty = True
                                break
                            restrict[j] = allowed
                        if provably_empty:
                            variants_skipped += 1
                            continue
                        # atom j reads facts (j < i), the delta (j == i)
                        # or facts_old (j > i)
                        src = [0 if j < i else (1 if j == i else 2) for j in range(k)]
                        args = (
                            rule,
                            i,
                            [qviews[x] for x in src],
                            [rel_pb[x] for x in src],
                            restrict,
                            broadcast_delta,
                            self.PRED_PB_CAP,
                        )
                        sql_parts.extend(variant_selects(*args))
                        if self.store_derivations:
                            meta_parts.extend(
                                variant_selects(*args, provenance=rule.name or "")
                            )
                        rule_fired = True
                        # SUPERSET (proof audit): every derived row comes from a
                        # compiled variant's head atom, and skipped variants
                        # derive nothing — so collecting const head predicates
                        # over compiled variants only covers all of dd's
                        # predicates; one var-predicate head → None (runtime
                        # probe in _dedup_facts_side)
                        if head_preds is not None:
                            for ha in rule.head:
                                if _is_const(ha[1]):
                                    head_preds.add(ha[1])
                                else:
                                    head_preds = None
                                    break
                    if not rule_fired:
                        rules_skipped += 1

                _mark("compile")
                if sql_parts:
                    derived = spark.sql("\nUNION ALL\n".join(sql_parts))
                    if self.debug_plan_sink is not None:
                        self.debug_plan_sink.append(
                            derived._jdf.queryExecution().executedPlan().toString()
                        )
                    # (A fully-fused round — distinct+anti+commit in one job —
                    # was prototyped and reverted: a plan holding the derive
                    # self-joins AND the facts anti side together trips Spark
                    # 4.1's relation deduplication with "key not found: <attr>"
                    # in InferFiltersFromConstraints, in shapes fresh-aliasing
                    # does not fix. The two-job round below stands.)
                    # Dedup new heads, then subtract known facts. The derived set
                    # is distinct'd and checkpointed FIRST so the driver can pick
                    # the anti-join physical by its actual size: small derived →
                    # two broadcast passes that stream facts map-only (semi to
                    # find already-known triples, anti against that small set)
                    # instead of shuffling the entire facts store; large derived →
                    # plain shuffled left_anti. Late fixpoint rounds have tiny
                    # deltas, so this turns their cost from O(|facts| shuffle)
                    # into O(|facts| scan).
                    # Observation folds the row count into the checkpoint's own
                    # job — one fewer scheduler round-trip per round, which is
                    # exactly the fixed floor small-delta rounds are bound by
                    obs = Observation()
                    dd = (
                        derived.distinct()
                        .observe(obs, F.count(F.lit(1)).alias("n"))
                        .localCheckpoint(eager=True)
                    )
                    n_dd = obs.get["n"]
                    _mark("derive_distinct")
                    if n_dd == 0:
                        # fixpoint reached: skip the anti-join AND stats jobs
                        # entirely (an empty delta has trivially empty counts)
                        new_delta = dd
                        new_preds, delta_out, pvals, lineage = {}, 0, None, []
                    else:
                        # a facts row can only collide with dd on an (s,p,o) key
                        # if its predicate occurs in dd, so the facts side of the
                        # dedup join scans/shuffles ONLY the dd-predicate slice
                        # (bucket-file-pruned in store mode) — see
                        # _dedup_facts_side. The probe job only pays for itself
                        # when the facts relation is large (or file-prunable):
                        # small fixpoints skip it and scan facts whole.
                        if store_dir or facts_count >= self.dedup_prune_rows:
                            facts_side = self._dedup_facts_side(
                                facts, dd, spo, static_preds=head_preds
                            )
                        else:
                            facts_side = facts
                        _mark("dedup_probe")
                        if n_dd <= self.broadcast_rows:
                            # ONE job, not two: `seen` stays a lazy plan whose
                            # broadcast build executes the semi-join inline —
                            # facts is still streamed map-only (no Exchange on
                            # the big side), but the separate checkpoint job and
                            # its scheduler round-trip are gone. |seen| <= |dd|
                            # <= broadcast_rows, so the broadcast stays bounded.
                            seen = facts_side.join(
                                F.broadcast(dd), on=spo, how="left_semi"
                            )
                            nd_plan = dd.join(
                                F.broadcast(seen), on=spo, how="left_anti"
                            )
                        else:
                            nd_plan = dd.join(facts_side, on=spo, how="left_anti")
                        fold = has_vp and n_dd <= self.PRED_SET_CAP
                        new_delta, new_preds, delta_out, pvals, lineage = (
                            self._commit_delta(nd_plan, ctx, commit_obs[fold])
                        )
                        _mark("dedup_anti")
                else:
                    new_delta = _empty_like(facts).localCheckpoint(eager=True)
                    new_preds, delta_out, pvals, lineage = {}, 0, None, []
                _mark("stats")
                # next round's (a)-skip input: the new delta's predicate set,
                # observed by the commit above or else one bounded job over
                # the just-checkpointed delta (no job at fixpoint, where
                # delta_out == 0, and none at all when no rule has a
                # constrained var-predicate atom to consume it)
                delta_pvals = pvals
                if delta_pvals is None and has_vp:
                    delta_pvals = self._delta_pred_values(new_delta, delta_out)
                _mark("pred_values")

                if self.store_derivations and delta_out > 0:
                    # the same views, still registered: this round's bodies
                    meta = spark.sql("\nUNION ALL\n".join(meta_parts))
                    # ONE derivation per new fact, chosen deterministically —
                    # the reference stores only the first firing
                    # (RuleEngine.scala:74-78); determinism beats agenda order.
                    w = Window.partitionBy(*spo).orderBy("rule_name", F.col("body"))
                    round_derivs = (
                        meta.join(new_delta, on=spo, how="left_semi")
                        .withColumn("__rn", F.row_number().over(w))
                        .filter(F.col("__rn") == 1)
                        .drop("__rn")
                        .withColumn("round", F.lit(rnd))
                    ).localCheckpoint(eager=True)
                    # provenance survives a crash: the per-round derivation
                    # records checkpoint alongside the per-round delta, and
                    # resume() reloads them (R12/R14 continuity)
                    if self.checkpoint_dir:
                        round_derivs.write.mode("overwrite").parquet(
                            os.path.join(self.checkpoint_dir, f"derivs={rnd:04d}")
                        )
                    derivations = derivations.unionByName(round_derivs).localCheckpoint(
                        eager=True
                    )
                    _mark("derivations")

                prev_facts_count = facts_count
                facts_count += delta_out
                if store_dir and delta_out > 0:
                    # append BEFORE the metrics line commits the round: a crash
                    # between the two leaves an orphan __rnd partition that
                    # resume's __rnd <= last-complete-round filters exclude
                    self._store_write(new_delta, store_dir, rnd, n_rows=delta_out)
                    _mark("store_append")
                m = RoundMetrics(
                    round=rnd,
                    delta_in=delta_in,
                    delta_out=delta_out,
                    facts_total=facts_count,
                    seconds=round(time.time() - t0, 4),
                    rules_skipped=rules_skipped,
                    variants_skipped=variants_skipped,
                    partition_lineage=lineage,
                    facts_partitions=facts_parts,
                    delta_partitions=self._nparts(new_delta),
                    phases=ph,
                )
                metrics.append(m)
                self._write_round(rnd, new_delta, m, delta_to_disk=store_dir is None)

                if delta_out == 0:
                    break

                totals_old = dict(totals)
                # EXACT |facts as of the previous round| (== next round's
                # facts_old): the driver already tracks it as facts_count before
                # this round's delta was added. The previous gate-pred sum
                # (sum of tag=="p" entries) was only a LOWER BOUND — rule sets
                # whose body atoms all have variable predicates produce no "p"
                # entries, so the proxy read 0 on a non-empty facts_old and the
                # i < k-1 variant skip silently under-derived (wrong fixpoint;
                # hypothesis-falsified round 4, minimized to
                # (?y ?x ?x) ∧ (<p0> ?x ?x) → (<c0> <p0> ?y) over (<p0> <p0> <p0>)).
                facts_old_total = prev_facts_count
                for kk, cnt in new_preds.items():
                    totals[kk] = totals.get(kk, 0) + cnt
                delta_preds, delta_total = new_preds, delta_out

                facts_old = facts
                if store_dir:
                    # the delta was appended above (O(|delta|), partitioned); the
                    # re-read is a fresh parquet relation, so no LogicalRDD
                    # aliasing with the delta
                    facts = self._store_read(store_dir, rnd)
                    facts_parts = self._nparts(facts)
                else:
                    # The delta must not appear as the SAME LogicalRDD both
                    # inside the facts union and as the join-side delta relation
                    # — that trips Spark 4.1's relation deduplication ("key not
                    # found: attr") on var-predicate rule shapes. A zero-cost
                    # re-aliasing projection (Project with fresh Alias exprIds
                    # over the checkpointed delta) gives the union branch its own
                    # attribute ids without the O(|delta|) copy job the previous
                    # second localCheckpoint paid every round; the underlying
                    # LogicalRDD is shared, which DeduplicateRelations handles
                    # (regression-covered by the var-predicate property suite).
                    # Every `facts_refresh` rounds the union itself is
                    # re-checkpointed to bound plan width on deep fixpoints.
                    facts = facts.unionByName(
                        new_delta.select(*[F.col(c).alias(c) for c in spo])
                    )
                    facts_parts += m.delta_partitions
                    if (rnd - round0) % self.facts_refresh == 0:
                        facts = facts.localCheckpoint(eager=True)
                delta = new_delta
        finally:
            # exception-safe: a failing round must not leak its views
            for v in views:
                spark.catalog.dropGlobalTempView(v)
        return FixpointResult(
            facts=facts.select(*spo) if store_dir else facts,
            asserted=asserted,
            rounds=rnd - round0,
            metrics=metrics,
            derivations=derivations,
            facts_store=facts if store_dir else None,
            gate_counts=totals,
            gate_sig=ctx.sig,
            slice_cache=slice_cache,
        )
