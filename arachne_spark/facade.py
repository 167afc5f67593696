"""Reasoner query facade over a materialized facts DataFrame — the Spark-SQL
re-expression of the reference's OWLReasoner/SPARQL facade
(util/ArachneOWLReasoner.scala; operator map SURVEY.md §2.5 Q1-Q14).

The reference materializes facts into a Jena model and answers OWLReasoner
calls with SPARQL (flush, ArachneOWLReasoner.scala:49-58). Here the facts are
already a DataFrame; every facade call is a Catalyst plan over it. All term
arguments and results use the *encoded* term strings (model.py); helpers that
take raw IRIs encode them.

On a dictionary-encoded result (``Reasoner.from_result``) the calls run in
the result's representation, as the fixpoint loop does: each query constant
becomes its foldable id literal ``xxhash64(term[, salt])`` (no lookup, no
job), selection, distinct and anti-joins run on the long-id relation, and
only the answer columns of the matching rows are decoded through the term
dictionary, as the last step. An all-constant ask decodes nothing.

The subClassOf cones of Q4/Q5 are walked on the driver, one collect per hop;
driver keys cross into the JVM as one Arrow batch, never as pickled rows.
BGP calls (Q13 and every SPARQL query) compile as a rule body through
`plans/sqlgen`, the compiler of the fixpoint rounds.
"""

from __future__ import annotations

from functools import reduce
from operator import and_
from typing import Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from arachne_spark.model import (
    INDIRECT_TYPE,
    OWL_DIFFERENTFROM,
    OWL_NAMED_INDIVIDUAL,
    OWL_NOTHING,
    OWL_SAMEAS,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    TRIPLE_COLS,
    encode_iri,
    encode_resource,
)
from arachne_spark.dictionary import decode_cols, encode_ids
from arachne_spark.plans.sqlgen import (
    bgp_relation,
    head_relation,
    key_sql,
    pb_sql,
    var_col,
)
from arachne_spark.rules import Atom, atom_vars

_TYPE = encode_iri(RDF_TYPE)
_SCO = encode_iri(RDFS_SUBCLASSOF)
_SAME = encode_iri(OWL_SAMEAS)
_DIFF = encode_iri(OWL_DIFFERENTFROM)
_IND = encode_iri(INDIRECT_TYPE)
_NOTHING = encode_iri(OWL_NOTHING)
_NAMED = encode_iri(OWL_NAMED_INDIVIDUAL)


def _is_iri(c: str):
    """FILTER(isIRI(?c)) over an encoded term column."""
    return F.col(c).startswith("<")


def transitive_closure(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 64
) -> DataFrame:
    """Distributed transitive closure by iterative doubling — O(log depth)
    rounds: the GLOBAL all-pairs closure of an edge relation. Each round
    joins the closure-so-far with itself, so a path of length 2^k exists
    after k rounds. The facade's anchored Q4/Q5 `rdfs:subClassOf+` queries
    (ArachneOWLReasoner.scala:179) never need it: they walk the seed's
    cone from the driver (:meth:`Reasoner._anchored_closure`).
    """
    closure = edges.select(src, dst).distinct().localCheckpoint(eager=True)
    n = closure.count()
    for _ in range(max_iter):
        hop = (
            closure.alias("a")
            .join(closure.alias("b"), F.col(f"a.{dst}") == F.col(f"b.{src}"))
            .select(F.col(f"a.{src}").alias(src), F.col(f"b.{dst}").alias(dst))
        )
        new_closure = closure.unionByName(hop).distinct().localCheckpoint(eager=True)
        n2 = new_closure.count()
        if n2 == n:
            return closure
        closure, n = new_closure, n2
    return closure


class Reasoner:
    """Query facade over materialized facts (encoded 3-column schema).

    The constructor decides once which relation every call selects from:
    the bucketed store of a ``pred_partitioned`` run (a constant predicate
    prunes the scan to its ``__pb`` bucket files), else the long-id facts of
    a dictionary-encoded run, else ``facts``. Over ids, answers are decoded
    through ``term_dict`` — strictly (left join + raise_error, as
    ``decode_ids(strict=True)``) when ``strict_decode`` is set, so a
    caller-vocabulary coverage miss raises instead of dropping a row.

    ``from_result`` relations are treated as sets (the engine deduplicates
    facts every round), so a call that projects one constant-bound pattern
    to its single free position skips the ``distinct``; a caller's
    DataFrame passed to the constructor keeps it.

    Memoized structures (subClassOf cones) are tied to the FACTS
    SNAPSHOT passed at construction — DataFrames are immutable, so there is
    no staleness within one snapshot. After ``incremental()`` produces a new
    result, either build a fresh ``Reasoner.from_result(new_result)`` or call
    :meth:`invalidate` with the new facts (the reference re-flushes its
    caches on ontology change the same way, ref
    ArachneOWLReasoner.scala:28-39)."""

    def __init__(
        self,
        facts: DataFrame,
        *,
        facts_ids: Optional[DataFrame] = None,
        facts_store: Optional[DataFrame] = None,
        term_dict: Optional[DataFrame] = None,
        salt: int = 0,
        strict_decode: bool = False,
    ):
        self.facts = facts
        # pred_partitioned runs: the raw bucketed store (with __pb), in the
        # run's representation (VERDICT r3 next-round #10)
        self._store = facts_store
        self._term_dict = term_dict
        self._salt = salt
        self._strict = strict_decode
        if facts_store is not None:
            self._rel = facts_store
        elif facts_ids is not None and term_dict is not None:
            self._rel = facts_ids
        else:
            self._rel = facts
        self._ids = term_dict is not None and self._rel is not facts
        # how a query constant becomes a selection-relation key
        # (sqlgen.key_sql): hashed with the salt over ids, as is over strings
        self._key_salt = salt if self._ids else None
        self._set = False  # is the selection relation known to be a set?
        self._cone_cache: dict[tuple[str, bool], frozenset] = {}

    @classmethod
    def from_result(cls, res) -> "Reasoner":
        """Facade over a FixpointResult in its own representation: long ids
        (decoding only the answers) for a dictionary-encoded result, and the
        bucketed store for a ``pred_partitioned`` run. A result's facts are
        a set."""
        r = cls(
            res.facts,
            facts_ids=res.facts_ids,
            facts_store=res.facts_store,
            term_dict=res.term_dict,
            salt=res.salt,
            strict_decode=res.strict_decode,
        )
        r._set = True
        return r

    def invalidate(self, facts: Optional[DataFrame] = None) -> "Reasoner":
        """Drop memoized closure/cone structures, optionally swapping in a
        new (string) facts snapshot, e.g. an incremental() result's
        ``facts``. A new snapshot also drops the ids, store and dictionary,
        so new facts are never paired with stale ids. Returns self."""
        if facts is not None:
            self.__init__(facts)
            return self
        self._cone_cache = {}
        return self

    # -- helpers -----------------------------------------------------------
    def _term_key(self, t: str):
        """The selection-relation key for an encoded term: a foldable
        xxhash64 literal over ids (constant-folds, so the __pb comparison
        prunes partitions at planning time), the string itself otherwise."""
        return F.expr(key_sql(t, self._key_salt))

    def _match(
        self, s: Optional[str] = None, p: Optional[str] = None,
        o: Optional[str] = None,
    ) -> DataFrame:
        """Triples whose given positions equal the given encoded terms,
        projected to the free positions (columns named s/p/o, in the
        selection relation's representation — ids until :meth:`_decode`).
        On the bucketed store a constant predicate also filters ``__pb``, so
        the scan prunes to 1/PB_BUCKETS of the files."""
        given = {c: t for c, t in zip(TRIPLE_COLS, (s, p, o)) if t is not None}
        conds = [F.col(c) == self._term_key(t) for c, t in given.items()]
        if self._store is not None and p is not None:
            conds.insert(0, F.col("__pb") == F.expr(pb_sql(p, self._key_salt)))
        rel = self._rel.filter(reduce(and_, conds)) if conds else self._rel
        return rel.select(*[c for c in TRIPLE_COLS if c not in given])

    def _decode(self, df: DataFrame) -> DataFrame:
        """Every column of a selection-relation result as encoded term
        strings: one dictionary join per column over ids, nothing otherwise."""
        if not self._ids:
            return df
        return decode_cols(df, self._term_dict, df.columns, self._strict)

    def _distinct(self, df: DataFrame, *, anti: bool = False) -> DataFrame:
        """A one-free-position :meth:`_match` as a set: already one over a
        known set. Before an anti-join (``anti``) the distinct stays, else
        Catalyst pushes the join into each branch of a lazy facts union."""
        return df if self._set and not anti else df.distinct()

    # -- Q1/Q2: getInstances (ArachneOWLReasoner.scala:74-101) --------------
    def instances(self, cls: str, direct: bool = False) -> DataFrame:
        """Named individuals of class `cls` (raw IRI). direct=True filters out
        individuals that hold the indirect_type marker for the class (Q2,
        FILTER NOT EXISTS -> left_anti)."""
        c = encode_iri(cls)
        inst = self._distinct(self._match(p=_TYPE, o=c), anti=direct)
        if direct:
            inst = inst.join(self._match(p=_IND, o=c), on="s", how="left_anti")
        return self._decode(inst).filter(_is_iri("s"))  # FILTER(isIRI(?s))

    # -- Q3: getTypes (ArachneOWLReasoner.scala:245-276) --------------------
    def types(self, ind: str, direct: bool = False) -> DataFrame:
        i = encode_resource(ind)
        t = self._distinct(
            self._match(s=i, p=_TYPE)
            # FILTER(?o != owl:NamedIndividual)
            .filter(F.col("o") != self._term_key(_NAMED))
            .select(F.col("o").alias("cls")),
            anti=direct,
        )
        if direct:
            ind_types = self._match(s=i, p=_IND).select(F.col("o").alias("cls"))
            t = t.join(ind_types, on="cls", how="left_anti")
        return self._decode(t).filter(_is_iri("cls"))  # FILTER(isIRI(?o)) (:254)

    # -- Q4/Q5: sub/superclass property paths (ArachneOWLReasoner.scala:159-223)
    def _keys_frame(self, keys) -> DataFrame:
        """Selection-relation keys as a one-column ``cls`` frame: one Arrow
        batch (whatever the session conf), no pickled rows or per-key py4j."""
        typ = pa.int64() if self._ids else pa.string()
        return self.facts.sparkSession.createDataFrame(
            pa.table({"cls": pa.array(list(keys), typ)})
        )

    def _cone_hop(self, frontier: DataFrame, *, reverse: bool) -> DataFrame:
        """The far ends (``cls``) of the subClassOf edges whose near end is
        in the broadcast frontier: the edges are scanned, never shuffled."""
        near, far = ("o", "s") if reverse else ("s", "o")
        edges = self._match(p=_SCO)
        return edges.join(
            F.broadcast(frontier), on=edges[near] == frontier["cls"]
        ).select(edges[far].alias("cls"))

    def _anchored_closure(self, seed: str, *, reverse: bool) -> DataFrame:
        """Seed-anchored reachability cone over subClassOf edges — the shape
        of the reference query (`?s rdfs:subClassOf+ <C>` is anchored at C,
        ArachneOWLReasoner.scala:179). A breadth-first walk on the driver,
        one collect per hop, until a hop adds nothing new: the first hop
        selects on the seed's key, later ones join the new frontier. Paths
        have length >= 1, so the seed is in its cone iff a cycle returns to
        it. reverse=True walks o->s (descendants), False s->o (ancestors).
        Keys are memoized per (seed, direction); returns one `cls` column in
        the selection relation's representation."""
        key = (seed, reverse)
        if key not in self._cone_cache:
            near = "o" if reverse else "s"
            hop = self._match(p=_SCO, **{near: seed}).toDF("cls")
            cone: set = set()
            while new := {row[0] for row in hop.collect()} - cone:
                cone |= new
                hop = self._cone_hop(self._keys_frame(new), reverse=reverse)
            self._cone_cache[key] = frozenset(cone)
        return self._keys_frame(self._cone_cache[key])

    def subclasses(self, cls: str, direct: bool = False) -> DataFrame:
        c = encode_iri(cls)
        if direct:
            sub = self._distinct(self._match(p=_SCO, o=c).toDF("cls"))
        else:
            sub = self._anchored_closure(c, reverse=True)
        return self._decode(sub).filter(_is_iri("cls"))  # FILTER(isIRI) (:169,:204)

    def superclasses(self, cls: str, direct: bool = False) -> DataFrame:
        c = encode_iri(cls)
        if direct:
            sup = self._distinct(self._match(s=c, p=_SCO).toDF("cls"))
        else:
            sup = self._anchored_closure(c, reverse=False)
        return self._decode(sup).filter(_is_iri("cls"))  # FILTER(isIRI) (:180)

    # -- Q6: getObjectPropertyValues (incl. inverse, :103-118) --------------
    def object_property_values(
        self, ind: str, prop: str, inverse: bool = False
    ) -> DataFrame:
        i, p = encode_resource(ind), encode_iri(prop)
        # inverse path ^<p>: values are subjects with (?v p ind)
        vals = self._match(p=p, o=i) if inverse else self._match(s=i, p=p)
        vals = self._distinct(vals.toDF("value"))
        return self._decode(vals).filter(_is_iri("value"))  # FILTER(isIRI) (:113)

    # -- Q7: getDataPropertyValues (FILTER isLiteral, :120-137) --------------
    def data_property_values(self, ind: str, prop: str) -> DataFrame:
        i, p = encode_resource(ind), encode_iri(prop)
        vals = self._distinct(self._match(s=i, p=p).toDF("value"))
        # FILTER(isLiteral(?o))
        return self._decode(vals).filter(F.col("value").startswith('"'))

    # -- Q8: getSameIndividuals (unioned with self, :145-157) ---------------
    def same_individuals(self, ind: str) -> DataFrame:
        i = encode_resource(ind)
        # the self row is built in the JVM: no pickled Python rows
        selfdf = self.facts.sparkSession.range(1, numPartitions=1).select(
            F.lit(i).alias("ind")
        )
        sames = self._decode(
            self._match(s=i, p=_SAME).select(F.col("o").alias("ind"))
        ).filter(_is_iri("ind"))  # FILTER(isIRI) (:152)
        return sames.unionByName(selfdf).distinct()

    # -- Q9: getDifferentIndividuals (:60-72) --------------------------------
    def different_individuals(self, ind: str) -> DataFrame:
        i = encode_resource(ind)
        diff = self._distinct(self._match(s=i, p=_DIFF).toDF("ind"))
        return self._decode(diff).filter(_is_iri("ind"))  # FILTER(isIRI) (:67)

    # -- Q10: isConsistent (ASK ?s type owl:Nothing, negated; :280-291) ------
    def is_consistent(self) -> bool:
        return self._match(p=_TYPE, o=_NOTHING).limit(1).isEmpty()

    # -- Q11/Q12: isEntailed (:293-315) ---------------------------------------
    def is_entailed(self, s: str, p: str, o: str) -> bool:
        """Exact encoded triple present? (ASK; over ids nothing is decoded)"""
        return not self._match(s=s, p=p, o=o).limit(1).isEmpty()

    def all_entailed(self, axioms: DataFrame) -> bool:
        """Set version as ONE query (the reference's TODO at :315): anti-join
        the axiom triples against facts; entailed iff no survivor. Over ids
        the axioms are encoded (a projection) and the anti-join runs on ids."""
        axioms = axioms.select(*TRIPLE_COLS)
        if self._ids:
            axioms = encode_ids(axioms, self._salt)
        return axioms.join(
            self._rel.select(*TRIPLE_COLS), on=list(TRIPLE_COLS), how="left_anti"
        ).limit(1).isEmpty()

    # -- Q13: generic query runners (:319-338) --------------------------------
    def _bindings(self, patterns: Sequence[Atom]) -> DataFrame:
        """BGP solutions in the selection relation's representation: the
        patterns compile as a rule body (``sqlgen.bgp_select``: constants as
        keys, ``__pb`` pruning on the store, repeated-variable guards, the
        body join); columns are ``var_col`` names in first-binding order."""
        return bgp_relation(self._rel, patterns, self._key_salt)

    def select_bgp(self, patterns: Sequence[Atom]) -> DataFrame:
        """SPARQL basic-graph-pattern SELECT: self-joins of the facts,
        compiled as a rule body; result columns are ``var_col`` names."""
        return self._decode(self._bindings(patterns))

    def ask_bgp(self, patterns: Sequence[Atom]) -> bool:
        return not self._bindings(patterns).limit(1).isEmpty()

    def construct_bgp(
        self, where: Sequence[Atom], template: Sequence[Atom]
    ) -> DataFrame:
        used = {var_col(v) for a in template for v in atom_vars(a)}
        bound = self._bindings(where)
        bound = self._decode(bound.select(*[c for c in bound.columns if c in used]))
        return head_relation(bound, template).distinct()

    def sparql(self, query: str):
        """SPARQL TEXT surface (Q13): parse a SPARQL string (BGP subset —
        see arachne_spark.sparql) and execute it through the same atom API
        as select_bgp/ask_bgp/construct_bgp. Mirrors the reference's ARQ
        entry points (ref ArachneOWLReasoner.scala:319-338: executeSelect/
        executeConstruct/executeAsk over the inferred model). Returns a
        DataFrame (SELECT/CONSTRUCT) or bool (ASK)."""
        from arachne_spark.sparql import execute_sparql

        return execute_sparql(self, query)

    def create_view(self, name: str = "facts") -> None:
        """Register the facts for spark.sql(...) — the general query surface."""
        self.facts.createOrReplaceTempView(name)

    # -- Q14: the ~25 OWLReasoner methods the reference leaves ??? ----------
    def __getattr__(self, item):
        _unsupported = {
            "equivalent_classes",
            "disjoint_classes",
            "equivalent_properties",
            "disjoint_properties",
            "sub_properties",
            "super_properties",
            "unsatisfiable_classes",
        }
        if item in _unsupported:
            raise NotImplementedError(
                f"{item} is unsupported, matching the reference "
                "(ArachneOWLReasoner.scala:190-241,340-378 leave these ???)"
            )
        raise AttributeError(item)
