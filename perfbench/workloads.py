"""Seeded inputs, operations and expected outputs of the workloads.

Each workload object owns its source tables and knows, for every operation it
runs, the answer the program must give. The answers come from models of the
generated inputs (`OwlModel`, `CodeKgModel`). The one exception is
``kg_build``'s fact count and checksums: they are goldens recorded from the
program's output for the fixed corpus.

- ``kg_build``: the code corpus of ``arachne_spark.kg`` through
  extract/link/canonicalize, unioned with a small code TBox, run to its
  fixpoint on dictionary ids.
- ``owl_tbox``: the ``kg_materialize`` input of ``bench.py`` (typed
  customers, a nation/region class hierarchy, order edges under a
  sub-property, sameAs sprinkles), built from seeded TPC-H-shaped tables
  and run to its OWL-RL fixpoint in string mode.
- ``ingest_query``: the ``owl_tbox`` fixpoint, grown by seeded
  ``incremental()`` batches of new typed individuals and order edges.

After every write operation each workload runs a seeded block of facade and
SPARQL calls against the result it just produced.
"""

from __future__ import annotations

import hashlib
import math
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arachne_spark.engine import FixpointEngine, FixpointResult
from arachne_spark.facade import Reasoner
from arachne_spark.kg import gen_code_files, gen_entity_dict
from arachne_spark.kg.pipeline import build_triples
from arachne_spark.model import (
    OWL_SAMEAS,
    RDF_TYPE,
    RDFS_SUBCLASSOF,
    RDFS_SUBPROPERTYOF,
    encode_iri,
)
from arachne_spark.owlrl import (
    OWL,
    indirect_type_rule,
    owl_rl_core,
    strict_superclass_triples,
)
from arachne_spark.rules import RuleSet

TYPE = encode_iri(RDF_TYPE)
SCO = encode_iri(RDFS_SUBCLASSOF)
SPO = encode_iri(RDFS_SUBPROPERTYOF)
SAME = encode_iri(OWL_SAMEAS)
HAS_CUST, LINKED_TO = "<p:hasCust>", "<p:linkedTo>"
TRIPLES = "s string, p string, o string"

# Sizes. The owl_tbox graph is TPC-H sf0.01-shaped; kg_build's corpus
# (bench.py's kg_extract_link size at sf0.1) is below the
# engine's 1 M-row dictionary threshold, so the workload lowers the threshold
# to take the same auto-mode dictionary branch a >= 1 M-row input takes.
OWL_CUSTOMERS, OWL_ORDERS, OWL_NATIONS, OWL_REGIONS = 1_500, 15_000, 25, 5
KG_FILES = 10_000
KG_DICT_THRESHOLD = 10_000
BATCH_INDIVIDUALS, BATCH_EDGES = 20, 30
# one call of each kind per block on the string-mode results; facade calls
# on the dictionary-encoded kg_build result decode through the term
# dictionary and cost ~3x more, so its blocks hold 2 calls and its six
# kinds rotate across blocks
CALLS_PER_BLOCK, KG_CALLS_PER_BLOCK = 7, 2

# 2^31 - 1: the modulus of the order-insensitive xxhash64 checksums
P31 = 2147483647


def rules() -> RuleSet:
    return RuleSet(list(owl_rl_core()) + [indirect_type_rule()])


@dataclass
class Call:
    """One facade or SPARQL call: ``run`` returns a row count or a bool."""

    kind: str
    run: Callable[[Reasoner], object]
    expected: object
    sparql: Optional[str] = None


def _sparql_count(query: str) -> Callable[[Reasoner], int]:
    return lambda r: r.sparql(query).count()


# ---------------------------------------------------------------------------
# owl_tbox and ingest_query: the kg_materialize graph
# ---------------------------------------------------------------------------


@dataclass
class OwlModel:
    """The generated TPC-H-shaped tables plus what their fixpoint holds.

    Customer keys are 1..C; customer k is typed into nation ``nation[k-1]``,
    order m points at customer ``cust[m-1]``, and customers whose key is a
    multiple of 97 get a sameAs twin ``<dupK>`` (all as in ``bench.py``).
    Batches add typed individuals and order edges; the counters below track
    them so every query has a modelled answer."""

    nation: np.ndarray
    region: np.ndarray
    cust: np.ndarray
    extra_members: np.ndarray = None  # per nation: batch individuals typed in
    extra_orders: dict = field(default_factory=dict)  # custkey -> batch orders
    extra_facts: int = 0

    def __post_init__(self) -> None:
        self.same = np.arange(1, len(self.nation) + 1) % 97 == 0
        self.extra_members = np.zeros(len(self.region), dtype=np.int64)
        self.orders_of = np.bincount(self.cust, minlength=len(self.nation) + 1)
        # nation members: customers, plus the sameAs twins that inherit types
        self.members = np.bincount(
            self.nation, minlength=len(self.region)
        ) + np.bincount(self.nation[self.same], minlength=len(self.region))

    @classmethod
    def generate(cls, seed: int, customers: int = OWL_CUSTOMERS,
                 orders: int = OWL_ORDERS) -> "OwlModel":
        rng = np.random.default_rng([seed, 1])
        region = rng.permutation(OWL_NATIONS) % OWL_REGIONS
        nation = rng.integers(0, OWL_NATIONS, customers)
        cust = rng.integers(1, customers + 1, orders)
        return cls(nation=nation, region=region, cust=cust)

    # -- fixpoint size ------------------------------------------------------
    def asserted_count(self) -> int:
        c, o, n = len(self.nation), len(self.cust), len(self.region)
        r = OWL_REGIONS
        strict = 2 * n + r  # nation->region, nation->world, region->world
        return c + (n + r) + o + 1 + int(self.same.sum()) + strict

    def facts_count(self) -> int:
        """asserted + nation⊑world (N) + per customer type region/world and
        two indirect types (4C) + linkedTo per order (O) + per sameAs pair
        symmetric/reflexive sameAs and five inherited types (8S) + hasCust
        and linkedTo to the twin for each order of a sameAs customer."""
        c, o, n = len(self.nation), len(self.cust), len(self.region)
        s = int(self.same.sum())
        o_same = int(self.same[self.cust - 1].sum())
        derived = n + 4 * c + o + 8 * s + 2 * o_same
        return self.asserted_count() + derived + self.extra_facts

    # -- source tables ------------------------------------------------------
    def tables(self, spark: SparkSession) -> dict[str, DataFrame]:
        c = len(self.nation)

        def table(pdf: pd.DataFrame) -> DataFrame:
            return spark.createDataFrame(pdf).localCheckpoint(eager=True)

        return {
            "customer": table(pd.DataFrame(
                {"c_custkey": np.arange(1, c + 1), "c_nationkey": self.nation})),
            "nation": table(pd.DataFrame(
                {"n_nationkey": np.arange(len(self.region)),
                 "n_regionkey": self.region})),
            "region": table(pd.DataFrame(
                {"r_regionkey": np.arange(OWL_REGIONS)})),
            "orders": table(pd.DataFrame(
                {"o_orderkey": np.arange(1, len(self.cust) + 1),
                 "o_custkey": self.cust})),
        }

    # -- batches --------------------------------------------------------------
    def batch(self, rng: np.random.Generator, b: int) -> list[tuple]:
        """Seeded new triples; updates the model with their consequences."""
        rows = []
        for j, nat in enumerate(rng.integers(0, len(self.region), BATCH_INDIVIDUALS)):
            rows.append((f"<nb{b}_{j}>", TYPE, f"<nat{nat}>"))
            self.extra_members[nat] += 1
            self.extra_facts += 5  # type + region/world types + 2 indirect
        for j, k in enumerate(rng.integers(1, len(self.nation) + 1, BATCH_EDGES)):
            rows.append((f"<ob{b}_{j}>", HAS_CUST, f"<c{k}>"))
            self.extra_orders[int(k)] = self.extra_orders.get(int(k), 0) + 1
            self.extra_facts += 4 if self.same[k - 1] else 2
        return rows

    # -- calls ----------------------------------------------------------------
    def calls(self, rng: np.random.Generator) -> list[Call]:
        n_nat, c = len(self.region), len(self.nation)
        members = self.members + self.extra_members
        out = []
        for i in range(CALLS_PER_BLOCK):
            nat = int(rng.integers(n_nat))
            reg = int(self.region[nat])
            k = int(rng.integers(1, c + 1))
            kind = i % 7
            if kind == 0:
                out.append(Call("instances", lambda r, n=nat: r.instances(f"nat{n}").count(),
                                int(members[nat])))
            elif kind == 1:
                out.append(Call("instances", lambda r, g=reg: r.instances(f"reg{g}").count(),
                                int(members[self.region == reg].sum())))
            elif kind == 2:
                out.append(Call("types", lambda r, k=k: r.types(f"c{k}").count(), 3))
            elif kind == 3:
                out.append(Call("superclasses",
                                lambda r, n=nat: r.superclasses(f"nat{n}").count(), 2))
            elif kind == 4:
                want = int(rng.integers(OWL_REGIONS))
                got = int(self.region[self.nation[k - 1]])
                out.append(Call("is_entailed",
                                lambda r, k=k, w=want: r.is_entailed(f"<c{k}>", TYPE, f"<reg{w}>"),
                                got == want))
            elif kind == 5:
                q = f"SELECT ?o WHERE {{ ?o {LINKED_TO} <c{k}> }}"
                out.append(Call("sparql_select", _sparql_count(q),
                                int(self.orders_of[k]) + self.extra_orders.get(k, 0), q))
            else:
                # customer + twin, each sameAs both: 4 rows per sameAs pair
                q = f"SELECT ?x WHERE {{ ?x a <nat{nat}> . ?x {SAME} ?y }}"
                out.append(Call("sparql_join", _sparql_count(q),
                                4 * int((self.same & (self.nation == nat)).sum()), q))
        return out


def owl_asserted(spark: SparkSession, t: dict[str, DataFrame]) -> DataFrame:
    """The kg_materialize triples of ``bench.py``, built lazily from the
    source tables (so the engine's stage 0 executes them)."""

    def eid(prefix, col):
        return F.concat(F.lit(f"<{prefix}"), col.cast("string"), F.lit(">"))

    customer, nation, region, orders = (
        t["customer"], t["nation"], t["region"], t["orders"])
    types = customer.select(
        eid("c", F.col("c_custkey")).alias("s"), F.lit(TYPE).alias("p"),
        eid("nat", F.col("c_nationkey")).alias("o"))
    sco = nation.select(
        eid("nat", F.col("n_nationkey")).alias("s"), F.lit(SCO).alias("p"),
        eid("reg", F.col("n_regionkey")).alias("o"),
    ).union(region.select(
        eid("reg", F.col("r_regionkey")).alias("s"), F.lit(SCO).alias("p"),
        F.lit("<world>").alias("o")))
    edges = orders.select(
        eid("o", F.col("o_orderkey")).alias("s"), F.lit(HAS_CUST).alias("p"),
        eid("c", F.col("o_custkey")).alias("o"))
    tbox_extra = spark.createDataFrame([(HAS_CUST, SPO, LINKED_TO)], TRIPLES)
    sames = customer.filter(F.col("c_custkey") % 97 == 0).select(
        eid("c", F.col("c_custkey")).alias("s"), F.lit(SAME).alias("p"),
        eid("dup", F.col("c_custkey")).alias("o"))
    strict = strict_superclass_triples([(r["s"], r["o"]) for r in sco.collect()])
    return (types.union(sco).union(edges).union(tbox_extra).union(sames)
            .union(spark.createDataFrame(strict, TRIPLES)))


# ---------------------------------------------------------------------------
# kg_build: the code knowledge graph
# ---------------------------------------------------------------------------

KIND = "http://example.org/code/Kind/"
CODE = "http://example.org/code/"
_KIND_EDGES = [
    (encode_iri(KIND + "class"), encode_iri(KIND + "entity")),
    (encode_iri(KIND + "func"), encode_iri(KIND + "entity")),
    (encode_iri(KIND + "module"), encode_iri(KIND + "entity")),
    (encode_iri(KIND + "entity"), encode_iri(KIND + "thing")),
]
# the code TBox of scaling_bench.py: kind hierarchy, transitive extends,
# calls ⊑ dependsOn
CODE_TBOX = (
    [(s, SCO, o) for s, o in _KIND_EDGES]
    + [(f"<{CODE}extends>", TYPE, encode_iri(OWL + "TransitiveProperty")),
       (f"<{CODE}calls>", SPO, f"<{CODE}dependsOn>")]
    + strict_superclass_triples(_KIND_EDGES)
)


@dataclass(frozen=True)
class CodeKgModel:
    """Expected fixpoint of the code KG for ``n_files`` generated files.

    The corpus is a pure function of ``n_files`` (see kg/datagen.py), so the
    fact count and checksums are constants recorded for ``KG_FILES``; the
    seed only reorders the corpus rows. Call answers are
    computed from the generator's index arithmetic."""

    n_files: int = KG_FILES
    facts: int = 53_017
    rounds: int = 3
    facts_checksum: int = 56_975_364_227_366
    dict_checksum: int = 11_437_537_134_416

    def _files_with(self, mult: int, add: int, mod: int, target: int) -> int:
        return sum(1 for f in range(self.n_files) if (mult * f + add) % mod == target)

    @staticmethod
    def file_iri(f: int) -> str:
        u = (f % 997) / 997.0
        repo = f"repo_{math.floor(u * u * 50):04d}"
        ext = {0: "py", 1: "scala", 2: "java"}[f % 3]
        commit = hashlib.sha256(f"commit{f}".encode()).hexdigest()[:12]
        return f"<{CODE}file/{repo}/src/pkg_{f % 13}/mod_{f}.{ext}@{commit}>"

    def calls(self, rng: np.random.Generator, first: int) -> list[Call]:
        """KG_CALLS_PER_BLOCK calls; the kinds rotate across blocks."""
        out = []
        for i in range(first, first + KG_CALLS_PER_BLOCK):
            kind = i % 6
            cls_k, fn_j = int(rng.integers(200)), int(rng.integers(300))
            f = int(rng.integers(self.n_files))
            if kind == 0:
                k, n = [("class", 200), ("func", 300), ("module", 100),
                        ("entity", 600), ("thing", 600)][int(rng.integers(5))]
                out.append(Call("instances", lambda r, k=k: r.instances(KIND + k).count(), n))
            elif kind == 1:
                out.append(Call("types", lambda r, c=cls_k: r.types(
                    f"{CODE}class/Class_{c}").count(), 3))
            elif kind == 2:
                k, n = [("class", 2), ("func", 2), ("entity", 1)][int(rng.integers(3))]
                out.append(Call("superclasses",
                                lambda r, k=k: r.superclasses(KIND + k).count(), n))
            elif kind == 3:
                callee = (11 * f + 5) % 300
                hit = bool(rng.integers(2))
                target = callee if hit else (callee + 1 + int(rng.integers(299))) % 300
                out.append(Call("is_entailed", lambda r, f=f, t=target: r.is_entailed(
                    self.file_iri(f), f"<{CODE}dependsOn>", f"<{CODE}func/Func_{t}>"), hit))
            elif kind == 4:
                q = (f"SELECT ?f WHERE {{ ?f <{CODE}definesClass> "
                     f"<{CODE}class/Class_{cls_k}> }}")
                out.append(Call("sparql_select", _sparql_count(q),
                                self._files_with(1, 0, 200, cls_k), q))
            else:
                q = f"SELECT ?f WHERE {{ ?f <{CODE}dependsOn> <{CODE}func/Func_{fn_j}> }}"
                out.append(Call("sparql_select", _sparql_count(q),
                                self._files_with(11, 5, 300, fn_j), q))
        return out


def checksums(res: FixpointResult) -> tuple[int, int]:
    """Order-insensitive Σ pmod(xxhash64(·), 2^31-1) of the id facts and of
    the term dictionary (as scaling_bench.py computes them)."""
    p = F.lit(P31)
    facts = res.facts_ids.select(F.sum(F.pmod(F.xxhash64("s", "p", "o"), p))).first()[0]
    terms = res.term_dict.select(F.sum(F.pmod(F.xxhash64("id", "term"), p))).first()[0]
    return int(facts), int(terms)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """Source tables of one workload plus its write operation.

    ``write()`` returns the new FixpointResult; ``check(res)`` returns a list
    of mismatches (empty when the result is right) and runs outside any
    timed region; ``calls(rng)`` returns the next seeded call block."""

    name = ""
    warm_writes = 1  # untimed writes before the measured ones

    def __init__(self, spark: SparkSession, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng([seed, 2])
        self.result: Optional[FixpointResult] = None

    def start(self) -> None:
        """Work a run does once, after its set-up and before its warm-up."""

    def prepare(self) -> None:
        """Work done before each write, outside its timed region."""


class OwlTbox(Workload):
    """Each write materializes the kg_materialize graph from its source
    tables."""

    name = "owl_tbox"

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.model = OwlModel.generate(seed)
        self.tables = self.model.tables(spark)

    def write(self, tracer) -> FixpointResult:
        asserted = owl_asserted(self.spark, self.tables)
        with tracer.span("engine"):
            self.result = FixpointEngine(self.spark, rules()).materialize(asserted)
        return self.result

    def check(self, res) -> list[str]:
        want = self.model.facts_count()
        return [] if res.facts_count == want else [f"facts {res.facts_count} != {want}"]

    def calls(self):
        return self.model.calls(self.rng)


class IngestQuery(Workload):
    """start() materializes the owl_tbox fixpoint; each write is one
    incremental() batch. (Work moved from incremental() into materialize()
    shows in owl_tbox's fixpoint_s.)"""

    name = "ingest_query"
    # batches are cheap and the JIT is still cutting their CPU time after
    # the base fixpoint and one batch
    warm_writes = 2

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.model = OwlModel.generate(seed)
        self.tables = self.model.tables(spark)
        self.engine = FixpointEngine(spark, rules())
        self.batches = 0
        self.pending: Optional[DataFrame] = None

    def start(self) -> None:
        self.result = self.engine.materialize(owl_asserted(self.spark, self.tables))

    def prepare(self) -> None:
        """Build the next batch's source DataFrame."""
        rows = self.model.batch(self.rng, self.batches)
        self.batches += 1
        self.pending = self.spark.createDataFrame(rows, TRIPLES)

    def write(self, tracer) -> FixpointResult:
        with tracer.span("incremental"):
            self.result = self.engine.incremental(self.result, self.pending)
        return self.result

    def check(self, res) -> list[str]:
        want = self.model.facts_count()
        return [] if res.facts_count == want else [f"facts {res.facts_count} != {want}"]

    def calls(self):
        return self.model.calls(self.rng)


class KgBuild(Workload):
    name = "kg_build"

    def __init__(self, spark, seed):
        super().__init__(spark, seed)
        self.model = CodeKgModel()
        self.blocks = 0
        # the seed reorders the corpus rows within partitions; the row set,
        # and so every expected output, is the same for all seeds
        self.corpus = (
            gen_code_files(spark, self.model.n_files)
            .sortWithinPartitions(F.xxhash64(F.col("path"), F.lit(seed)))
            .localCheckpoint(eager=True)
        )
        self.edict = gen_entity_dict(spark).localCheckpoint(eager=True)
        self.tbox = spark.createDataFrame(CODE_TBOX, TRIPLES).localCheckpoint(eager=True)

    def write(self, tracer) -> FixpointResult:
        with tracer.span("kg"):
            triples = build_triples(self.corpus, self.edict)
        with tracer.span("engine"):
            engine = FixpointEngine(self.spark, rules(), dict_threshold=KG_DICT_THRESHOLD)
            self.result = engine.materialize(triples.unionByName(self.tbox))
        return self.result

    def check(self, res) -> list[str]:
        m, bad = self.model, []
        if res.facts_count != m.facts or res.rounds != m.rounds:
            bad.append(f"facts/rounds {res.facts_count}/{res.rounds} != {m.facts}/{m.rounds}")
        if res.facts_ids is None:
            return bad + ["not dictionary-encoded"]
        got = checksums(res)
        if got != (m.facts_checksum, m.dict_checksum):
            bad.append(f"checksums {got} != {(m.facts_checksum, m.dict_checksum)}")
        return bad

    def calls(self):
        self.blocks += 1
        return self.model.calls(self.rng, (self.blocks - 1) * KG_CALLS_PER_BLOCK)


WORKLOADS = {w.name: w for w in (KgBuild, OwlTbox, IngestQuery)}
