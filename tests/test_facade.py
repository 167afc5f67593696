"""Facade Q1-Q14 over a materialized facts view (ArachneOWLReasoner.scala map)."""

import pytest

from arachne_spark.engine import FixpointEngine
from arachne_spark.facade import Reasoner, transitive_closure
from arachne_spark.model import encode_iri, encode_literal
from arachne_spark.owlrl import owl_rl_core, indirect_type_rule, strict_superclass_triples
from arachne_spark.rules import RuleSet, Var, load_rules_json
from tests.conftest import spo_set, triples_df

EX = "http://example.org/"
TYPE = encode_iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#type")
SCO = encode_iri("http://www.w3.org/2000/01/rdf-schema#subClassOf")
SAME = encode_iri("http://www.w3.org/2002/07/owl#sameAs")
DIFF = encode_iri("http://www.w3.org/2002/07/owl#differentFrom")
NOTHING = encode_iri("http://www.w3.org/2002/07/owl#Nothing")
NAMED = encode_iri("http://www.w3.org/2002/07/owl#NamedIndividual")


def e(x):
    return encode_iri(EX + x)


@pytest.fixture(scope="module")
def reasoner(spark):
    tbox = [(e("B"), SCO, e("A")), (e("C"), SCO, e("B"))]
    abox = [
        (e("i1"), TYPE, e("C")),
        (e("i2"), TYPE, e("B")),
        (e("i1"), TYPE, NAMED),
        ("_:anon", TYPE, e("C")),
        (e("i1"), e("knows"), e("i2")),
        (e("i1"), e("label"), encode_literal("one")),
        (e("i1"), SAME, e("i1b")),
        (e("i1"), DIFF, e("i9")),
    ]
    strict = strict_superclass_triples([(s, o) for s, _, o in tbox])
    rules = RuleSet(list(owl_rl_core()) + [indirect_type_rule()])
    res = FixpointEngine(spark, rules).materialize(
        triples_df(spark, tbox + abox + strict)
    )
    return Reasoner(res.facts.cache())


def test_q1_instances(reasoner):
    got = {r["s"] for r in reasoner.instances(EX + "A").collect()}
    # isIRI filter drops the blank node (Q1: FILTER(isIRI(?s)))
    assert got == {e("i1"), e("i2"), e("i1b")}


def test_q2_direct_instances(reasoner):
    got = {r["s"] for r in reasoner.instances(EX + "B", direct=True).collect()}
    # i1 is type B only indirectly (via C subClassOf B)
    assert e("i2") in got and e("i1") not in got


def test_q3_types(reasoner):
    got = {r["cls"] for r in reasoner.types(EX + "i1").collect()}
    assert got >= {e("A"), e("B"), e("C")}
    assert NAMED not in got  # FILTER(?o != owl:NamedIndividual)
    direct = {r["cls"] for r in reasoner.types(EX + "i1", direct=True).collect()}
    assert e("C") in direct and e("A") not in direct


def test_q4_q5_class_hierarchy(reasoner):
    subs = {r["cls"] for r in reasoner.subclasses(EX + "A").collect()}
    assert subs >= {e("B"), e("C")}
    direct_subs = {r["cls"] for r in reasoner.subclasses(EX + "A", direct=True).collect()}
    assert e("B") in direct_subs
    sups = {r["cls"] for r in reasoner.superclasses(EX + "C").collect()}
    assert sups >= {e("A"), e("B")}


def test_q6_q7_property_values(reasoner):
    vals = {r["value"] for r in reasoner.object_property_values(EX + "i1", EX + "knows").collect()}
    assert e("i2") in vals
    inv = {r["value"] for r in reasoner.object_property_values(EX + "i2", EX + "knows", inverse=True).collect()}
    assert e("i1") in inv
    data = {r["value"] for r in reasoner.data_property_values(EX + "i1", EX + "label").collect()}
    assert data == {encode_literal("one")}


def test_q8_q9_same_different(reasoner):
    same = {r["ind"] for r in reasoner.same_individuals(EX + "i1").collect()}
    assert same == {e("i1"), e("i1b")}  # unioned with self (:156)
    # the self row is built in the JVM: no pickled Python RDD under its branch
    node = reasoner.same_individuals(EX + "i1")._jdf.queryExecution().optimizedPlan()
    while node.nodeName() != "Union":
        node = node.children().apply(0)
    self_branch = node.children().apply(1).toString()
    assert "Range" in self_branch, self_branch
    assert "LogicalRDD" not in self_branch and "ExistingRDD" not in self_branch
    diff = {r["ind"] for r in reasoner.different_individuals(EX + "i1").collect()}
    assert diff == {e("i9")}


def test_q10_consistency(reasoner, spark):
    assert reasoner.is_consistent()
    bad = Reasoner(triples_df(spark, [(e("i"), TYPE, NOTHING)]))
    assert not bad.is_consistent()


def test_q11_q12_entailment(reasoner, spark):
    assert reasoner.is_entailed(e("i1"), TYPE, e("A"))
    assert not reasoner.is_entailed(e("i1"), TYPE, e("Zzz"))
    axioms = triples_df(spark, [(e("i1"), TYPE, e("A")), (e("i2"), TYPE, e("A"))])
    assert reasoner.all_entailed(axioms)
    axioms2 = triples_df(spark, [(e("i1"), TYPE, e("Zzz"))])
    assert not reasoner.all_entailed(axioms2)


def test_q13_bgp(reasoner):
    x, y = Var("x"), Var("y")
    rows = reasoner.select_bgp([(x, TYPE, e("C")), (x, e("knows"), y)]).collect()
    # sameAs substitution (eq-rep-s) makes i1b a C that knows i2, too
    assert {(r["v_x"], r["v_y"]) for r in rows} == {
        (e("i1"), e("i2")),
        (e("i1b"), e("i2")),
    }
    assert reasoner.ask_bgp([(x, TYPE, e("C"))])
    out = reasoner.construct_bgp([(x, TYPE, e("C"))], [(x, e("inferredType"), e("C"))])
    assert (e("i1"), e("inferredType"), e("C")) in spo_set(out)


def test_q14_unsupported(reasoner):
    with pytest.raises(NotImplementedError):
        reasoner.equivalent_classes()


def test_transitive_closure_doubling(spark):
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(9)], "src string, dst string"
    )
    clo = transitive_closure(edges)
    assert clo.count() == 45  # 10 nodes, all ordered pairs


def test_anchored_closure_matches_global_and_handles_cycles(spark):
    """subclasses/superclasses walk an anchored frontier (the reference query
    is anchored, ArachneOWLReasoner.scala:179) — results must equal the
    global-closure answers, including a mutual-subClassOf cycle where
    C subClassOf+ C holds."""
    edges = [
        (e("B"), SCO, e("A")),
        (e("C"), SCO, e("B")),
        (e("D"), SCO, e("C")),
        (e("X"), SCO, e("Y")),  # unrelated component: must never be touched
        (e("P"), SCO, e("Q")),  # cycle P <-> Q
        (e("Q"), SCO, e("P")),
    ]
    r = Reasoner(triples_df(spark, edges))
    subs = {x["cls"] for x in r.subclasses(EX + "A").collect()}
    assert subs == {e("B"), e("C"), e("D")}
    sups = {x["cls"] for x in r.superclasses(EX + "D").collect()}
    assert sups == {e("A"), e("B"), e("C")}
    # cycle: P subClassOf+ P, so P appears in its own descendants/ancestors
    assert {x["cls"] for x in r.subclasses(EX + "P").collect()} == {e("P"), e("Q")}
    assert {x["cls"] for x in r.superclasses(EX + "P").collect()} == {e("P"), e("Q")}
    # direct=True unaffected
    assert {x["cls"] for x in r.subclasses(EX + "A", direct=True).collect()} == {e("B")}


def test_facade_isiri_filters(spark):
    """Bnode classes/individuals are filtered where the reference SPARQL has
    FILTER(isIRI(...)): types, sub/superclasses, sameAs, differentFrom,
    inverse object-property values."""
    facts = [
        (e("i1"), TYPE, e("C")),
        (e("i1"), TYPE, "_:restriction"),       # bnode class expression
        ("_:b1", SCO, e("C")),                   # bnode subclass
        (e("C"), SCO, "_:b2"),                   # bnode superclass
        (e("D"), SCO, e("C")),
        (e("i1"), SAME, "_:b3"),
        (e("i1"), SAME, e("i2")),
        (e("i1"), DIFF, "_:b4"),
        ("_:b5", e("knows"), e("i1")),           # bnode subject for inverse
        (e("i3"), e("knows"), e("i1")),
    ]
    r = Reasoner(triples_df(spark, facts))
    assert {x["cls"] for x in r.types(EX + "i1").collect()} == {e("C")}
    assert {x["cls"] for x in r.subclasses(EX + "C").collect()} == {e("D")}
    assert {x["cls"] for x in r.superclasses(EX + "C").collect()} == set()
    assert {x["ind"] for x in r.same_individuals(EX + "i1").collect()} == {
        e("i1"), e("i2")
    }
    assert {x["ind"] for x in r.different_individuals(EX + "i1").collect()} == set()
    assert {
        x["value"] for x in r.object_property_values(EX + "i1", EX + "knows", inverse=True).collect()
    } == {e("i3")}


def test_reasoner_invalidate_after_incremental(spark):
    """Memoized cones are tied to the facts snapshot; invalidate() (or a
    fresh Reasoner) picks up an incremental() result's new facts."""
    from arachne_spark.engine import FixpointEngine
    from arachne_spark.model import RDFS_SUBCLASSOF, encode_iri
    from arachne_spark.rules import load_rules_json
    from tests.conftest import triples_df

    SCO = RDFS_SUBCLASSOF
    rules = load_rules_json(
        [{"name": "scoT", "body": [["?a", SCO, "?b"], ["?b", SCO, "?c"]],
          "head": [["?a", SCO, "?c"]]}]
    )
    eng = FixpointEngine(spark, rules)
    res = eng.materialize(
        triples_df(spark, [("<A>", encode_iri(SCO), "<B>"), ("<B>", encode_iri(SCO), "<C>")])
    )
    r = Reasoner(res.facts)
    subs_before = {row["cls"] for row in r.subclasses("C").collect()}
    assert subs_before == {"<A>", "<B>"}
    res2 = eng.incremental(res, triples_df(spark, [("<Z>", encode_iri(SCO), "<A>")]))
    # stale snapshot still memoized; invalidate with the new facts
    r.invalidate(res2.facts)
    subs_after = {row["cls"] for row in r.subclasses("C").collect()}
    assert subs_after == {"<A>", "<B>", "<Z>"}


@pytest.mark.parametrize("dict_encode", [True, False])
def test_facade_over_bucketed_store(spark, tmp_path, dict_encode):
    """Reasoner.from_result on a pred_partitioned run: every const-predicate
    facade query reads the bucketed store with a __pb partition filter
    (partition pruning — VERDICT r3 next-round #10) and returns EXACTLY the
    plain facade's answers, in both representations."""
    tbox = [(e("B"), SCO, e("A")), (e("C"), SCO, e("B"))]
    abox = [
        (e("i1"), TYPE, e("C")),
        (e("i2"), TYPE, e("B")),
        (e("i1"), e("knows"), e("i2")),
        (e("i1"), e("label"), encode_literal("one")),
        (e("i1"), SAME, e("i1b")),
    ]
    rules = RuleSet(list(owl_rl_core()))
    eng = FixpointEngine(
        spark, rules, checkpoint_dir=str(tmp_path / "ck"),
        pred_partitioned=True, dict_encode=dict_encode,
    )
    res = eng.materialize(triples_df(spark, tbox + abox))
    assert res.facts_store is not None
    r_store = Reasoner.from_result(res)
    r_plain = Reasoner(res.facts)
    assert r_store._store is not None

    def col_set(df, col):
        return {r[col] for r in df.collect()}

    # answers identical across every const-predicate surface
    assert col_set(r_store.instances(EX + "A"), "s") == col_set(
        r_plain.instances(EX + "A"), "s"
    )
    assert col_set(r_store.subclasses(EX + "A"), "cls") == col_set(
        r_plain.subclasses(EX + "A"), "cls"
    ) == {e("B"), e("C")}
    assert col_set(r_store.superclasses(EX + "C"), "cls") == {e("A"), e("B")}
    assert col_set(r_store.types(EX + "i1"), "cls") == col_set(
        r_plain.types(EX + "i1"), "cls"
    )
    inv_store = col_set(
        r_store.object_property_values(EX + "i2", EX + "knows", inverse=True),
        "value",
    )
    inv_plain = col_set(
        r_plain.object_property_values(EX + "i2", EX + "knows", inverse=True),
        "value",
    )
    assert inv_store == inv_plain and e("i1") in inv_store
    assert col_set(
        r_store.data_property_values(EX + "i1", EX + "label"), "value"
    ) == {encode_literal("one")}
    assert col_set(r_store.same_individuals(EX + "i1"), "ind") == col_set(
        r_plain.same_individuals(EX + "i1"), "ind"
    )
    assert r_store.is_consistent() == r_plain.is_consistent() is True
    assert r_store.is_entailed(e("i1"), TYPE, e("A")) is True
    assert r_store.is_entailed(e("i1"), TYPE, e("Zz")) is False

    # plan-level: the cone-scan edge relation carries a __pb partition filter
    plan = (
        r_store._match(p=SCO)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "__pb" in pf, plan


# -- id mode: calls select on ids and decode only their answers -------------

_ID_TBOX = [(e("B"), SCO, e("A")), (e("C"), SCO, e("B"))]
_ID_ABOX = [
    (e("i1"), TYPE, e("C")),
    (e("i2"), TYPE, e("B")),
    (e("i1"), TYPE, NAMED),
    ("_:anon", TYPE, e("C")),
    (e("i1"), e("knows"), e("i2")),
    (e("i2"), e("knows"), e("i3")),
    ("_:b1", e("knows"), e("i2")),
    (e("i1"), e("label"), encode_literal("one")),
    (e("i1"), SAME, e("i1b")),
    (e("i1"), DIFF, e("i9")),
]


def _id_result(spark, tmp_path, kind):
    """A dictionary-encoded fixpoint of the facade fixture graph: in memory,
    in the predicate-bucketed store, or over a caller vocabulary (strict
    decode)."""
    strict = strict_superclass_triples([(s, o) for s, _, o in _ID_TBOX])
    rules = RuleSet(list(owl_rl_core()) + [indirect_type_rule()])
    triples = _ID_TBOX + _ID_ABOX + strict
    opts = {"dict_encode": True}
    if kind == "store":
        opts.update(checkpoint_dir=str(tmp_path / "ck"), pred_partitioned=True)
    eng = FixpointEngine(spark, rules, **opts)
    vocab = None
    if kind == "vocab":
        terms = sorted({t for tr in triples for t in tr})
        vocab = spark.createDataFrame([(t,) for t in terms], "term string")
    res = eng.materialize(triples_df(spark, triples), vocab=vocab)
    assert res.facts_ids is not None
    assert (res.facts_store is not None) == (kind == "store")
    assert res.strict_decode == (kind == "vocab")
    return eng, res


@pytest.mark.parametrize("kind", ["memory", "store", "vocab"])
def test_id_mode_facade_and_sparql_parity(spark, tmp_path, kind):
    """Every facade call and SPARQL form on a from_result reasoner (which
    selects on ids) answers exactly as the string-mode facade over the same
    result's decoded facts."""
    _, res = _id_result(spark, tmp_path, kind)
    r_id, r_str = Reasoner.from_result(res), Reasoner(res.facts)
    assert r_id._ids and not r_str._ids

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    x, y = Var("x"), Var("y")
    frames = [
        lambda r: r.instances(EX + "A"),
        lambda r: r.instances(EX + "B", direct=True),
        lambda r: r.types(EX + "i1"),
        lambda r: r.types(EX + "i1", direct=True),
        lambda r: r.subclasses(EX + "A"),
        lambda r: r.subclasses(EX + "A", direct=True),
        lambda r: r.superclasses(EX + "C"),
        lambda r: r.superclasses(EX + "C", direct=True),
        lambda r: r.object_property_values(EX + "i1", EX + "knows"),
        lambda r: r.object_property_values(EX + "i2", EX + "knows", inverse=True),
        lambda r: r.data_property_values(EX + "i1", EX + "label"),
        lambda r: r.same_individuals(EX + "i1"),
        lambda r: r.different_individuals(EX + "i1"),
        lambda r: r.select_bgp([(x, TYPE, e("C")), (x, e("knows"), y)]),
        lambda r: r.construct_bgp(
            [(x, TYPE, e("B"))], [(x, e("inferredType"), e("B"))]
        ),
        lambda r: r.sparql(
            "PREFIX ex: <http://example.org/> SELECT DISTINCT ?x ?y WHERE "
            "{ ?x ex:knows ?y . ?y a ?c . FILTER(?x != ex:i2) "
            'FILTER(REGEX(?y, "i[0-9]$")) } ORDER BY ?x ?y LIMIT 5'
        ),
        lambda r: r.sparql(
            "PREFIX ex: <http://example.org/> CONSTRUCT { ?y ex:knownBy ?x } "
            "WHERE { ?x ex:knows ?y }"
        ),
    ]
    for i, f in enumerate(frames):
        got, want = rows(f(r_id)), rows(f(r_str))
        assert got == want, (i, got, want)
        assert got or i == 12, i  # every call but differentFrom answers
    asks = [
        lambda r: r.is_consistent(),
        lambda r: r.is_entailed(e("i1"), TYPE, e("A")),
        lambda r: r.is_entailed(e("i1"), TYPE, e("Zzz")),
        lambda r: r.all_entailed(
            triples_df(spark, [(e("i1"), TYPE, e("A")), (e("i2"), TYPE, e("A"))])
        ),
        lambda r: r.all_entailed(triples_df(spark, [(e("i1"), TYPE, e("Zzz"))])),
        lambda r: r.ask_bgp([(x, TYPE, e("C")), (x, e("knows"), e("i2"))]),
        lambda r: r.ask_bgp([(x, e("knows"), x)]),
        lambda r: r.sparql("PREFIX ex: <http://example.org/> ASK { ex:i1 a ex:A }"),
        lambda r: r.sparql(
            "PREFIX ex: <http://example.org/> ASK { ?x ex:knows ?y . "
            "FILTER(?y = ex:i9) }"
        ),
    ]
    got = [f(r_id) for f in asks]
    assert got == [f(r_str) for f in asks]
    assert got == [True, True, False, True, False, True, False, True, False]


def _joins(df) -> int:
    """Join operators in a DataFrame's optimized logical plan."""
    return df._jdf.queryExecution().optimizedPlan().toString().count("Join ")


def test_id_mode_plans_decode_only_answers(spark, tmp_path, monkeypatch):
    """An all-constant is_entailed runs on ids with no dictionary join at
    all; instances joins the dictionary once (its one answer column)."""
    _, res = _id_result(spark, tmp_path, "memory")
    r = Reasoner.from_result(res)
    asked = []
    cls = type(res.facts_ids)
    orig = cls.isEmpty
    monkeypatch.setattr(cls, "isEmpty", lambda df: asked.append(df) or orig(df))
    assert r.is_entailed(e("i1"), TYPE, e("A"))
    (df,) = asked
    assert _joins(df) == 0, df._jdf.queryExecution().optimizedPlan().toString()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert e("A") not in plan  # the constant is an id literal
    assert _joins(r.instances(EX + "A")) == 1
    assert _joins(r.instances(EX + "B", direct=True)) == 2  # anti + decode
    # the string-mode facade over the decoded facts pays the 3-join decode
    assert _joins(Reasoner(res.facts).instances(EX + "A")) == 3


def test_id_mode_strict_decode_miss_raises(spark, tmp_path):
    """Over a caller-vocabulary (strict) result, an answer id missing from
    the dictionary raises at collect; it is never silently dropped."""
    _, res = _id_result(spark, tmp_path, "vocab")
    holed = res.term_dict.filter(res.term_dict["term"] != e("i2"))

    def reasoner(strict):
        return Reasoner(
            res.facts, facts_ids=res.facts_ids, term_dict=holed,
            salt=res.salt, strict_decode=strict,
        )

    with pytest.raises(Exception, match="decode miss"):
        reasoner(True).instances(EX + "A").collect()
    # the inner-join decode of a non-strict result would drop the row
    got = {r["s"] for r in reasoner(False).instances(EX + "A").collect()}
    assert e("i2") not in got and e("i1") in got


def test_invalidate_from_result_drops_id_state(spark, tmp_path):
    """invalidate(res2.facts) on a from_result reasoner answers from the new
    string facts: the old ids, store and dictionary are dropped with the
    memoized cones, never paired with the new snapshot."""
    eng, res = _id_result(spark, tmp_path, "memory")
    r = Reasoner.from_result(res)
    assert {x["cls"] for x in r.subclasses(EX + "A").collect()} == {e("B"), e("C")}
    res2 = eng.incremental(
        res, triples_df(spark, [(e("D"), SCO, e("C")), (e("i7"), TYPE, e("D"))])
    )
    assert r.invalidate(res2.facts) is r
    assert not r._ids and r._rel is res2.facts and r._term_dict is None
    assert not r._cone_cache
    assert {x["cls"] for x in r.subclasses(EX + "A").collect()} == {
        e("B"), e("C"), e("D")
    }
    assert e("i7") in {x["s"] for x in r.instances(EX + "A").collect()}
    assert r.is_entailed(e("i7"), TYPE, e("B"))


# -- cone walk and job counts ------------------------------------------------

def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it launched, read from the
    status store by a job tag (as ``perfbench/tracing.py`` counts them)."""
    import uuid

    sc = spark.sparkContext
    tag = f"facade-test-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        out = fn()
    finally:
        sc.removeJobTag(tag)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None).iterator()
    n = 0
    while jobs.hasNext():
        n += jobs.next().jobTags().contains(tag)
    return out, n


def _sco_dag(n):
    """A seeded random subClassOf graph: each class gets up to two random
    superclasses among the classes before it, plus 2-cycles and a
    self-loop."""
    import random

    rnd = random.Random(7)
    edges = {(i, j) for i in range(1, n) for j in rnd.sample(range(i), min(i, 2))
             if rnd.random() < 0.7}
    edges |= {(3, 40), (40, 3), (120, 121), (121, 120), (77, 77)}
    return sorted(edges)


def _bfs(edges, seed, reverse):
    """Oracle: classes reachable from ``seed`` by a path of length >= 1."""
    nxt: dict = {}
    for a, b in edges:
        x, y = (b, a) if reverse else (a, b)
        nxt.setdefault(x, set()).add(y)
    seen, todo = set(), [seed]
    while todo:
        for y in nxt.get(todo.pop(), ()):
            if y not in seen:
                seen.add(y)
                todo.append(y)
    return seen


@pytest.mark.parametrize("kind", ["plain", "memory", "store", "vocab"])
def test_cone_walk_matches_bfs_oracle(spark, tmp_path, kind):
    """subclasses/superclasses of a random subClassOf graph (with 2-cycles
    and a self-loop) equal a BFS oracle, over a caller's DataFrame and over
    id-mode results in memory, in the bucketed store and over a strict
    caller vocabulary. Each hop is a Spark job or two, so the classes
    checked are the cycle members, the self-loop, the first and last class
    and a seeded sample, not all 200."""
    import random

    n = 200
    edges = _sco_dag(n)
    triples = [(e(f"k{a}"), SCO, e(f"k{b}")) for a, b in edges]
    if kind == "plain":
        r = Reasoner(triples_df(spark, triples).localCheckpoint())
    else:
        # a rule that never fires: the fixpoint is the asserted graph
        rules = load_rules_json(
            [{"name": "none", "body": [["?x", EX + "never", "?y"]],
              "head": [["?y", EX + "never", "?x"]]}]
        )
        opts = {"dict_encode": True}
        if kind == "store":
            opts.update(checkpoint_dir=str(tmp_path / "ck"), pred_partitioned=True)
        vocab = None
        if kind == "vocab":
            terms = sorted({t for tr in triples for t in tr})
            vocab = spark.createDataFrame([(t,) for t in terms], "term string")
        res = FixpointEngine(spark, rules, **opts).materialize(
            triples_df(spark, triples), vocab=vocab
        )
        r = Reasoner.from_result(res)
        assert r._ids and r._set
    picks = {0, 3, 40, 77, 120, 121, n - 1} | set(random.Random(11).sample(range(n), 5))
    for k in sorted(picks):
        for reverse, call in ((True, r.subclasses), (False, r.superclasses)):
            got = {x["cls"] for x in call(EX + f"k{k}").collect()}
            want = {e(f"k{j}") for j in _bfs(edges, k, reverse)}
            assert got == want, (kind, k, reverse)


def test_cone_walk_jobs_per_hop(spark):
    """subclasses(root) of a 4,095-class complete binary tree returns its
    4,094 descendants in at most two jobs per hop (12 hops, the last one
    empty) plus two for the answer: no per-key py4j call, no pickled rows."""
    from pyspark.sql import functions as F

    def node(c):
        return F.concat(F.lit(f"<{EX}t"), c.cast("string"), F.lit(">"))

    tree = spark.range(1, 4095).select(
        node(F.col("id")).alias("s"), F.lit(SCO).alias("p"),
        node(F.floor((F.col("id") - 1) / 2)).alias("o"),
    )
    r = Reasoner(tree.localCheckpoint())
    n, jobs = _jobs(spark, lambda: r.subclasses(EX + "t0").count())
    assert n == 4094
    depth = 11
    assert jobs <= 2 * (depth + 1) + 2, jobs


def test_from_result_call_job_counts(spark):
    """On a string-mode result, superclasses of a 2-level class runs in at
    most 5 jobs and instances in at most 2 (no distinct shuffle)."""
    strict = strict_superclass_triples([(s, o) for s, _, o in _ID_TBOX])
    rules = RuleSet(list(owl_rl_core()) + [indirect_type_rule()])
    res = FixpointEngine(spark, rules, dict_encode=False).materialize(
        triples_df(spark, _ID_TBOX + _ID_ABOX + strict)
    )
    r = Reasoner.from_result(res)
    assert not r._ids and r._set
    sups, jobs = _jobs(spark, lambda: r.superclasses(EX + "C").count())
    assert sups == 2 and jobs <= 5, jobs
    insts, jobs = _jobs(spark, lambda: r.instances(EX + "A").count())
    assert insts == 3 and jobs <= 2, jobs


@pytest.mark.parametrize("mode", ["string", "ids", "store"])
def test_result_relations_are_sets(spark, tmp_path, mode):
    """The facade skips ``distinct`` over a from_result relation, so facts,
    facts_ids and the store projection must hold each triple once: after
    materialize, after each of 3 incremental() batches (each re-asserting a
    known triple), and after resume() of the store."""
    t, sco, same = (iri[1:-1] for iri in (TYPE, SCO, SAME))
    rules = load_rules_json([
        {"name": "sco", "body": [["?a", sco, "?b"], ["?b", sco, "?c"]],
         "head": [["?a", sco, "?c"]]},
        {"name": "cax", "body": [["?x", t, "?a"], ["?a", sco, "?b"]],
         "head": [["?x", t, "?b"]]},
        {"name": "sym", "body": [["?x", same, "?y"]], "head": [["?y", same, "?x"]]},
    ])
    opts = {"dict_encode": mode != "string"}
    if mode == "store":
        opts.update(checkpoint_dir=str(tmp_path / "ck"), pred_partitioned=True)
    eng = FixpointEngine(spark, rules, **opts)
    asserted = _ID_TBOX + _ID_ABOX

    def assert_sets(res):
        rels = [res.facts, res.facts_ids]
        if res.facts_store is not None:
            rels.append(res.facts_store.select("s", "p", "o"))
        for rel in rels:
            if rel is not None:
                assert rel.count() == rel.distinct().count()
        assert (res.facts_ids is not None) == (mode != "string")
        assert (res.facts_store is not None) == (mode == "store")

    res = eng.materialize(triples_df(spark, asserted))
    assert_sets(res)
    for b in range(3):
        batch = [asserted[b], (e(f"n{b}"), TYPE, e("C")), (e(f"n{b}"), SAME, e("i2"))]
        res = eng.incremental(res, triples_df(spark, batch))
        asserted += batch[1:]
        assert_sets(res)
    if mode == "store":
        n = res.facts.count()
        again = FixpointEngine(spark, rules, **opts).resume(triples_df(spark, asserted))
        assert_sets(again)
        assert again.facts.count() == n
