"""Facade Q1-Q14 over a materialized facts view (ArachneOWLReasoner.scala map)."""

import pytest

from arachne_spark.engine import FixpointEngine
from arachne_spark.facade import Reasoner, transitive_closure
from arachne_spark.model import encode_iri, encode_literal
from arachne_spark.owlrl import owl_rl_core, indirect_type_rule, strict_superclass_triples
from arachne_spark.rules import RuleSet, Var
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
    assert not r._cone_cache and r._sco_edges_df is None
    assert {x["cls"] for x in r.subclasses(EX + "A").collect()} == {
        e("B"), e("C"), e("D")
    }
    assert e("i7") in {x["s"] for x in r.instances(EX + "A").collect()}
    assert r.is_entailed(e("i7"), TYPE, e("B"))
