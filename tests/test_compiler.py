"""Pattern -> plan compilation: alpha selection, binding projection,
repeated-variable guards (uniform, SURVEY N2), beta join, cross product,
head construction."""

import pytest

from arachne_spark.plans.compiler import apply_rule_once, atom_relation
from arachne_spark.rules import ANY, Var, rule_from_dict
from tests.conftest import spo_set, triples_df

X, Y, P = Var("x"), Var("y"), Var("p")

T1 = [
    ("<a>", "<p>", "<b>"),
    ("<b>", "<p>", "<c>"),
    ("<a>", "<q>", "<a>"),
    ("<a>", "<q>", '"lit"'),
]


def test_alpha_selection_consts(spark):
    df = triples_df(spark, T1)
    rel = atom_relation(df, (X, "<p>", Y))
    rows = {(r.v_x, r.v_y) for r in rel.collect()}
    assert rows == {("<a>", "<b>"), ("<b>", "<c>")}


def test_repeated_var_guard(spark):
    df = triples_df(spark, T1)
    rel = atom_relation(df, (X, "<q>", X))  # s == o required, uniformly (N2)
    rows = {r.v_x for r in rel.collect()}
    assert rows == {"<a>"}


def test_wildcard_matches_anything_binds_nothing(spark):
    df = triples_df(spark, T1)
    rel = atom_relation(df, (X, ANY, ANY))
    assert rel.columns == ["v_x"]
    assert {r.v_x for r in rel.collect()} == {"<a>", "<b>"}


def test_const_only_atom_is_existence_gate(spark):
    df = triples_df(spark, T1)
    rel = atom_relation(df, ("<a>", "<p>", "<b>"))
    assert rel.columns == [] and rel.count() == 1
    rel0 = atom_relation(df, ("<zz>", "<p>", "<b>"))
    assert rel0.count() == 0


def test_predicate_variable_binding(spark):
    df = triples_df(spark, T1)
    rel = atom_relation(df, ("<a>", P, Y))
    rows = {(r.v_p, r.v_y) for r in rel.collect()}
    assert rows == {("<p>", "<b>"), ("<q>", "<a>"), ("<q>", '"lit"')}


def test_two_atom_join(spark):
    df = triples_df(spark, T1)
    rule = rule_from_dict(
        {"name": "chain", "body": [["?x", "p", "?y"], ["?y", "p", "?z"]],
         "head": [["?x", "r", "?z"]]}
    )
    out = spo_set(apply_rule_once(df, rule))
    assert out == {("<a>", "<r>", "<c>")}


def test_cross_product_no_shared_vars(spark):
    df = triples_df(spark, [("<a>", "<p>", "<b>"), ("<c>", "<q>", "<d>")])
    rule = rule_from_dict(
        {"name": "cross", "body": [["?x", "p", None], ["?y", "q", None]],
         "head": [["?x", "r", "?y"]]}
    )
    out = spo_set(apply_rule_once(df, rule))
    assert out == {("<a>", "<r>", "<c>")}


def test_head_constants_and_multi_atom(spark):
    df = triples_df(spark, [("<a>", "<p>", "<b>")])
    rule = rule_from_dict(
        {"name": "h", "body": [["?x", "p", "?y"]],
         "head": [["?x", "t", "C"], ["_:marker", "t2", "?y"]]}
    )
    out = spo_set(apply_rule_once(df, rule))
    assert out == {("<a>", "<t>", "<C>"), ("_:marker", "<t2>", "<b>")}


def test_literal_never_joins_resource(spark):
    # '"x"' (literal) and '<x>' (IRI) are distinct join keys by encoding
    df = triples_df(spark, [("<s>", "<p>", '"x"'), ("<x>", "<q>", "<o>")])
    rule = rule_from_dict(
        {"name": "j", "body": [["?a", "p", "?m"], ["?m", "q", "?b"]],
         "head": [["?a", "r", "?b"]]}
    )
    assert spo_set(apply_rule_once(df, rule)) == set()


def test_beta_prefix_sharing(spark):
    """C3: rules with alpha-identical leading atoms (up to variable renaming)
    reach the oracle's fixpoint; each rule's round SQL repeats the shared
    prefix, which executes once per union branch either way."""
    from arachne_spark.engine import FixpointEngine
    from arachne_spark.rules import load_rules_json
    from arachne_spark.oracle import naive_fixpoint
    from tests.conftest import spo_set, triples_df

    # cls-hv1/cls-hv2 shape: shared 2-atom prefix, different third atom
    rules = load_rules_json(
        [
            {"name": "hv1",
             "body": [["?c", "p:onProp", "?p"], ["?c", "p:hasVal", "?y"], ["?x", "p:type", "?c"]],
             "head": [["?x", "p:rel", "?y"]]},
            {"name": "hv2",
             "body": [["?k", "p:onProp", "?q"], ["?k", "p:hasVal", "?v"], ["?z", "p:other", "?k"]],
             "head": [["?z", "p:rel2", "?v"]]},
        ]
    )
    data = [
        ("<R1>", "<p:onProp>", "<prop>"),
        ("<R1>", "<p:hasVal>", "<val>"),
        ("<i>", "<p:type>", "<R1>"),
        ("<j>", "<p:other>", "<R1>"),
    ]
    res = FixpointEngine(spark, rules, dict_encode=False).materialize(
        triples_df(spark, data)
    )
    assert spo_set(res.facts) == naive_fixpoint(data, rules)
