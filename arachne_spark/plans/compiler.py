"""Single-pass entry points over one triples relation, compiled by
`sqlgen` (the repository's one compiler).

They replace the reference's Rete network construction (ReteNodes.scala,
RuleEngine.scala:8-48) for tests and tooling: `atom_relation` is one alpha
node (constants, repeated-variable guards, binding projection; R2-R4) and
`apply_rule_once` one naive pass of a rule (alpha nodes, beta join chain in
body order, production; R2-R6, R10). The fixpoint engine compiles its
semi-naive rounds with `sqlgen.variant_selects` directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from arachne_spark.plans.sqlgen import bgp_relation, sql_over, variant_selects
from arachne_spark.rules import Atom, Rule


def atom_relation(triples: DataFrame, atom: Atom) -> DataFrame:
    """Alpha node: filter by constants/guards, project variable bindings
    (columns: ``var_col`` names). A constant-only atom is an existence gate:
    zero columns, 0 or 1 rows."""
    return bgp_relation(triples, [atom])


def apply_rule_once(triples: DataFrame, rule: Rule) -> DataFrame:
    """Single naive pass of one rule over one facts relation: every body
    atom reads ``triples``; returns the instantiated head triples (s, p, o)."""
    k, has_pb = len(rule.body), "__pb" in triples.columns
    return sql_over(
        triples,
        lambda v: "\nUNION ALL\n".join(
            variant_selects(rule, 0, [v] * k, [has_pb] * k, {}, False, 0)
        ),
    )
