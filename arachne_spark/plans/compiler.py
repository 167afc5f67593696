"""Compile triple patterns and rule bodies to DataFrame plans.

The fixpoint engine compiles its rounds to SQL text (`sqlgen.py`); this
module compiles basic graph patterns for the query facade and SPARQL, and a
single naive rule pass for tests and tooling. It replaces the reference's
Rete network construction (ReteNodes.scala, RuleEngine.scala:8-48) with
declarative DataFrame plans:

- R1/R2 alpha selection  -> `facts.filter(const-position equalities)`; Catalyst
  pushes these to the scan (predicate pushdown), so the 8-way alpha dispatch
  (RuleEngine.scala:80-89) needs no runtime analogue.
- R3 repeated-variable guard -> equality filter applied UNIFORMLY (the reference
  checks only on right-activation, ReteNodes.scala:160-166 — documented divergence
  SURVEY N2; we implement standard Datalog semantics).
- R4 binding extraction -> projection of pattern positions to variable-named
  columns (ReteNodes.scala:168-178).
- R5 beta join -> `join(on=shared_var_columns)`; the reference's per-variable
  candidate-list intersection (ReteNodes.scala:128-132, 190-196) is exactly a
  composite equi-join key, and Spark/AQE picks broadcast vs shuffle-hash vs
  sort-merge per stage.
- R6 cross product (no shared vars) -> crossJoin (ReteNodes.scala:77,129,196).
- R10 production -> per-head-atom `select(lit(const)…, col(var)…)`, unioned
  (ReteNodes.scala:221-247). Bnodes in heads are constants (SURVEY N4).

All inputs/outputs use the encoded 3-column triple schema (model.py), so every
join key is a single string column per shared variable.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from arachne_spark.rules import Any_, Atom, Rule, Var, atom_vars

_POS = ("s", "p", "o")


def var_col(v: Var) -> str:
    """Variable -> stable, valid column name."""
    return "v_" + re.sub(r"\W", "_", v.name)


def atom_filter_condition(atom: Atom) -> Optional[Column]:
    """Constant-position equalities + repeated-variable guards (R2 + R3)."""
    conds: list[Column] = []
    for t, c in zip(atom, _POS):
        if isinstance(t, (Var, Any_)):
            continue
        conds.append(F.col(c) == F.lit(t))
    s, p, o = atom
    if isinstance(s, Var):
        if s == p:
            conds.append(F.col("s") == F.col("p"))
        if s == o:
            conds.append(F.col("s") == F.col("o"))
    if isinstance(p, Var) and p == o:
        conds.append(F.col("p") == F.col("o"))
    if not conds:
        return None
    return reduce(lambda a, b: a & b, conds)


def alpha_filter(triples: DataFrame, atom: Atom) -> DataFrame:
    """The alpha selection (R2): constants + repeated-var guards only; the
    projection to variable names is a separate step (`bind_vars`), as in the
    reference where AlphaNodes select and bindings are per-pattern."""
    cond = atom_filter_condition(atom)
    return triples.filter(cond) if cond is not None else triples


def bind_vars(filtered: DataFrame, atom: Atom) -> DataFrame:
    """Binding extraction (R4): project pattern positions to variable columns.

    A constant-only atom (no variables) returns a zero-column, 0-or-1-row
    DataFrame acting as an existence gate (R6 corner: facts are a set, so at
    most one row can match).
    """
    cols: list[Column] = []
    seen: set[Var] = set()
    for t, c in zip(atom, _POS):
        if isinstance(t, Var) and t not in seen:
            seen.add(t)
            cols.append(F.col(c).alias(var_col(t)))
    if not cols:
        return filtered.limit(1).select()
    return filtered.select(*cols)


def atom_relation(triples: DataFrame, atom: Atom) -> DataFrame:
    """Alpha node: filter by constants/guards, project variable bindings (R2-R4)."""
    return bind_vars(alpha_filter(triples, atom), atom)


def join_chain(rels: Sequence[DataFrame], atoms: Sequence[Atom]) -> DataFrame:
    """Chain of equi-joins over shared variables, in author order (O8).

    ``rels[i]`` is the already-projected binding relation for atom i (columns =
    variable columns). Catalyst and AQE choose join physicals; body order is
    the logical chain only, as in the reference (join order = rule body order,
    RuleEngine.scala:17-27).
    """
    cur: Optional[DataFrame] = None
    bound: set[Var] = set()
    for rel, atom in zip(rels, atoms):
        avars = set(atom_vars(atom))
        if cur is None:
            cur = rel
        else:
            shared = [var_col(v) for v in sorted(bound & avars, key=lambda v: v.name)]
            if shared:
                cur = cur.join(rel, on=shared, how="inner")
            else:
                cur = cur.crossJoin(rel)
        bound |= avars
    assert cur is not None
    return cur


def compile_body(
    atom_dfs: Sequence[DataFrame], atoms: Sequence[Atom]
) -> DataFrame:
    """Alpha selection + beta join chain: ``atom_dfs[i]`` is the triples
    DataFrame to match atom i against (the semi-naive driver passes
    delta/full/old variants per position)."""
    return join_chain(
        [atom_relation(df, a) for df, a in zip(atom_dfs, atoms)], atoms
    )


def apply_head(
    bound: DataFrame, head: Sequence[Atom], extra: Sequence[Column] = ()
) -> DataFrame:
    """Production node: instantiate head templates from bindings (R10).
    ``extra`` columns (e.g. the provenance body-triple array) are appended to
    every head atom's projection."""
    outs = []
    for atom in head:
        cols = []
        for t, c in zip(atom, _POS):
            if isinstance(t, Var):
                cols.append(F.col(var_col(t)).alias(c))
            else:
                cols.append(F.lit(t).alias(c))
        outs.append(bound.select(*cols, *extra))
    return reduce(DataFrame.unionByName, outs)


def apply_rule_once(triples: DataFrame, rule: Rule) -> DataFrame:
    """Single naive pass of one rule over one facts relation (tests/tooling)."""
    bound = compile_body([triples] * len(rule.body), rule.body)
    return apply_head(bound, rule.head)
