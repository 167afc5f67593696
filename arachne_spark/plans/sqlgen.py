"""SQL-text compilation of semi-naive rule variants: the engine's one round
compiler.

Emitting a round's whole derived union as ONE SQL string costs a single
py4j call and a single JVM parse+analyze pass. Building the same union with
the DataFrame API issued ~150-200 py4j calls per round, each eagerly
re-analyzing its growing plan subtree — measured 0.4-0.7 s of driver time
per round on the OWL-RL rule set, against 0.02-0.06 s here
(plans/r06/fixpoint_tc_rounds_{before,after}.txt: identical executed plans).

The shapes mirror `compiler.join_chain`/`apply_head`, which still compile
the facade's and SPARQL's BGPs:

- alpha selection  -> constant equalities in WHERE (pushed to the scans);
- repeated-var guards (R3) -> the same equalities via first-binding refs;
- beta join (R5)   -> CROSS JOIN + WHERE var equalities; Catalyst's
  PushPredicateThroughJoin turns these into inner equi-joins;
- true cross products (R6) stay cartesian;
- const-only existence gates -> `(SELECT 1 FROM rel WHERE ... LIMIT 1)`
  subqueries (facts are a set, so at most one row can match);
- head construction (R10) -> one SELECT per head atom, UNION ALL across
  variants (positionally s, p, o).
- broadcast-sized deltas keep their driver-known hint via `/*+ BROADCAST */`
  on variants whose FROM holds more than one relation.
- `__pb` bucket pruning and `p IN (...)` value-level restriction are plain
  WHERE conditions (foldable bucket expressions still partition-prune).
- provenance (R12): each body atom contributes its matched triple as a
  `named_struct('s', .., 'p', .., 'o', ..)` — a gate subquery selects the
  struct instead of 1 — and every head SELECT appends
  `array(...) AS body, '<rule>' AS rule_name`.

Beta-prefix sharing across rules (C3) needs no analogue: a shared prefix
still executes once per union branch physically (Catalyst only reuses
exchanges/subqueries), so repeating the join text is execution-identical.
"""

from __future__ import annotations

from typing import Optional, Sequence

from arachne_spark.rules import Any_, Rule, Var

_POS = ("s", "p", "o")

# view names the engine registers per round
FACTS_VIEW = "__arachne_facts"
DELTA_VIEW = "__arachne_delta"
FOLD_VIEW = "__arachne_fold"


def sql_lit(v) -> str:
    """A Spark SQL literal for a rule constant: long ids go through CAST so
    LONG_MIN parses (a bare -9223372036854775808L trips the unary-minus
    literal bound); strings escape backslashes and quotes (Spark's default
    non-ANSI parser interprets backslash escapes in string literals)."""
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def _pb_expr(p, pb_buckets: int) -> str:
    """Foldable bucket expression for a constant predicate (partition
    pruning on the __pb store column) — mirrors engine._pb_of_const."""
    if isinstance(p, int):
        return str(p % pb_buckets)
    return f"pmod(xxhash64({sql_lit(p)}), {pb_buckets})"


def _triple_struct(qual: str) -> str:
    """The matched triple of one body atom, as a provenance struct."""
    return "named_struct(" + ", ".join(f"'{c}', {qual}{c}" for c in _POS) + ")"


def variant_selects(
    rule: Rule,
    variant: int,
    rel_views: Sequence[str],
    rel_has_pb: Sequence[bool],
    restrict: dict[int, frozenset],
    broadcast_delta: bool,
    pb_buckets: int,
    pred_pb_cap: int,
    provenance: Optional[str] = None,
) -> list[str]:
    """One SELECT statement per head atom for rule-variant ``variant``.

    ``rel_views[j]`` is the registered view matching body atom j (facts /
    delta / facts_old per the semi-naive position rules); ``restrict[j]`` is
    the value-level allowed-predicate set for atom j's variable predicate.
    With ``provenance`` (the rule name) set, each SELECT also yields the
    matched body triples as ``body`` and the rule name as ``rule_name``.
    """
    bound: dict[Var, str] = {}
    from_parts: list[str] = []
    where: list[str] = []
    body: list[str] = []
    delta_alias: Optional[str] = None
    for j, atom in enumerate(rule.body):
        alias = f"t{j}"
        has_var = any(isinstance(t, Var) for t in atom)
        # a constant-only atom compiles to an unqualified existence
        # subquery, so its conditions reference bare column names (no var
        # can bind there, so no cross-atom reference is possible either)
        qual = f"{alias}." if has_var else ""
        conds: list[str] = []
        for t, c in zip(atom, _POS):
            if isinstance(t, Any_):
                continue
            if isinstance(t, Var):
                ref = f"{alias}.{c}"
                if t in bound:
                    conds.append(f"{ref} = {bound[t]}")
                else:
                    bound[t] = ref
                continue
            conds.append(f"{qual}{c} = {sql_lit(t)}")
            if c == "p" and rel_has_pb[j]:
                conds.append(f"{qual}__pb = {_pb_expr(t, pb_buckets)}")
        if j in restrict:
            allowed = sorted(restrict[j])
            conds.append(
                f"{qual}p IN ({', '.join(sql_lit(p) for p in allowed)})"
            )
            if rel_has_pb[j] and 0 < len(allowed) <= pred_pb_cap:
                pbs = sorted({_pb_expr(p, pb_buckets) for p in allowed})
                conds.append(
                    "(" + " OR ".join(f"{qual}__pb = {e}" for e in pbs) + ")"
                )
        if has_var:
            from_parts.append(f"{rel_views[j]} {alias}")
            where.extend(conds)
            body.append(_triple_struct(qual))
            if j == variant:
                delta_alias = alias
        else:
            # constant-only existence gate: 0-or-1 rows, conditions inside
            # the subquery so LIMIT applies after the filter
            inner = " WHERE " + " AND ".join(conds) if conds else ""
            gate = "1" if provenance is None else _triple_struct("")
            from_parts.append(
                f"(SELECT {gate} AS __g{j} FROM {rel_views[j]}{inner} LIMIT 1) {alias}"
            )
            body.append(f"{alias}.__g{j}")
    # a hint needs a join to act on: a 1-relation FROM would only log a
    # HintErrorLogger warning every round
    hint = (
        f"/*+ BROADCAST({delta_alias}) */ "
        if broadcast_delta and delta_alias is not None and len(from_parts) > 1
        else ""
    )
    from_sql = " CROSS JOIN ".join(from_parts)
    where_sql = (" WHERE " + " AND ".join(where)) if where else ""
    outs = []
    for head in rule.head:
        cols = []
        for t, c in zip(head, _POS):
            if isinstance(t, Var):
                cols.append(f"{bound[t]} AS {c}")
            else:
                cols.append(f"{sql_lit(t)} AS {c}")
        if provenance is not None:
            cols.append(f"array({', '.join(body)}) AS body")
            cols.append(f"{sql_lit(provenance)} AS rule_name")
        outs.append(
            f"SELECT {hint}{', '.join(cols)} FROM {from_sql}{where_sql}"
        )
    return outs
