"""SQL-text compilation of rule bodies and basic graph patterns: the one
compiler of the repository.

A rule body and a BGP are the same thing, a self-join of the triple table
(one alias per atom), so both compile through one body helper (`_body`):

- alpha selection  -> constant equalities in WHERE (pushed to the scans);
- repeated-var guards (R3, applied uniformly: SURVEY N2) -> the same
  equalities via first-binding refs;
- beta join (R5)   -> CROSS JOIN + WHERE var equalities; Catalyst's
  PushPredicateThroughJoin turns these into inner equi-joins;
- true cross products (R6) stay cartesian;
- const-only existence gates -> `(SELECT 1 FROM rel WHERE ... LIMIT 1)`
  subqueries (facts are a set, so at most one row can match);
- `__pb` bucket pruning and `p IN (...)` value-level restriction are plain
  WHERE conditions (foldable bucket expressions still partition-prune).

On top of it:

- `variant_selects` compiles one semi-naive rule variant of a fixpoint
  round. Emitting a round's whole derived union as ONE SQL string costs a
  single py4j call and a single JVM parse+analyze pass; the DataFrame API
  issued ~150-200 py4j calls per round, each eagerly re-analyzing its growing
  plan subtree — measured 0.4-0.7 s of driver time per round on the OWL-RL
  rule set, against 0.02-0.06 s here (plans/r06/fixpoint_tc_rounds_{before,
  after}.txt: identical executed plans). Broadcast-sized deltas keep their
  driver-known hint via `/*+ BROADCAST */` on variants whose FROM holds more
  than one relation. With provenance (R12) each body atom contributes its
  matched triple as a `named_struct('s', .., 'p', .., 'o', ..)` — a gate
  subquery selects the struct instead of 1 — and every head SELECT appends
  `array(...) AS body, '<rule>' AS rule_name`.
- `bgp_select` compiles a BGP of the query facade and SPARQL to one SELECT
  of its variable columns (``var_col`` names, first-binding order).
- `head_selects` is the production node (R10): one SELECT per head atom,
  UNION ALL'd by the caller (positionally s, p, o); SPARQL CONSTRUCT and
  `construct_bgp` run it over the decoded bindings.

Constants become SQL through a key and a bucket (`key_sql`, `pb_sql`):
string literals on strings, foldable `xxhash64('<t>'[, salt])` on ids (a
string constant queried against a dictionary-encoded relation), and the
`__pb` partition bucket on the predicate-bucketed store. They are the one
owner of that arithmetic; DataFrame filters use `F.expr` of the same text.

Beta-prefix sharing across rules (C3) needs no analogue: a shared prefix
still executes once per union branch physically (Catalyst only reuses
exchanges/subqueries), so repeating the join text is execution-identical.
"""

from __future__ import annotations

import re
import uuid
from typing import Callable, Optional, Sequence

from arachne_spark.rules import Any_, Atom, Rule, Var, atom_vars

_POS = ("s", "p", "o")

# Predicate-bucketed store: rows live under __pb = pmod(hash(p), PB_BUCKETS)
# (engine.py writes it; every constant-predicate scan prunes on it)
PB_BUCKETS = 64


def var_col(v: Var) -> str:
    """Variable -> column name, one per variable even under Spark's
    case-insensitive column resolution (SPARQL's ``?x`` and ``?X`` are two
    variables). A name of lowercase ASCII letters, digits and ``_`` keeps
    its text (``v_<name>``); any other name gets the ``w_`` prefix and
    spells every character outside ``[a-z0-9]`` as ``_<hex code point>_``,
    so its column is lowercase too and decodes back to one name."""
    if re.fullmatch(r"[a-z0-9_]+", v.name):
        return "v_" + v.name
    return "w_" + "".join(
        c if re.fullmatch(r"[a-z0-9]", c) else f"_{ord(c):x}_" for c in v.name
    )


def sql_lit(v) -> str:
    """A Spark SQL literal for a rule constant: long ids go through CAST so
    LONG_MIN parses (a bare -9223372036854775808L trips the unary-minus
    literal bound); strings escape backslashes and quotes (Spark's default
    non-ANSI parser interprets backslash escapes in string literals)."""
    if isinstance(v, int):
        return f"CAST({v} AS BIGINT)"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def key_sql(t, salt: Optional[int] = None) -> str:
    """Constant ``t`` as a key of the relation it is compared against: the
    literal itself when it is already in the relation's representation
    (``salt`` None: strings on strings, long ids on ids), else the foldable
    id ``xxhash64('<t>'[, salt])`` of an encoded term queried against ids
    (the salt only participates when non-zero, as in ``term_id_col``)."""
    if salt is None or isinstance(t, int):
        return sql_lit(t)
    if salt == 0:
        return f"xxhash64({sql_lit(t)})"
    return f"xxhash64({sql_lit(t)}, {salt})"


def pb_sql(p, salt: Optional[int] = None) -> str:
    """Foldable ``__pb`` bucket of a constant predicate (partition pruning
    evaluates it at planning time): the store writes pmod(p) over long ids
    and pmod(xxhash64(p)) over strings, so an encoded term's bucket is
    pmod of its id (salt 0 in string mode, where both agree)."""
    if isinstance(p, int):
        return str(p % PB_BUCKETS)
    return f"pmod({key_sql(p, salt or 0)}, {PB_BUCKETS})"


def _triple_struct(qual: str) -> str:
    """The matched triple of one body atom, as a provenance struct."""
    return "named_struct(" + ", ".join(f"'{c}', {qual}{c}" for c in _POS) + ")"


def _body(
    atoms: Sequence[Atom],
    views: Sequence[str],
    has_pb: Sequence[bool],
    salt: Optional[int] = None,
    restrict: Optional[dict[int, frozenset]] = None,
    pred_pb_cap: int = 0,
    provenance: bool = False,
) -> tuple[dict[Var, str], str, list[str]]:
    """Compile a body (atom j matched against ``views[j]``, alias ``tj``).

    Returns the first-binding ref of every variable (in binding order), the
    ``FROM ... [WHERE ...]`` tail (one FROM relation per atom) and each
    atom's provenance expression. Constants render through ``key_sql`` and
    ``pb_sql`` with ``salt``; ``restrict[j]`` is the value-level
    allowed-predicate set for atom j's variable predicate."""
    bound: dict[Var, str] = {}
    from_parts: list[str] = []
    where: list[str] = []
    body: list[str] = []
    for j, atom in enumerate(atoms):
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
            conds.append(f"{qual}{c} = {key_sql(t, salt)}")
            if c == "p" and has_pb[j]:
                conds.append(f"{qual}__pb = {pb_sql(t, salt)}")
        if restrict and j in restrict:
            allowed = sorted(restrict[j])
            conds.append(
                f"{qual}p IN ({', '.join(key_sql(p, salt) for p in allowed)})"
            )
            if has_pb[j] and 0 < len(allowed) <= pred_pb_cap:
                pbs = sorted({pb_sql(p, salt) for p in allowed})
                conds.append(
                    "(" + " OR ".join(f"{qual}__pb = {e}" for e in pbs) + ")"
                )
        if has_var:
            from_parts.append(f"{views[j]} {alias}")
            where.extend(conds)
            body.append(_triple_struct(qual))
        else:
            # constant-only existence gate: 0-or-1 rows, conditions inside
            # the subquery so LIMIT applies after the filter
            inner = " WHERE " + " AND ".join(conds) if conds else ""
            gate = _triple_struct("") if provenance else "1"
            from_parts.append(
                f"(SELECT {gate} AS __g{j} FROM {views[j]}{inner} LIMIT 1) {alias}"
            )
            body.append(f"{alias}.__g{j}")
    tail = "FROM " + " CROSS JOIN ".join(from_parts)
    if where:
        tail += " WHERE " + " AND ".join(where)
    return bound, tail, body


def head_selects(
    head: Sequence[Atom],
    refs: dict[Var, str],
    tail: str,
    *,
    hint: str = "",
    extra: Sequence[str] = (),
) -> list[str]:
    """Production node (R10): one ``SELECT ... AS s, ... AS p, ... AS o``
    per head atom over ``tail`` (``FROM ...``), each variable read from its
    ref, each constant a literal (bnodes in heads are constants, SURVEY N4);
    ``extra`` columns are appended to every SELECT."""
    outs = []
    for atom in head:
        cols = [
            f"{refs[t]} AS {c}" if isinstance(t, Var) else f"{sql_lit(t)} AS {c}"
            for t, c in zip(atom, _POS)
        ]
        outs.append(f"SELECT {hint}{', '.join([*cols, *extra])} {tail}")
    return outs


def variant_selects(
    rule: Rule,
    variant: int,
    rel_views: Sequence[str],
    rel_has_pb: Sequence[bool],
    restrict: dict[int, frozenset],
    broadcast_delta: bool,
    pred_pb_cap: int,
    provenance: Optional[str] = None,
) -> list[str]:
    """One SELECT statement per head atom for rule-variant ``variant``.

    ``rel_views[j]`` is the registered view matching body atom j (facts /
    delta / facts_old per the semi-naive position rules); ``restrict[j]`` is
    the value-level allowed-predicate set for atom j's variable predicate.
    Rule constants are already in the relations' representation. With
    ``provenance`` (the rule name) set, each SELECT also yields the matched
    body triples as ``body`` and the rule name as ``rule_name``.
    """
    bound, tail, body = _body(
        rule.body, rel_views, rel_has_pb, None,
        restrict, pred_pb_cap, provenance is not None,
    )
    # a hint needs a join to act on: a 1-relation FROM would only log a
    # HintErrorLogger warning every round
    delta_has_var = any(isinstance(t, Var) for t in rule.body[variant])
    hint = (
        f"/*+ BROADCAST(t{variant}) */ "
        if broadcast_delta and delta_has_var and len(rule.body) > 1
        else ""
    )
    extra = ()
    if provenance is not None:
        extra = (f"array({', '.join(body)}) AS body",
                 f"{sql_lit(provenance)} AS rule_name")
    return head_selects(rule.head, bound, tail, hint=hint, extra=extra)


def bgp_select(
    atoms: Sequence[Atom], view: str, has_pb: bool, salt: Optional[int] = None
) -> str:
    """One SELECT of a BGP's solutions over ``view``: every atom matches
    the same relation, its variables bound in first-binding order as
    backtick-quoted ``var_col`` columns. ``salt`` (an int) hashes the
    atoms' encoded-term constants to ids; None compares them as they are.
    An all-constant BGP selects its first gate's column (callers drop it)."""
    bound, tail, _ = _body(
        atoms, [view] * len(atoms), [has_pb] * len(atoms), salt
    )
    cols = [f"{ref} AS `{var_col(v)}`" for v, ref in bound.items()]
    return f"SELECT {', '.join(cols) or 't0.__g0'} {tail}"


def sql_over(rel, sql_of: Callable[[str], str]):
    """``sql_of(view)`` run over ``rel`` registered as a uniquely named
    temp view of its own session; the view is dropped once the statement is
    analyzed (the returned DataFrame keeps the resolved plan). No
    ``spark.sql(text, **kwargs)``: its ``str.format`` would read a ``{`` in
    a constant as a field."""
    spark = rel.sparkSession
    view = f"__arachne_q{uuid.uuid4().hex}"
    rel.createOrReplaceTempView(view)
    try:
        return spark.sql(sql_of(view))
    finally:
        spark.catalog.dropTempView(view)


def bgp_relation(rel, atoms: Sequence[Atom], salt: Optional[int] = None):
    """BGP solutions over ``rel`` (columns: ``var_col`` names). An
    all-constant BGP is an existence gate: zero columns, 0 or 1 rows."""
    out = sql_over(
        rel, lambda v: bgp_select(atoms, v, "__pb" in rel.columns, salt)
    )
    return out if any(atom_vars(a) for a in atoms) else out.select()


def head_relation(bound, head: Sequence[Atom]):
    """Head atoms instantiated from a bindings relation whose columns are
    ``var_col`` names (SPARQL CONSTRUCT, ``construct_bgp``): (s, p, o)."""
    def sql_of(view: str) -> str:
        refs = {v: f"`{var_col(v)}`" for a in head for v in atom_vars(a)}
        return "\nUNION ALL\n".join(head_selects(head, refs, f"FROM {view}"))

    return sql_over(bound, sql_of)
