"""BGP parity: select_bgp, ask_bgp and construct_bgp answer exactly as a
pure-Python matcher, on seeded random basic graph patterns (1-3 atoms,
repeated variables, variable predicates, wildcards, all-constant atoms) whose
constants carry quotes, backslashes, braces, a newline and non-ASCII text —
over strings, in-memory ids under a salted dictionary (salt 1) and the
predicate-bucketed store in both representations (its ids under salt 0)."""

import itertools
import random

import pytest

from arachne_spark.dictionary import encode_ids
from arachne_spark.engine import FixpointEngine
from arachne_spark.facade import Reasoner
from arachne_spark.plans.sqlgen import var_col
from arachne_spark.rules import ANY, Any_, Var, load_rules_json
from tests.conftest import spo_set, triples_df

EX = "http://ex/"
ODD = ['"it\'s"', '"back\\slash"', '"{x} {}"', '"line1\nline2"', '"café δ"', f"<{EX}é>"]
NODES = [f"<{EX}n{i}>" for i in range(4)] + ODD
PREDS = [f"<{EX}p>", f"<{EX}q>", "<it's:p>", "<{p}>"]


def _data():
    rng = random.Random(11)
    rows = {(n, rng.choice(PREDS), rng.choice(NODES)) for n in NODES for _ in range(2)}
    rows |= {(NODES[0], PREDS[1], NODES[0]), (ODD[2], PREDS[3], ODD[2])}  # s == o
    rows.add((PREDS[0], PREDS[0], NODES[1]))  # a predicate as a subject
    return sorted(rows)


def _bgps(rows, n=4, seed=25):
    """Generalize sampled ground triples: each term becomes its own
    variable (shared terms give joins and repeated variables), stays a
    constant, or becomes a wildcard; one pattern in four has a miss."""
    rng = random.Random(seed)
    out = []
    while len(out) < n:
        ground = rng.sample(rows, rng.randint(1, 3))
        names = {}
        bgp = []
        for tr in ground:
            atom = []
            for pos, t in enumerate(tr):
                r = rng.random()
                if r < 0.55:
                    atom.append(names.setdefault(t, Var(f"v{len(names)}")))
                elif r < 0.65 and pos != 1:
                    atom.append(ANY)
                else:
                    atom.append(t)
            bgp.append(tuple(atom))
        if rng.random() < 0.25:
            j = rng.randrange(len(bgp))
            bgp[j] = (bgp[j][0], rng.choice(PREDS), bgp[j][2])
        if len(out) == 0:
            bgp = [tuple(ground[0])] + bgp  # an all-constant gate atom
        out.append(bgp)
    return out


def _solutions(rows, bgp):
    """The BGP's solutions as a bag of binding dicts (a gate atom, having
    no variable, contributes at most one match)."""
    sols = [{}]
    for atom in bgp:
        nxt = []
        for b in sols:
            seen_gate = False
            for tr in rows:
                bb = dict(b)
                if all(_unify(bb, t, v) for t, v in zip(atom, tr)):
                    if not any(isinstance(t, Var) for t in atom):
                        if seen_gate:
                            continue
                        seen_gate = True
                    nxt.append(bb)
        sols = nxt
    return sols


def _unify(b, t, v):
    if isinstance(t, Any_):
        return True
    if isinstance(t, Var):
        return b.setdefault(t, v) == v
    return t == v


@pytest.fixture(scope="module")
def reasoners(spark, tmp_path_factory):
    rows = _data()
    rules = load_rules_json(
        [{"name": "never", "body": [["?x", EX + "never", "?y"]],
          "head": [["?y", EX + "never", "?x"]]}]
    )
    df = triples_df(spark, rows)
    ck = tmp_path_factory.mktemp("bgp")
    out = {"strings": Reasoner(df)}
    eng = FixpointEngine(spark, rules)
    vocab = spark.createDataFrame([(t,) for t in sorted(set(itertools.chain(*rows)))], "term string")
    salt, term_dict = eng.build_dictionary(vocab, start_salt=1)
    assert salt == 1
    res = eng.materialize_encoded(encode_ids(df, salt), term_dict=term_dict, salt=salt)
    out["ids salt 1"] = Reasoner.from_result(res)
    for ids in (False, True):
        eng = FixpointEngine(
            spark, rules, dict_encode=ids, pred_partitioned=True,
            checkpoint_dir=str(ck / f"store{int(ids)}"),
        )
        res = eng.materialize(df)
        assert res.facts_store is not None and res.salt == 0
        out[f"store {'ids' if ids else 'strings'}"] = Reasoner.from_result(res)
    return rows, out


def test_bgp_calls_match_python_matcher(reasoners):
    rows, rs = reasoners
    assert len(rs) == 4
    for n, bgp in enumerate(_bgps(rows)):
        sols = _solutions(rows, bgp)
        bvars = list(dict.fromkeys(t for a in bgp for t in a if isinstance(t, Var)))
        want = sorted(tuple(b[v] for v in bvars) for b in sols)
        tmpl = [(bvars[-1] if bvars else ODD[0], f"<{EX}made>", ODD[n % len(ODD)])]
        want_c = {tuple(b.get(t, t) for t in tmpl[0]) for b in sols}
        for name, r in rs.items():
            where = f"{name}: {bgp}"
            got = r.select_bgp(bgp)
            assert got.columns == [var_col(v) for v in bvars], where
            assert sorted(tuple(x) for x in got.collect()) == want, where
            assert r.ask_bgp(bgp) == bool(sols), where
            assert spo_set(r.construct_bgp(bgp, tmpl)) == want_c, where


def test_bgp_views_dropped(spark, reasoners):
    """Each call's temp view is dropped once its SQL is analyzed, also when
    analysis fails (a template variable the pattern never binds)."""
    _, rs = reasoners
    x = Var("x")
    r = rs["strings"]
    assert r.select_bgp([(x, PREDS[0], ANY)]).count() > 0
    with pytest.raises(Exception, match="v_unbound"):
        r.construct_bgp([(x, PREDS[0], ANY)], [(Var("unbound"), PREDS[0], x)])
    assert not [t.name for t in spark.catalog.listTables() if "__arachne_q" in t.name]
