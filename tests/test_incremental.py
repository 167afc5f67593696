"""incremental() continues from the previous result's exact gate counts and
TBox-slice cache: batches must equal a one-shot materialize and the oracle in
every representation, no grouped stats job may run without lineage tracking,
and a failing round must not leak its temp views."""

import random

import pytest

from arachne_spark.engine import FixpointEngine
from arachne_spark.oracle import naive_fixpoint
from arachne_spark.rules import load_rules_json
from tests.conftest import spo_set, triples_df

EX = "http://ex/"
TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
SPO = "http://www.w3.org/2000/01/rdf-schema#subPropertyOf"
SCO = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
TRANS = "http://www.w3.org/2002/07/owl#TransitiveProperty"

# OWL-RL-shaped rules whose var-predicate atoms are constrained by TBox
# slices (subPropertyOf, TransitiveProperty typing): the slice cache and the
# gate counts both carry over between batches
RULES = [
    {"name": "prp-spo1", "body": [["?p", SPO, "?q"], ["?x", "?p", "?y"]],
     "head": [["?x", "?q", "?y"]]},
    {"name": "prp-trp", "body": [["?p", TYPE, TRANS], ["?x", "?p", "?y"],
                                 ["?y", "?p", "?z"]],
     "head": [["?x", "?p", "?z"]]},
    {"name": "cax-sco", "body": [["?c", SCO, "?d"], ["?x", TYPE, "?c"]],
     "head": [["?x", TYPE, "?d"]]},
]
# a different rule set (different gate-key signature) that derives a subset
# of RULES' consequences, so RULES' fixpoint is closed under it too
RULES_B = RULES[:1] + RULES[2:]


def _iri(x):
    return f"<{x}>"


def _tbox():
    return [
        (_iri(EX + "p0"), _iri(SPO), _iri(EX + "p1")),
        (_iri(EX + "p1"), _iri(TYPE), _iri(TRANS)),
        (_iri(EX + "C0"), _iri(SCO), _iri(EX + "C1")),
    ]


def _abox(rng, n):
    ind = [_iri(f"{EX}i{k}") for k in range(8)]
    out = set()
    while len(out) < n:
        if rng.random() < 0.3:
            out.add((rng.choice(ind), _iri(TYPE), _iri(EX + rng.choice(["C0", "C1"]))))
        else:
            p = _iri(EX + rng.choice(["p0", "p1", "p2"]))
            out.add((rng.choice(ind), p, rng.choice(ind)))
    return sorted(out)


def _batches(seed):
    """Random split of one triple set into a base and three batches: one
    batch adds TBox triples (a subPropertyOf edge and a TransitiveProperty
    typing, so carried slice counts change) and one only re-asserts known
    triples."""
    rng = random.Random(seed)
    abox = _abox(rng, 14)
    rng.shuffle(abox)
    tbox = _tbox()
    late_tbox = [
        (_iri(EX + "p2"), _iri(SPO), _iri(EX + "p0")),
        (_iri(EX + "p2"), _iri(TYPE), _iri(TRANS)),
    ]
    cut = rng.randint(4, 8)
    base = tbox + abox[:cut]
    rest = abox[cut:]
    mid = rng.randint(1, len(rest) - 1)
    batches = [
        rest[:mid],
        rng.sample(base, 3),            # only re-asserts known facts
        late_tbox + rest[mid:],         # changes carried slice counts
    ]
    return base, batches


MODES = {
    "string": dict(dict_encode=False),
    "ids": dict(dict_encode=True),
    "store": dict(dict_encode=False, pred_partitioned=True),
}


def _engine(spark, tmp_path, mode, rules=RULES, ckpt=False, **kw):
    cfg = dict(MODES[mode], **kw)
    if mode == "store" or ckpt:
        cfg["checkpoint_dir"] = str(tmp_path / f"ckpt_{mode}")
    return FixpointEngine(spark, load_rules_json(rules), **cfg)


def _fresh_gate_counts(eng, res):
    """Ground-truth gate counts of res.facts by a grouped job."""
    facts = res.facts_ids if res.facts_ids is not None else res.facts
    ctx = eng._ctx_for_salt(res.salt) if res.facts_ids is not None else eng._string_ctx
    return eng._delta_stats(facts.select("s", "p", "o"), ctx)[0]


@pytest.mark.parametrize("seed", [1, 2])
@pytest.mark.parametrize("mode", list(MODES))
def test_incremental_batches_equal_one_shot_and_oracle(spark, tmp_path, mode, seed):
    base, batches = _batches(seed)
    eng = _engine(spark, tmp_path, mode)
    res = eng.materialize(triples_df(spark, base))
    seen = list(base)
    for batch in batches:
        res = eng.incremental(res, triples_df(spark, batch))
        seen += batch
        # the carried counts stay exact batch after batch
        assert res.gate_counts == _fresh_gate_counts(eng, res)
        assert res.facts_count == len(spo_set(res.facts))
    expect = naive_fixpoint(seen, load_rules_json(RULES))
    assert spo_set(res.facts) == expect
    one_shot = _engine(spark, tmp_path / "one_shot", mode)
    assert spo_set(one_shot.materialize(triples_df(spark, seen)).facts) == expect


def test_carried_slice_cache_invalidated_when_slice_outgrows_collect(spark):
    """A TBox batch grows carried slices past the collect bound: their stale
    cached value sets must not narrow var-predicate scans any more."""
    eng = FixpointEngine(spark, load_rules_json(RULES), dict_encode=False)
    eng.PRED_SLICE_COLLECT_ROWS = 1
    p2 = _iri(EX + "p2")
    ind = [_iri(f"{EX}i{k}") for k in range(3)]
    base = _tbox() + [(ind[0], p2, ind[1]), (ind[1], p2, ind[2])]
    batch = [(p2, _iri(SPO), _iri(EX + "p0")), (p2, _iri(TYPE), _iri(TRANS))]
    res = eng.materialize(triples_df(spark, base))
    assert res.slice_cache  # base slices (count 1) were collected
    res = eng.incremental(res, triples_df(spark, batch))
    assert spo_set(res.facts) == naive_fixpoint(base + batch, load_rules_json(RULES))


@pytest.mark.parametrize("mode", list(MODES))
def test_no_grouped_stats_job_without_lineage(spark, tmp_path, monkeypatch, mode):
    """With track_lineage=False the gate counts come only from
    Observations and carried results: _delta_stats is unreachable from
    materialize, incremental and resume."""
    def _boom(*a, **k):
        raise AssertionError("_delta_stats ran without track_lineage")

    monkeypatch.setattr(FixpointEngine, "_delta_stats", _boom)
    base, batches = _batches(3)
    eng = _engine(spark, tmp_path, mode, ckpt=True)
    res = eng.materialize(triples_df(spark, base))
    seen = list(base)
    for batch in batches:
        res = eng.incremental(res, triples_df(spark, batch))
        seen += batch
    expect = naive_fixpoint(seen, load_rules_json(RULES))
    assert spo_set(res.facts) == expect
    resumed = _engine(spark, tmp_path, mode, ckpt=True).resume(
        triples_df(spark, seen)
    )
    assert spo_set(resumed.facts) == expect


@pytest.mark.parametrize("mode", ["string", "ids"])
def test_lineage_still_recorded_with_tracking(spark, tmp_path, mode):
    base, batches = _batches(4)
    eng = _engine(spark, tmp_path, mode, track_lineage=True)
    res = eng.materialize(triples_df(spark, base))
    assert sum(res.metrics[0].partition_lineage) == res.metrics[0].delta_out
    n0 = len(res.metrics)
    res = eng.incremental(res, triples_df(spark, batches[0] + batches[2]))
    grown = [m for m in res.metrics[n0 + 1:] if m.delta_out > 0]
    assert grown
    for m in grown:
        assert sum(m.partition_lineage) == m.delta_out
    assert spo_set(res.facts) == naive_fixpoint(
        base + batches[0] + batches[2], load_rules_json(RULES)
    )


@pytest.mark.parametrize("mode", ["string", "ids"])
def test_other_rule_set_continues_with_one_count_pass(
    spark, tmp_path, monkeypatch, mode
):
    """Engine B (another gate-key signature) continues engine A's result:
    one aggregate pass recounts prev's facts under B's gate keys, and the
    result equals the oracle."""
    base, batches = _batches(5)
    res_a = _engine(spark, tmp_path, mode).materialize(triples_df(spark, base))
    eng_b = _engine(spark, tmp_path, mode, rules=RULES_B)
    passes = []
    real = FixpointEngine._gate_pass

    def _spy(self, df, ctx):
        passes.append(ctx.sig)
        return real(self, df, ctx)

    monkeypatch.setattr(FixpointEngine, "_gate_pass", _spy)
    res_b = eng_b.incremental(res_a, triples_df(spark, batches[0] + batches[2]))
    assert len(passes) == 1 and passes[0] == res_b.gate_sig != res_a.gate_sig
    expect = naive_fixpoint(
        spo_set(res_a.facts) | set(batches[0] + batches[2]),
        load_rules_json(RULES_B),
    )
    assert spo_set(res_b.facts) == expect
    assert res_b.gate_counts == _fresh_gate_counts(eng_b, res_b)


def test_round_views_dropped_when_a_round_fails(spark, monkeypatch):
    base = _tbox() + [(_iri(EX + "i0"), _iri(EX + "p0"), _iri(EX + "i1"))]
    eng = FixpointEngine(spark, load_rules_json(RULES), dict_encode=False)
    during = []

    def _fail(*a, **k):
        during.extend(t.name for t in spark.catalog.listTables())
        raise RuntimeError("injected mid-round failure")

    monkeypatch.setattr(eng, "_commit_delta", _fail)
    with pytest.raises(RuntimeError, match="injected"):
        eng.materialize(triples_df(spark, base))
    assert any("__arachne_" in t for t in during)
    left = [t.name for t in spark.catalog.listTables() if "__arachne_" in t.name]
    assert left == []
