"""Round-6 optimization internals: SQL-text round compilation must reach
the naive oracle's fixpoint in every representation, scan fan-out must be a
pure repartition (same rows, no-op when already parallel), and
canonicalize's driver fast path must equal the distributed CC path."""

import pytest

from arachne_spark.engine import TRIPLE_SCHEMA, FixpointEngine
from arachne_spark.functions._parallel import fan_out
from arachne_spark.kg.canon import canonicalize
from arachne_spark.oracle import naive_fixpoint
from arachne_spark.rules import load_rules_json

# shapes that exercise every sqlgen branch: symmetric 1-atom, var-predicate
# join, const-only existence gate, true cross product, repeated-var guard,
# plus a literal containing a quote and a backslash
_RULES = [
    {"name": "sym", "body": [["?x", "p:same", "?y"]],
     "head": [["?y", "p:same", "?x"]]},
    {"name": "rep", "body": [["?x", "p:same", "?y"], ["?x", "?p", "?z"]],
     "head": [["?y", "?p", "?z"]]},
    {"name": "gate", "body": [["a", "p:flag", "on"], ["?x", "p:t", None]],
     "head": [["?x", "p:t2", "m"]]},
    {"name": "cross", "body": [["?a", "p:l", None], ["?b", "p:r", None]],
     "head": [["?a", "p:pair", "?b"]]},
    {"name": "guard", "body": [["?x", "p:rel", "?x"]],
     "head": [["?x", "p:selfy", "yes"]]},
]

_ROWS = [
    ("<a>", "<p:flag>", "<on>"),
    ("<x1>", "<p:same>", "<x2>"),
    ("<x1>", "<p:t>", "<v>"),
    ("<q1>", "<p:l>", "<z>"),
    ("<q2>", "<p:r>", "<z>"),
    ("<x2>", "<p:w>", "<k>"),
    ("<s>", "<p:rel>", "<s>"),
    ("<s>", "<p:rel>", "<u>"),
    ("<lit>", "<p:t>", '"it\'s a \\\\ test"'),
]


@pytest.mark.parametrize("store", [False, True], ids=["memory", "store"])
@pytest.mark.parametrize("enc", [False, True], ids=["string", "ids"])
def test_sql_rounds_match_oracle(spark, tmp_path, enc, store):
    """Every sqlgen branch, in strings and ids, in memory and on the
    bucketed store (whose scans add the __pb pruning conditions)."""
    rules = load_rules_json(_RULES)
    kw = dict(checkpoint_dir=str(tmp_path), pred_partitioned=True) if store else {}
    res = FixpointEngine(spark, rules, dict_encode=enc, **kw).materialize(
        spark.createDataFrame(_ROWS, TRIPLE_SCHEMA)
    )
    expect = naive_fixpoint(_ROWS, rules)
    assert {tuple(r) for r in res.facts.collect()} == expect
    assert len(expect) > len(_ROWS)  # rules actually fired


def test_fan_out_repartitions_only_when_narrow(spark):
    one = spark.createDataFrame([(i,) for i in range(100)], "x long").coalesce(1)
    wide = fan_out(one)
    assert wide.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["x"] for r in wide.collect()) == list(range(100))
    # already at/above parallelism -> returned unchanged (no extra shuffle)
    assert fan_out(wide) is wide


def test_canonicalize_driver_matches_distributed(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "alias": ["A", "a", "B", "b", "shared", "shared", "C"],
            "canonical_iri": [
                "http://x/A", "http://x/A", "http://x/B", "http://x/B",
                "http://x/A", "http://x/B", "http://x/C",
            ],
            "kind": ["k"] * 7,
            "prior": [0.5] * 7,
        }
    )
    edict = spark.createDataFrame(pdf)
    fast = sorted(tuple(r) for r in canonicalize(edict).collect())
    slow = sorted(
        tuple(r) for r in canonicalize(edict, driver_threshold=0).collect()
    )
    assert fast == slow
    # 'shared' alias merges the A and B clusters; C stays alone
    m = dict(fast)
    assert m["http://x/A"] == m["http://x/B"] == "http://x/A"
    assert m["http://x/C"] == "http://x/C"


def test_stage0_observation_stats_match_grouped_job(spark):
    """Stats folded into a checkpoint's Observation (_observed_checkpoint,
    _commit_delta) must be bit-identical to the separate grouped
    _delta_stats job they replace (gate counts + total; lineage is the
    documented opt-in exception)."""
    rules = load_rules_json(_RULES)
    eng = FixpointEngine(spark, rules)
    data = spark.createDataFrame(_ROWS, TRIPLE_SCHEMA)
    ctx = eng._string_ctx
    aggs = eng._gate_obs_aggs(ctx)
    facts, preds_obs, n, pv = eng._observed_checkpoint(data.distinct(), aggs)
    preds_ref, total_ref, _ = eng._delta_stats(facts, ctx)
    assert n == total_ref == len(set(_ROWS))
    assert preds_obs == preds_ref
    assert pv is None  # not asked for
    _, preds_c, n_c, pv_c, lineage_c = eng._commit_delta(
        data.distinct(), ctx, eng._with_pred_set(aggs)
    )
    assert (preds_c, n_c, lineage_c) == (preds_ref, total_ref, [])
    # the folded predicate set equals the separate job's
    assert pv_c == eng._delta_pred_values(facts, n) == {r[1] for r in _ROWS}
    # lineage tracking keeps the grouped job, which adds the histogram
    eng_l = FixpointEngine(spark, rules, track_lineage=True)
    _, preds_l, n_l, _, lineage_l = eng_l._commit_delta(
        data.distinct(), ctx, eng._gate_obs_aggs(None)
    )
    assert (preds_l, n_l) == (preds_ref, total_ref)
    assert sum(lineage_l) == n_l
    # end-to-end: folded and grouped paths materialize identical facts
    a = sorted(tuple(r) for r in eng.materialize(data).facts.collect())
    b = sorted(tuple(r) for r in eng_l.materialize(data).facts.collect())
    assert a == b


def test_broadcast_hint_only_on_joins():
    """The delta's broadcast hint is emitted only where the FROM holds a
    join: a 1-atom rule's variant would only log a HintErrorLogger warning."""
    from arachne_spark.plans.sqlgen import variant_selects

    rules = {r.name: r for r in load_rules_json(_RULES)}

    def sql(name, variant):
        rule = rules[name]
        k = len(rule.body)
        return variant_selects(
            rule, variant, ["f"] * k, [False] * k, {}, True, 48
        )

    assert all("BROADCAST" not in q for q in sql("sym", 0))
    assert all("BROADCAST(t0)" in q for q in sql("rep", 0))
    assert all("BROADCAST(t1)" in q for q in sql("rep", 1))
    # a constant-only gate subquery is a second relation: the hint stays
    assert all("BROADCAST(t1)" in q for q in sql("gate", 1))
