"""Fixpoint engine: golden fixtures + differential vs the pure-Python oracle
(same spirit as the reference's Jena differential test, TestInference.scala:30-36)."""

import random

import pytest
from pyspark.sql import functions as F

from arachne_spark.engine import FixpointEngine
from arachne_spark.oracle import naive_fixpoint
from arachne_spark.rules import load_rules_json
from tests.conftest import spo_set, triples_df

R = "http://ex/r"


def _trans_rules():
    return load_rules_json(
        [{"name": "trans", "body": [["?x", R, "?y"], ["?y", R, "?z"]],
          "head": [["?x", R, "?z"]]}]
    )


def test_transitive_closure_chain(spark):
    n = 17
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(n)]
    eng = FixpointEngine(spark, _trans_rules())
    res = eng.materialize(triples_df(spark, chain))
    got = spo_set(res.facts)
    expect = {(f"<n{i}>", f"<{R}>", f"<n{j}>") for i in range(n + 1) for j in range(i + 1, n + 1)}
    assert got == expect
    # nonlinear rule => O(log depth) rounds, not O(depth)
    assert res.rounds <= 7, f"expected log-depth rounds, got {res.rounds}"


def test_inferred_only(spark):
    chain = [("<a>", f"<{R}>", "<b>"), ("<b>", f"<{R}>", "<c>")]
    res = FixpointEngine(spark, _trans_rules()).materialize(triples_df(spark, chain))
    assert spo_set(res.inferred_only()) == {("<a>", f"<{R}>", "<c>")}


def test_differential_random_graph_vs_oracle(spark):
    """Random edge graph + symmetric/transitive/type rules, vs naive oracle."""
    rng = random.Random(7)
    nodes = [f"<n{i}>" for i in range(15)]
    edges = {(rng.choice(nodes), "<http://ex/e>", rng.choice(nodes)) for _ in range(25)}
    types = {(rng.choice(nodes), "<http://rdf/type>", f"<C{rng.randint(0,3)}>") for _ in range(8)}
    sub = {(f"<C{i}>", "<http://ex/sub>", f"<C{i+1}>") for i in range(3)}
    asserted = sorted(edges | types | sub)
    rules = load_rules_json(
        [
            {"name": "sym", "body": [["?x", "http://ex/e", "?y"]],
             "head": [["?y", "http://ex/e", "?x"]]},
            {"name": "trans", "body": [["?x", "http://ex/e", "?y"], ["?y", "http://ex/e", "?z"]],
             "head": [["?x", "http://ex/e", "?z"]]},
            {"name": "subTrans", "body": [["?a", "http://ex/sub", "?b"], ["?b", "http://ex/sub", "?c"]],
             "head": [["?a", "http://ex/sub", "?c"]]},
            {"name": "typeInherit", "body": [["?i", "http://rdf/type", "?c"], ["?c", "http://ex/sub", "?d"]],
             "head": [["?i", "http://rdf/type", "?d"]]},
        ]
    )
    expect = naive_fixpoint(asserted, rules)
    res = FixpointEngine(spark, rules).materialize(triples_df(spark, asserted))
    assert spo_set(res.facts) == expect


def test_predicate_position_variable_rule(spark):
    """SURVEY N5: variable in predicate position joins on p."""
    rules = load_rules_json(
        [{"name": "inv_all", "body": [["?x", "?p", "?y"], ["?p", "http://ex/invertible", {"lex": "true"}]],
          "head": [["?y", "?p", "?x"]]}]
    )
    data = [
        ("<a>", "<http://ex/knows>", "<b>"),
        ("<http://ex/knows>", "<http://ex/invertible>", '"true"'),
        ("<c>", "<http://ex/likes>", "<d>"),
    ]
    res = FixpointEngine(spark, rules).materialize(triples_df(spark, data))
    expect = naive_fixpoint(data, rules)
    assert spo_set(res.facts) == expect
    assert ("<b>", "<http://ex/knows>", "<a>") in expect
    assert ("<d>", "<http://ex/likes>", "<c>") not in expect


def test_cross_product_rule_fixpoint(spark):
    rules = load_rules_json(
        [{"name": "pair", "body": [["?x", "http://ex/left", None], ["?y", "http://ex/right", None]],
          "head": [["?x", "http://ex/pairs", "?y"]]}]
    )
    data = [("<l1>", "<http://ex/left>", "<z>"), ("<l2>", "<http://ex/left>", "<z>"),
            ("<r1>", "<http://ex/right>", "<z>")]
    res = FixpointEngine(spark, rules).materialize(triples_df(spark, data))
    assert spo_set(res.facts) == naive_fixpoint(data, rules)


def test_metrics_and_monotone_rounds(spark):
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(8)]
    res = FixpointEngine(spark, _trans_rules()).materialize(triples_df(spark, chain))
    assert res.metrics[0].round == 0
    assert res.metrics[0].facts_total == len(chain)
    assert res.metrics[-1].delta_out == 0
    totals = [m.facts_total for m in res.metrics]
    assert totals == sorted(totals)
    assert res.facts_count == res.facts.count()
    # S7 fine-grained stage timing: every executed round attributes its wall
    # to named phases, and those phases account for most of the round
    for m in res.metrics:
        if m.round == 0:
            continue
        assert {"compile", "derive_distinct", "stats"} <= set(m.phases)
        assert all(v >= 0 for v in m.phases.values())
        assert sum(m.phases.values()) <= m.seconds + 0.05
        assert "phases" in m.to_dict()


def test_store_derivations_and_explain(spark):
    chain = [("<a>", f"<{R}>", "<b>"), ("<b>", f"<{R}>", "<c>")]
    eng = FixpointEngine(spark, _trans_rules(), store_derivations=True)
    res = eng.materialize(triples_df(spark, chain))
    ex = res.explain("<a>", f"<{R}>", "<c>")
    assert ex and ex[0]["rule_name"] == "trans" and ex[0]["round"] == 1
    # asserted facts have no derivations (R12: only new-to-facts recorded)
    assert res.explain("<a>", f"<{R}>", "<b>") == []


def test_checkpoint_resume(spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(12)]
    eng = FixpointEngine(spark, _trans_rules(), checkpoint_dir=ckpt)
    res = eng.materialize(triples_df(spark, chain))
    expect = spo_set(res.facts)
    # resume from the written checkpoints reproduces the same fixpoint
    eng2 = FixpointEngine(spark, _trans_rules(), checkpoint_dir=ckpt)
    res2 = eng2.resume(triples_df(spark, chain))
    assert spo_set(res2.facts) == expect
    # metrics file exists with one line per round
    assert (tmp_path / "ckpt" / "metrics.jsonl").exists()


def test_rule_skipping_counts(spark):
    rules = load_rules_json(
        [
            {"name": "live", "body": [["?x", "http://ex/e", "?y"]],
             "head": [["?y", "http://ex/e2", "?x"]]},
            {"name": "dead", "body": [["?x", "http://ex/absent", "?y"]],
             "head": [["?y", "http://ex/absent2", "?x"]]},
        ]
    )
    data = [("<a>", "<http://ex/e>", "<b>")]
    res = FixpointEngine(spark, rules).materialize(triples_df(spark, data))
    assert spo_set(res.facts) == naive_fixpoint(data, rules)
    # the dead rule was skipped in every round
    assert all(m.rules_skipped >= 1 for m in res.metrics if m.round >= 1)


def test_incremental_with_checkpoint_dir_continues_rounds(spark, tmp_path):
    """incremental() under a checkpoint_dir must EXTEND the round sequence
    (no overwrites of prior round parquet) and persist its seed delta, so a
    later resume() reconstructs the full store including incrementally
    asserted triples."""
    import os

    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(6)]
    eng = FixpointEngine(spark, _trans_rules(), checkpoint_dir=ckpt)
    res = eng.materialize(triples_df(spark, chain))
    rounds_before = sorted(
        d for d in os.listdir(ckpt) if d.startswith("round=")
    )
    extra = [("<n6>", f"<{R}>", "<n7>"), ("<n7>", f"<{R}>", "<n8>")]
    res2 = eng.incremental(res, triples_df(spark, extra))
    rounds_after = sorted(d for d in os.listdir(ckpt) if d.startswith("round="))
    # prior rounds untouched, new rounds appended
    assert set(rounds_before) < set(rounds_after)
    expect = spo_set(res2.facts)
    # resume from disk reconstructs the incremental store exactly
    eng2 = FixpointEngine(spark, _trans_rules(), checkpoint_dir=ckpt)
    res3 = eng2.resume(triples_df(spark, chain + extra))
    assert spo_set(res3.facts) == expect


def test_delta_stats_bounded_on_open_predicate_vocabulary(spark):
    """The per-round stats collect must be rule-set-bounded: 10k distinct
    data predicates with a 1-constant-predicate rule set collect only
    partitions x 2 grouped rows (gated p in {<p:up>, NULL})."""
    from pyspark.sql import functions as F

    eng = FixpointEngine(spark, _trans_rules())
    many_preds = spark.range(10_000).select(
        F.concat(F.lit("<s"), F.col("id"), F.lit(">")).alias("s"),
        F.concat(F.lit("<q"), F.col("id"), F.lit(">")).alias("p"),
        F.lit("<o>").alias("o"),
    ).unionAll(
        spark.range(5).select(
            F.concat(F.lit("<n"), F.col("id"), F.lit(">")).alias("s"),
            F.lit(f"<{R}>").alias("p"),
            F.concat(F.lit("<n"), F.col("id") + 1, F.lit(">")).alias("o"),
        )
    )
    counts, total, lineage = eng._delta_stats(many_preds, eng._string_ctx)
    assert total == 10_005
    assert counts[("p", f"<{R}>")] == 5
    # only gated keys are collected — never one per distinct data predicate
    assert len(counts) <= 4
    assert sum(lineage) == 10_005


def test_checkpoint_dir_mode_switch_is_safe(spark, tmp_path):
    """A dir written by an id-mode run then reused by a string-mode run must
    resume with the LATEST representation (meta.json is rewritten)."""
    import shutil

    ckpt = str(tmp_path / "ck")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(5)]
    df = triples_df(spark, chain)
    eng_id = FixpointEngine(spark, _trans_rules(), checkpoint_dir=ckpt, dict_encode=True)
    expect = spo_set(eng_id.materialize(df).facts)
    # reuse the SAME dir in string mode (fresh rounds overwrite; meta flips)
    shutil.rmtree(ckpt)
    eng_str = FixpointEngine(spark, _trans_rules(), checkpoint_dir=ckpt, dict_encode=False)
    eng_str.materialize(df)
    res = FixpointEngine(spark, _trans_rules(), checkpoint_dir=ckpt).resume(df)
    assert res.facts_ids is None  # resumed as strings per meta.json
    assert spo_set(res.facts) == expect


def test_incremental_asserted_stays_a_set(spark):
    """Re-asserting an already-asserted triple must not duplicate rows in
    result.asserted (ADVICE r2: incremental() unioned without dedup)."""
    chain = [("<a>", f"<{R}>", "<b>"), ("<b>", f"<{R}>", "<c>")]
    eng = FixpointEngine(spark, _trans_rules())
    res = eng.materialize(triples_df(spark, chain))
    res2 = eng.incremental(
        res, triples_df(spark, [("<a>", f"<{R}>", "<b>"), ("<c>", f"<{R}>", "<d>")])
    )
    rows = res2.asserted.count()
    assert rows == res2.asserted.distinct().count() == 3
    assert spo_set(res2.facts) == naive_fixpoint(
        chain + [("<c>", f"<{R}>", "<d>")], _trans_rules()
    )


def test_incremental_round_budget_is_per_call(spark):
    """A long-lived store whose CUMULATIVE round numbering reaches max_rounds
    must still close each new batch's fixpoint (ADVICE r2: the loop bound was
    absolute, silently returning an unclosed fixpoint)."""
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(5)]
    eng = FixpointEngine(spark, _trans_rules(), max_rounds=4)
    res = eng.materialize(triples_df(spark, chain))
    for k in range(3):  # three batches; cumulative rounds blow past 4
        extra = [(f"<m{k}>", f"<{R}>", f"<n0>")]
        res = eng.incremental(res, triples_df(spark, extra))
        # the new subject must reach the END of the chain (full closure)
        assert (f"<m{k}>", f"<{R}>", "<n5>") in spo_set(res.facts)


def test_resume_preserves_derivations(spark, tmp_path):
    """R12/R14 continuity: crash after round k of a store_derivations run,
    resume, and explain_full returns the same explanations as the
    uninterrupted run (VERDICT r2 'what's missing' #3)."""
    import os
    import shutil

    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(8)]
    eng = FixpointEngine(
        spark, _trans_rules(), store_derivations=True, checkpoint_dir=ckpt
    )
    res = eng.materialize(triples_df(spark, chain))
    probe = ("<n0>", f"<{R}>", "<n8>")
    want = {
        (frozenset(e["facts"]), frozenset(e["rules"]))
        for e in res.explain_full(*probe)
    }
    # simulate a crash: drop the LAST completed round (delta + derivations)
    last = max(
        int(d.split("=")[1]) for d in os.listdir(ckpt) if d.startswith("round=")
    )
    shutil.rmtree(os.path.join(ckpt, f"round={last:04d}"))
    if os.path.isdir(os.path.join(ckpt, f"derivs={last:04d}")):
        shutil.rmtree(os.path.join(ckpt, f"derivs={last:04d}"))
    eng2 = FixpointEngine(
        spark, _trans_rules(), store_derivations=True, checkpoint_dir=ckpt
    )
    res2 = eng2.resume(triples_df(spark, chain))
    assert spo_set(res2.facts) == spo_set(res.facts)
    got = {
        (frozenset(e["facts"]), frozenset(e["rules"]))
        for e in res2.explain_full(*probe)
    }
    assert got == want


def test_resume_raises_on_undecodable_ids(spark, tmp_path):
    """resume() must RAISE when checkpointed facts contain terms missing from
    the rebuilt dictionary instead of silently dropping them in decode_ids
    (ADVICE r2 medium). With the terms/ sidecar intact the same resume
    SUCCEEDS even though the caller passed only the original asserted set."""
    import shutil

    ckpt = str(tmp_path / "ckpt")
    chain = [("<a>", f"<{R}>", "<b>"), ("<b>", f"<{R}>", "<c>")]
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, dict_encode=True
    )
    res = eng.materialize(triples_df(spark, chain))
    res2 = eng.incremental(res, triples_df(spark, [("<c>", f"<{R}>", "<NEW>")]))
    # resume with only the ORIGINAL asserted set: the persisted terms/
    # sidecar supplies <NEW>, so decode is complete and nothing is lost
    eng2 = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, dict_encode=True
    )
    resumed = eng2.resume(triples_df(spark, chain))
    assert spo_set(resumed.facts) == spo_set(res2.facts)
    # without the sidecar the dictionary is genuinely incomplete -> hard error
    shutil.rmtree(str(tmp_path / "ckpt" / "terms"))
    eng3 = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, dict_encode=True
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="absent from the rebuilt dictionary"):
        eng3.resume(triples_df(spark, chain))


def test_pred_partitioned_store_same_results(spark, tmp_path):
    """SURVEY O1: the predicate-bucketed parquet facts store must reproduce
    the in-memory store's results exactly across materialize + incremental +
    resume."""
    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(10)]
    # second predicate so bucketing has something to separate
    other = [(f"<n{i}>", "<http://ex/label>", f'"L{i}"') for i in range(10)]
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    )
    res = eng.materialize(triples_df(spark, chain + other))
    base = FixpointEngine(spark, _trans_rules()).materialize(
        triples_df(spark, chain + other)
    )
    assert spo_set(res.facts) == spo_set(base.facts)
    extra = [("<n10>", f"<{R}>", "<n11>")]
    res2 = eng.incremental(res, triples_df(spark, extra))
    base2 = FixpointEngine(spark, _trans_rules()).incremental(
        base, triples_df(spark, extra)
    )
    assert spo_set(res2.facts) == spo_set(base2.facts)
    eng2 = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    )
    res3 = eng2.resume(triples_df(spark, chain + other + extra))
    assert spo_set(res3.facts) == spo_set(base2.facts)


def _store_partition_filters(plan: str) -> list[str]:
    """PartitionFilters of every bucketed-store scan in an executed plan
    ('' for a store scan without any)."""
    out = []
    for frag in plan.split("FileScan parquet")[1:]:
        # store scans carry the __rnd/__pb columns (Location paths are
        # truncated in plan strings, so match on the scan's columns)
        if "__pb#" not in frag.split("]")[0]:
            continue
        if "PartitionFilters:" not in frag:
            out.append("")
            continue
        out.append(frag.split("PartitionFilters: [")[1].split("]")[0])
    return out


def test_pred_partitioned_store_prunes_partitions(spark, tmp_path):
    """Plan-level: the round-1 const-predicate scans of the bucketed store
    carry a __pb partition filter — they prune to the predicate's bucket
    files instead of reading the whole store."""
    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(5)]
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    )
    eng.debug_plan_sink = []
    res = eng.materialize(triples_df(spark, chain))
    pf = _store_partition_filters(eng.debug_plan_sink[0])
    assert pf and all("__pb" in f for f in pf), eng.debug_plan_sink[0]
    # and the pruned scans still find every derivation
    assert spo_set(res.facts) == naive_fixpoint(chain, _trans_rules())


def test_pred_partitioned_store_id_mode(spark, tmp_path):
    """Bucketed store under dict encoding: the long-id bucket column
    (pmod(id, PB)) and the driver-side constant bucket (Python % PB) must
    agree, including for negative xxhash64 ids."""
    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(8)]
    other = [(f"<n{i}>", "<http://ex/lbl>", f'"L{i}"') for i in range(8)]
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt,
        pred_partitioned=True, dict_encode=True,
    )
    eng.debug_plan_sink = []
    res = eng.materialize(triples_df(spark, chain + other))
    base = FixpointEngine(spark, _trans_rules(), dict_encode=True).materialize(
        triples_df(spark, chain + other)
    )
    assert spo_set(res.facts) == spo_set(base.facts)
    # the id-mode round-1 scans prune on the predicate id's bucket
    pf = _store_partition_filters(eng.debug_plan_sink[0])
    assert pf and all("__pb" in f for f in pf), eng.debug_plan_sink[0]


def test_pred_partitioned_auto_selects_by_size(spark, tmp_path):
    """pred_partitioned='auto' (the new default) mirrors dict_encode='auto':
    inputs below store_threshold run memory-staged, at/above it the bucketed
    store is used — with identical results (VERDICT r3 next-round #6)."""
    import os

    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(10)]
    df = triples_df(spark, chain)
    ck_small = str(tmp_path / "small")
    small = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ck_small, store_threshold=10**9
    ).materialize(df)
    assert not os.path.isdir(os.path.join(ck_small, "facts_by_p"))
    ck_big = str(tmp_path / "big")
    big = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ck_big, store_threshold=5
    ).materialize(df)
    assert os.path.isdir(os.path.join(ck_big, "facts_by_p"))
    assert spo_set(small.facts) == spo_set(big.facts)
    # without a checkpoint_dir, auto can never pick the store
    none = FixpointEngine(spark, _trans_rules(), store_threshold=5).materialize(df)
    assert spo_set(none.facts) == spo_set(big.facts)


def test_pred_partitioned_store_compaction_bounds_files(spark, tmp_path):
    """Long incremental histories must not grow the store's file count
    without bound: when an incremental batch finds more than store_max_files
    parquet files, the store is compacted to ~one file per bucket before the
    append — results identical throughout (VERDICT r3 next-round #6)."""
    import os

    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(6)]
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt,
        pred_partitioned=True, store_max_files=8,
    )
    res = eng.materialize(triples_df(spark, chain))
    base = FixpointEngine(spark, _trans_rules()).materialize(triples_df(spark, chain))
    store = os.path.join(ckpt, "facts_by_p")
    peak = eng._store_nfiles(store)
    for b in range(12):
        extra = [(f"<m{b}>", f"<{R}>", f"<n0>")]
        res = eng.incremental(res, triples_df(spark, extra))
        base = FixpointEngine(spark, _trans_rules()).incremental(
            base, triples_df(spark, extra)
        )
        peak = max(peak, eng._store_nfiles(store))
    assert spo_set(res.facts) == spo_set(base.facts)
    # bound: compaction keeps files at most max_files + one append's worth
    assert peak <= 8 + 64 + 4, peak
    # and compaction actually fired at least once (12 appends of >=1 file
    # each over an 8-file cap cannot fit otherwise)
    assert eng._store_nfiles(store) < 12 * 2


def test_store_mode_single_write_and_crash_resume(spark, tmp_path):
    """Store-mode runs persist each round ONCE (the __rnd-stamped store
    append; no duplicate round= delta dirs), metrics.jsonl is the committed-
    round log, and resume() replays from the store — including from a run
    stopped mid-fixpoint (round-budget 'crash')."""
    import os

    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(12)]
    expect = spo_set(
        FixpointEngine(spark, _trans_rules()).materialize(triples_df(spark, chain)).facts
    )
    ckpt = str(tmp_path / "ckpt")
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt,
        pred_partitioned=True, max_rounds=1,
    )
    eng.materialize(triples_df(spark, chain))  # stops after round 1
    # single-write contract: no round= dirs, store + metrics only
    assert not [d for d in os.listdir(ckpt) if d.startswith("round=")]
    assert os.path.isdir(os.path.join(ckpt, "facts_by_p"))
    res = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    ).resume(triples_df(spark, chain))
    assert spo_set(res.facts) == expect
    # the resumed run continued (round >= 2), not restarted
    assert res.metrics[-1].round >= 2


def test_dedup_facts_side_prunes_to_dd_predicates(spark, tmp_path):
    """The fact-dedup join's facts side scans only the derived set's
    predicate slice: row filter (p IN dd-preds) always, plus __pb partition
    pruning on the bucketed store; past DEDUP_PRED_CAP distinct predicates
    it falls back to the full relation."""
    import os

    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(5)]
    other = [(f"<n{i}>", "<http://ex/lbl>", f'"L{i}"') for i in range(5)]
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    )
    res = eng.materialize(triples_df(spark, chain + other))
    store = eng._store_read(os.path.join(ckpt, "facts_by_p"), res.metrics[-1].round)
    dd = triples_df(spark, [("<a>", f"<{R}>", "<b>")])
    side = eng._dedup_facts_side(store, dd, ["s", "p", "o"])
    assert side.columns == ["s", "p", "o"]
    # only the <R> slice survives — the <lbl> facts are pruned out
    assert side.count() == res.facts.filter(F.col("p") == f"<{R}>").count()
    plan = side._jdf.queryExecution().executedPlan().toString()
    assert "__pb" in plan.split("PartitionFilters")[1].split("]")[0], plan
    # past the predicate cap: unpruned (but still slimmed to s,p,o)
    eng.DEDUP_PRED_CAP = 1
    wide_dd = triples_df(
        spark, [("<a>", f"<p{i}>", "<b>") for i in range(3)]
    )
    full = eng._dedup_facts_side(store, wide_dd, ["s", "p", "o"])
    assert full.count() == store.count()


def test_var_head_predicate_correct_with_store(spark, tmp_path):
    """Rules whose HEAD predicate is a variable (owl:inverseOf shape) make
    the derivable predicate set data-dependent — the dynamic dedup pruning
    must stay exact there, in both store and memory modes."""
    INV = "http://ex/inv"
    rules = load_rules_json(
        [{"name": "inv",
          "body": [["?p", INV, "?q"], ["?x", "?p", "?y"]],
          "head": [["?y", "?q", "?x"]]}]
    )
    data = [
        (f"<{R}>", f"<{INV}>", "<http://ex/rinv>"),
        ("<a>", f"<{R}>", "<b>"),
        ("<c>", f"<{R}>", "<d>"),
        # pre-existing fact equal to a derived one: dedup must catch it
        ("<b>", "<http://ex/rinv>", "<a>"),
    ]
    expect = naive_fixpoint(data, rules)
    mem = FixpointEngine(spark, rules).materialize(triples_df(spark, data))
    assert spo_set(mem.facts) == expect
    st = FixpointEngine(
        spark, rules, checkpoint_dir=str(tmp_path / "ck"), pred_partitioned=True
    ).materialize(triples_df(spark, data))
    assert spo_set(st.facts) == expect
    # the derived-but-already-known fact must not re-enter the delta
    assert st.metrics[-1].delta_out == 0


def test_small_delta_joins_broadcast_physical(spark):
    """A delta below broadcast_rows must reach every delta-variant join as
    the BUILD side of a BroadcastHashJoin (the facts side streams map-only).

    localCheckpointed deltas carry no size stats, so without the explicit
    driver hint Catalyst plans a SortMergeJoin that shuffles the whole facts
    relation — at 80M store rows the measured cost of that plan was 9-45 s
    for a 600-row delta (scaling_runs.jsonl, round 3). Only the PHYSICAL
    plan exposes the regression, hence executedPlan() not the optimized plan.
    """
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(24)]
    eng = FixpointEngine(spark, _trans_rules())
    eng.debug_plan_sink = []
    res = eng.materialize(triples_df(spark, chain))
    assert res.rounds >= 3 and len(eng.debug_plan_sink) >= res.rounds
    for rnd, plan in enumerate(eng.debug_plan_sink, start=1):
        assert "BroadcastHashJoin" in plan, (rnd, plan)
        assert "SortMergeJoin" not in plan, (rnd, plan)

    # sensitivity guard: with the broadcast budget off, the same fixpoint
    # plans shuffled joins — proves the assertion above can actually fail
    eng0 = FixpointEngine(spark, _trans_rules(), broadcast_rows=0)
    eng0.debug_plan_sink = []
    res0 = eng0.materialize(triples_df(spark, chain))
    assert spo_set(res0.facts) == spo_set(res.facts)
    # either shuffled-join physical (SMJ, or SHJ when preferSortMergeJoin
    # is off — the session default) proves the broadcast hint was load-bearing
    assert any(
        "SortMergeJoin" in p or "ShuffledHashJoin" in p
        for p in eng0.debug_plan_sink
    )


def _gated_trans_rules():
    """prp-trp shape: a var-predicate transitivity rule gated by a
    property-characteristic atom, plus a pred-rewriting chain that keeps the
    fixpoint running on predicates the transitive slice never contains."""
    return load_rules_json(
        [
            {
                "name": "tr",
                "body": [
                    ["?p", "http://ex/t", "http://ex/Trans"],
                    ["?x", "?p", "?y"],
                    ["?y", "?p", "?z"],
                ],
                "head": [["?x", "?p", "?z"]],
            },
            {
                "name": "m1",
                "body": [["?x", "http://ex/m1", "?y"]],
                "head": [["?x", "http://ex/m2", "?y"]],
            },
            {
                "name": "m2",
                "body": [["?x", "http://ex/m2", "?y"]],
                "head": [["?x", "http://ex/m3", "?y"]],
            },
            {
                "name": "m3",
                "body": [["?x", "http://ex/m3", "?y"]],
                "head": [["?x", "http://ex/m4", "?y"]],
            },
        ]
    )


def _gated_trans_data():
    data = [(f"<e{i}>", "<http://ex/ext>", f"<e{i+1}>") for i in range(3)]
    data.append(("<http://ex/ext>", "<http://ex/t>", "<http://ex/Trans>"))
    data += [(f"<a{i}>", "<http://ex/m1>", f"<b{i}>") for i in range(4)]
    return data


def test_var_pred_value_pruning_matches_oracle_and_skips(spark):
    """Value-level alpha propagation (the small-delta-round fix): once the
    ext-closure settles, later rounds' deltas carry only m2/m3/m4 predicates
    — disjoint from the collected transitive-property slice {ext} — so the
    tr delta-variants are skipped without a job. Facts must be identical to
    the naive oracle AND to a run with pruning disabled; the skip counters
    prove the mechanism actually fired."""
    from arachne_spark.oracle import naive_fixpoint

    rules = _gated_trans_rules()
    data = _gated_trans_data()
    expect = naive_fixpoint(data, rules)

    eng = FixpointEngine(spark, rules)
    res = eng.materialize(triples_df(spark, data))
    assert spo_set(res.facts) == expect

    eng0 = FixpointEngine(spark, rules)
    eng0.PRED_SLICE_COLLECT_ROWS = -1  # sensitivity guard: pruning off
    res0 = eng0.materialize(triples_df(spark, data))
    assert spo_set(res0.facts) == expect
    assert res.rounds == res0.rounds
    skips = sum(m.variants_skipped for m in res.metrics)
    skips0 = sum(m.variants_skipped for m in res0.metrics)
    assert skips > skips0, (skips, skips0)


def test_var_pred_allowed_set_prunes_store_scan(spark, tmp_path):
    """With the bucketed store, a surviving var-predicate facts-side atom
    must scan only the allowed-predicate slice: the executed plan's store
    scan carries a PartitionFilter on __pb (value-level restriction), not a
    full-store scan. PHYSICAL plan, per the r3 lesson."""
    rules = _gated_trans_rules()
    data = _gated_trans_data()
    eng = FixpointEngine(
        spark, rules, checkpoint_dir=str(tmp_path / "ck"), pred_partitioned=True
    )
    eng.debug_plan_sink = []
    res = eng.materialize(triples_df(spark, data))
    from arachne_spark.oracle import naive_fixpoint

    assert spo_set(res.facts) == naive_fixpoint(data, rules)
    # round 1: the tr variant's facts-side (?x ?p ?y) atom is restricted to
    # p IN {ext}, so EVERY store scan in the round-1 plan is partition-
    # pruned on __pb (const-pred atoms already were; the var-pred atom is
    # what the restriction adds)
    pf1 = _store_partition_filters(eng.debug_plan_sink[0])
    assert pf1, eng.debug_plan_sink[0]
    assert all("__pb" in f for f in pf1), pf1

    # sensitivity guard: pruning off -> the var-pred atom scans the whole
    # store (an empty PartitionFilters on at least one store scan)
    eng0 = FixpointEngine(
        spark, rules, checkpoint_dir=str(tmp_path / "ck0"), pred_partitioned=True
    )
    eng0.PRED_SLICE_COLLECT_ROWS = -1
    eng0.debug_plan_sink = []
    res0 = eng0.materialize(triples_df(spark, data))
    assert spo_set(res0.facts) == spo_set(res.facts)
    pf0 = _store_partition_filters(eng0.debug_plan_sink[0])
    assert any("__pb" not in f for f in pf0), pf0


def test_materialize_with_caller_vocab_matches_default(spark):
    """The dimension-table vocabulary path: identical facts AND identical
    dictionary behavior to the engine-built (per-column distinct) path; a
    superset vocabulary is safe."""
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(8)]
    terms = sorted({t for row in chain for t in row}) + ["<unused-extra>"]
    vocab = spark.createDataFrame([(t,) for t in terms], "term string")
    base = FixpointEngine(spark, _trans_rules(), dict_encode=True).materialize(
        triples_df(spark, chain)
    )
    res = FixpointEngine(spark, _trans_rules(), dict_encode=True).materialize(
        triples_df(spark, chain), vocab=vocab
    )
    assert spo_set(res.facts) == spo_set(base.facts)
    assert res.salt == base.salt


def test_caller_vocab_coverage_violation_raises(spark, tmp_path):
    """An incomplete caller vocabulary must raise at decode time (strict
    decode), never silently drop facts — the failure mode of trusting a
    stale dimension table."""
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(4)]
    terms = sorted({t for row in chain for t in row})
    vocab = spark.createDataFrame(
        [(t,) for t in terms if t != "<n0>"], "term string"
    )
    res = FixpointEngine(spark, _trans_rules(), dict_encode=True).materialize(
        triples_df(spark, chain), vocab=vocab
    )
    # count() prunes the projection (strictness fires when VALUES are
    # materialized — export, collect, write)
    with pytest.raises(Exception, match="decode miss|USER_RAISED_EXCEPTION"):
        res.facts.collect()
    # strictness must follow the result onto every decode path, not just
    # facts/asserted — inferred_only re-decodes from ids (ADVICE r4 #1)
    with pytest.raises(Exception, match="decode miss|USER_RAISED_EXCEPTION"):
        res.inferred_only().collect()
    # ... and onto every incremental batch: a batch result decoded loosely
    # would drop the facts with the uncovered term instead of raising
    eng = FixpointEngine(spark, _trans_rules(), dict_encode=True)
    res = eng.materialize(triples_df(spark, chain), vocab=vocab)
    nxt = eng.incremental(
        res, triples_df(spark, [("<n4>", f"<{R}>", "<n5>")])
    )
    assert nxt.strict_decode
    with pytest.raises(Exception, match="decode miss|USER_RAISED_EXCEPTION"):
        nxt.facts.collect()
    # ... and across a checkpointed resume (meta.json records it), whose
    # later batches inherit it in turn
    ck = dict(dict_encode=True, checkpoint_dir=str(tmp_path / "ck"))
    FixpointEngine(spark, _trans_rules(), **ck).materialize(
        triples_df(spark, chain), vocab=vocab
    )
    eng = FixpointEngine(spark, _trans_rules(), **ck)
    resumed = eng.resume(triples_df(spark, chain))
    assert resumed.strict_decode
    nxt = eng.incremental(
        resumed, triples_df(spark, [("<n4>", f"<{R}>", "<n5>")])
    )
    assert nxt.strict_decode


def test_encoded_batch_keeps_strict_decode(spark):
    """A materialize_encoded result decodes strictly, and so does every
    incremental batch over it."""
    from arachne_spark.dictionary import encode_ids

    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(4)]
    terms = sorted({t for row in chain for t in row})
    eng = FixpointEngine(spark, _trans_rules())
    salt, term_dict = eng.build_dictionary(
        spark.createDataFrame([(t,) for t in terms], "term string")
    )
    res = eng.materialize_encoded(
        encode_ids(triples_df(spark, chain), salt), term_dict=term_dict, salt=salt
    )
    nxt = eng.incremental(
        res, triples_df(spark, [("<n4>", f"<{R}>", "<n5>")])
    )
    assert res.strict_decode and nxt.strict_decode
    want = naive_fixpoint(chain + [("<n4>", f"<{R}>", "<n5>")], _trans_rules())
    assert spo_set(nxt.facts) == want


def test_store_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """_store_compact's only crash window is between its two renames; that
    state (and the adjacent ones: torn .compact before the swap, leftover
    .old after it) must leave a store _store_recover repairs, so resume()
    reproduces the fixpoint instead of silently rebuilding from `asserted`
    (VERDICT r4 "What's wrong #2": the previous rmtree-then-rename order
    had a window with NO store at all)."""
    import os
    import shutil

    ckpt = str(tmp_path / "ckpt")
    chain = [(f"<n{i}>", f"<{R}>", f"<n{i+1}>") for i in range(8)]
    df = triples_df(spark, chain)
    eng = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    )
    expect = spo_set(eng.materialize(df).facts)
    sd = os.path.join(ckpt, "facts_by_p")

    # inject a crash exactly between the two renames
    real_rename = os.rename
    calls = {"n": 0}

    def flaky(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected crash between renames")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", flaky)
    with pytest.raises(RuntimeError, match="injected crash"):
        eng._store_compact(sd)
    monkeypatch.setattr(os, "rename", real_rename)
    # worst state: live dir absent, pre-compact copy aside as .old
    assert not os.path.isdir(sd) and os.path.isdir(sd + ".old")
    res2 = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    ).resume(df)
    assert spo_set(res2.facts) == expect
    assert os.path.isdir(sd)
    assert not os.path.isdir(sd + ".old") and not os.path.isdir(sd + ".compact")

    # crash BEFORE the swap: torn .compact beside a live store
    os.makedirs(os.path.join(sd + ".compact", "partial"))
    res3 = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    ).resume(df)
    assert spo_set(res3.facts) == expect
    assert not os.path.isdir(sd + ".compact")

    # crash AFTER the swap, before rmtree(old): leftover .old beside live
    shutil.copytree(sd, sd + ".old")
    res4 = FixpointEngine(
        spark, _trans_rules(), checkpoint_dir=ckpt, pred_partitioned=True
    ).resume(df)
    assert spo_set(res4.facts) == expect
    assert not os.path.isdir(sd + ".old")


def test_var_pred_two_slice_intersection_matches_oracle(spark):
    """VERDICT r4 next-round #3 (proof audit): a predicate variable
    constrained by TWO gate slices prunes to the INTERSECTION of their value
    sets — sound because a binding must appear in both slices, and each
    slice set is collected over the full `facts` relation (a superset of
    whatever sub-relation — delta or facts_old — the constraining atom is
    actually joined against). Mixes s- and o-position constraints. Results
    must match the naive oracle and a pruning-disabled run exactly."""
    from arachne_spark.oracle import naive_fixpoint

    rules = load_rules_json(
        [
            {
                # ?p constrained by (?p t TA) [s-pos] AND (root has ?p) [o-pos]
                "name": "tr2",
                "body": [
                    ["?x", "?p", "?y"],
                    ["?p", "http://ex/t", "http://ex/TA"],
                    ["http://ex/root", "http://ex/has", "?p"],
                ],
                "head": [["?x", "http://ex/out", "?y"]],
            },
            {
                # keeps late rounds alive with predicates OUTSIDE the
                # intersection, so the disjointness skip has something to do
                "name": "m1",
                "body": [["?x", "http://ex/m1", "?y"]],
                "head": [["?x", "http://ex/m2", "?y"]],
            },
        ]
    )
    data = [
        ("<e0>", "<http://ex/ext>", "<e1>"),
        # ext satisfies BOTH constraints
        ("<http://ex/ext>", "<http://ex/t>", "<http://ex/TA>"),
        ("<http://ex/root>", "<http://ex/has>", "<http://ex/ext>"),
        # only the t-slice: must NOT fire tr2
        ("<http://ex/m1>", "<http://ex/t>", "<http://ex/TA>"),
        ("<a0>", "<http://ex/m1>", "<a1>"),
        # only the has-slice: must NOT fire tr2
        ("<http://ex/root>", "<http://ex/has>", "<http://ex/m9>"),
        ("<b0>", "<http://ex/m9>", "<b1>"),
    ]
    expect = naive_fixpoint(data, rules)
    assert ("<e0>", "<http://ex/out>", "<e1>") in expect
    assert ("<a0>", "<http://ex/out>", "<a1>") not in expect

    eng = FixpointEngine(spark, rules)
    res = eng.materialize(triples_df(spark, data))
    assert spo_set(res.facts) == expect

    eng0 = FixpointEngine(spark, rules)
    eng0.PRED_SLICE_COLLECT_ROWS = -1  # sensitivity guard: pruning off
    res0 = eng0.materialize(triples_df(spark, data))
    assert spo_set(res0.facts) == expect
    # the intersection prune skipped variants the unpruned run compiled
    skips = sum(m.variants_skipped for m in res.metrics)
    skips0 = sum(m.variants_skipped for m in res0.metrics)
    assert skips > skips0, (skips, skips0)
