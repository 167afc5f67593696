"""incremental() continues from the previous result's exact gate counts and
TBox-slice cache: batches must equal a one-shot materialize and the oracle in
every representation, no grouped stats job may run without lineage tracking,
and a failing round must not leak its temp views."""

import random

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arachne_spark.engine import FixpointEngine
from arachne_spark.oracle import naive_fixpoint
from arachne_spark.rules import load_rules_json
from tests.conftest import spo_set, triples_df
from tests.test_property import _rules, _triples

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
    gdb = spark.conf.get("spark.sql.globalTempDatabase")

    def _views():
        return [
            t.name for t in spark.catalog.listTables(gdb) if "__arachne_" in t.name
        ]

    def _fail(*a, **k):
        during.extend(_views())
        raise RuntimeError("injected mid-round failure")

    monkeypatch.setattr(eng, "_commit_delta", _fail)
    with pytest.raises(RuntimeError, match="injected"):
        eng.materialize(triples_df(spark, base))
    assert during
    assert _views() == []


@pytest.mark.parametrize("dict_encode", [True, False])
def test_asserted_plan_depth_bounded_across_batches(spark, dict_encode):
    """Each batch wraps the asserted relation in another union; the chain
    is collapsed whenever a batch's metrics cross a multiple of
    facts_refresh, so it stays shallow even though no batch leaves the
    metric count on an exact multiple."""
    eng = FixpointEngine(
        spark, load_rules_json(RULES), dict_encode=dict_encode, facts_refresh=8
    )
    base = _tbox() + [(_iri(EX + "i0"), _iri(TYPE), _iri(EX + "C0"))]
    res = eng.materialize(triples_df(spark, base))
    lens = [len(res.metrics)]
    for k in range(12):
        # a typing with no subclass above it: one productive-free round
        batch = [(_iri(f"{EX}j{k}"), _iri(TYPE), _iri(EX + "C1"))]
        res = eng.incremental(res, triples_df(spark, batch))
        lens.append(len(res.metrics))
    # every batch adds two metrics from an odd start: no count is ever an
    # exact multiple, so only a crossing refreshes
    assert all(n % 8 for n in lens) and lens[-1] > 3 * 8, lens
    asserted = res.asserted_ids if dict_encode else res.asserted
    plan = asserted._jdf.queryExecution().logical().toString()
    assert plan.count("Union") <= eng.facts_refresh + 1, plan
    if dict_encode:
        # every batch unions its new terms into the dictionary: Spark
        # flattens the chain into one Union, so count its branches, which
        # collapse on the same crossings
        plan = res.term_dict._jdf.queryExecution().logical().toString()
        assert plan.count("LogicalRDD") <= eng.facts_refresh + 1, plan
    assert spo_set(res.asserted) == set(base) | {
        (_iri(f"{EX}j{k}"), _iri(TYPE), _iri(EX + "C1")) for k in range(12)
    }


def _facts_rel(res):
    return res.facts_ids if res.facts_ids is not None else res.facts


@pytest.mark.parametrize("mode", ["string", "ids"])
def test_facts_partitions_bounded_across_batches(spark, tmp_path, mode):
    """Each in-memory batch copies its facts once, round-robin into P
    partitions: after batch k the facts relation has P partitions plus one
    per productive round of that batch (not one more per batch), the copy's
    partitions hold even shares, and the metrics record the counts."""
    eng = _engine(spark, tmp_path, mode)
    p1, typ, c0 = _iri(EX + "p1"), _iri(TYPE), _iri(EX + "C0")
    chain = [_iri(f"{EX}c{k}") for k in range(13)]
    seen = _tbox() + [(_iri(f"{EX}t{k}"), typ, c0) for k in range(300)]
    res = eng.materialize(triples_df(spark, seen))
    want_p = max(spark.sparkContext.defaultParallelism, eng._nparts(_facts_rel(res)))
    for k in range(12):
        # a chain link (transitive p1: one productive round) and a typing
        batch = [(chain[k], p1, chain[k + 1]), (_iri(f"{EX}u{k}"), typ, c0)]
        n0 = len(res.metrics)
        res = eng.incremental(res, triples_df(spark, batch))
        seen += batch
        assert res.copy_partitions == want_p
        rounds = [m for m in res.metrics[n0 + 1:] if m.delta_out > 0]
        facts = _facts_rel(res)
        n_parts = eng._nparts(facts)
        assert rounds and n_parts <= want_p + len(rounds)
        assert n_parts == want_p + sum(m.delta_partitions for m in rounds)
        # the seed round and round 1 read the copy
        assert res.metrics[n0].facts_partitions == want_p
        assert res.metrics[n0 + 1].facts_partitions == want_p
        sizes = facts.rdd.glom().map(len).collect()[:want_p]
        assert max(sizes) <= 2 * sum(sizes) / want_p, sizes
    assert spo_set(res.facts) == naive_fixpoint(seen, load_rules_json(RULES))


@pytest.mark.parametrize("mode", ["string", "store"])
def test_partition_counts_recorded_without_a_job(
    spark, tmp_path, monkeypatch, mode
):
    """Every round's metrics carry the partition counts of the facts it
    read and the delta it committed; reading them launches no Spark job."""
    from tests.test_facade import _jobs

    real = FixpointEngine._nparts
    launched = []

    def _counted(df):
        n, jobs = _jobs(spark, lambda: real(df))
        launched.append(jobs)
        return n

    monkeypatch.setattr(FixpointEngine, "_nparts", staticmethod(_counted))
    base, batches = _batches(6)
    eng = _engine(spark, tmp_path, mode)
    res = eng.materialize(triples_df(spark, base))
    for batch in batches:
        res = eng.incremental(res, triples_df(spark, batch))
    assert len(launched) >= len(res.metrics) and not any(launched)
    assert all(m.facts_partitions > 0 for m in res.metrics)
    assert all(m.delta_partitions > 0 for m in res.metrics if m.delta_out > 0)
    if mode == "string":
        # the last round adds nothing: the result's facts are what it read
        assert real(res.facts) == res.metrics[-1].facts_partitions


@pytest.mark.parametrize("mode", ["string", "ids"])
@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rules=_rules(),
    triples=_triples,
    cuts=st.lists(st.integers(1, 10), min_size=3, max_size=3),
)
def test_random_programs_across_batches(spark, mode, rules, triples, cuts):
    """The property suite's random programs (repeated variables,
    variable predicates, cross products) through materialize plus three
    in-memory batches, one of which re-asserts a known triple: every
    batch result equals the oracle. Batch copies and round deltas are
    distinct checkpoints, so no plan holds one relation twice (the
    DeduplicateRelations shape the round loop avoids by re-aliasing)."""
    if len(naive_fixpoint(triples, rules)) > 3000:
        return
    a, b, c = sorted(min(x, len(triples)) for x in cuts)
    eng = FixpointEngine(spark, rules, **MODES[mode])
    res = eng.materialize(triples_df(spark, triples[:a]))
    seen = list(triples[:a])
    for batch in (triples[a:b], triples[b:c] + triples[:1], triples[c:]):
        res = eng.incremental(res, triples_df(spark, batch))
        seen += batch
        assert spo_set(res.facts) == naive_fixpoint(seen, rules)


@pytest.mark.parametrize("dict_encode", [False, True])
def test_store_compaction_keeps_results_readable(spark, tmp_path, dict_encode):
    """A batch that compacts the bucketed store rewrites the files a fresh
    store run's ``asserted`` reads (its stage-0 store read): every relation
    of each batch result must still read, and equal the oracle."""
    rules = load_rules_json(RULES)
    eng = FixpointEngine(
        spark, rules, dict_encode=dict_encode, pred_partitioned=True,
        store_max_files=1, checkpoint_dir=str(tmp_path / "ck"),
    )
    ind = [_iri(f"{EX}i{k}") for k in range(7)]
    p1 = _iri(EX + "p1")
    seen = _tbox() + [(ind[k], p1, ind[k + 1]) for k in range(4)]
    res = eng.materialize(triples_df(spark, seen))
    for batch in ([(ind[4], p1, ind[5])], [(ind[5], p1, ind[6])]):
        res = eng.incremental(res, triples_df(spark, batch))
        seen += batch
        assert spo_set(res.asserted) == set(seen)
        assert spo_set(res.facts) == naive_fixpoint(seen, rules)


# -- jobs per entry path -----------------------------------------------------

_P = "http://ex/p"
_PATH_RULES = [
    {"name": "trans", "body": [["?x", _P, "?y"], ["?y", _P, "?z"]],
     "head": [["?x", _P, "?z"]]},
    {"name": "spo", "body": [["?a", SPO, "?b"], ["?x", "?a", "?y"]],
     "head": [["?x", "?b", "?y"]]},
    {"name": "sym", "body": [["?x", EX + "s", "?y"]],
     "head": [["?y", EX + "s", "?x"]]},
]


def _path_rows():
    rows = [(_iri(f"{EX}n{i}"), _iri(_P), _iri(f"{EX}n{i+1}")) for i in range(8)]
    rows += [(_iri(f"{EX}m{i}"), _iri(EX + "s"), _iri(f"{EX}m{i+1}")) for i in range(6)]
    rows += [(_iri(EX + "q"), _iri(SPO), _iri(EX + "r")),
             (_iri(EX + "s"), _iri(SPO), _iri(EX + "t"))]
    rows += [(_iri(f"{EX}k{i}"), _iri(EX + "q"), _iri(f"{EX}k{i+1}")) for i in range(6)]
    batch = [(_iri(f"{EX}n8"), _iri(_P), _iri(f"{EX}n9")),
             (_iri(f"{EX}n9"), _iri(_P), _iri(f"{EX}n10")),
             (_iri(f"{EX}m6"), _iri(EX + "s"), _iri(f"{EX}m7")),
             (_iri(f"{EX}n0"), _iri(_P), _iri(f"{EX}n1")),
             (_iri(f"{EX}k9"), _iri(EX + "q"), _iri(f"{EX}k1"))]
    return rows, batch


# Spark jobs of (materialize, one incremental batch) on this 22-row input,
# as measured before materialize, materialize_encoded and incremental were
# folded into one ingest pipeline: a bound, so no entry path gains a job
_PATH_JOBS = {
    "auto string": ({}, None, (41, 39)),
    "auto ids": ({"dict_threshold": 1}, None, (49, 55)),
    "store ids": ({"dict_encode": True, "pred_partitioned": True}, None, (59, 67)),
    "encoded": ({}, "encoded", (40, 55)),
    "vocab ids": ({"dict_encode": True}, "vocab", (45, 55)),
    "lineage string": ({"dict_encode": False, "track_lineage": True}, None, (48, 44)),
}


@pytest.mark.parametrize("path", list(_PATH_JOBS))
def test_jobs_per_entry_path(spark, tmp_path, path):
    from arachne_spark.dictionary import encode_ids
    from tests.test_facade import _jobs

    kw, how, bound = _PATH_JOBS[path]
    if kw.get("pred_partitioned"):
        kw = dict(kw, checkpoint_dir=str(tmp_path))
    rules = load_rules_json(_PATH_RULES)
    rows, batch = _path_rows()
    eng = FixpointEngine(spark, rules, **kw)
    vocab = spark.createDataFrame(
        [(t,) for t in sorted({t for r in rows for t in r})], "term string"
    )
    if how == "encoded":
        salt, term_dict = eng.build_dictionary(vocab)
        ids = encode_ids(triples_df(spark, rows), salt)
        call = lambda: eng.materialize_encoded(ids, term_dict=term_dict, salt=salt)  # noqa: E731
    elif how == "vocab":
        call = lambda: eng.materialize(triples_df(spark, rows), vocab=vocab)  # noqa: E731
    else:
        call = lambda: eng.materialize(triples_df(spark, rows))  # noqa: E731
    res, n_mat = _jobs(spark, call)
    nxt, n_inc = _jobs(
        spark, lambda: eng.incremental(res, triples_df(spark, batch))
    )
    assert n_mat <= bound[0] and n_inc <= bound[1], (n_mat, n_inc)
    assert spo_set(nxt.facts) == naive_fixpoint(rows + batch, rules)
