"""Checks of the benchmark itself: its modelled answers against the naive
oracle, and its job/task accounting.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arachne_spark.engine import FixpointEngine  # noqa: E402
from arachne_spark.facade import Reasoner  # noqa: E402
from arachne_spark.oracle import naive_fixpoint  # noqa: E402
from arachne_spark.session import build_session  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    TRIPLES,
    OwlModel,
    owl_asserted,
    rules,
)

SEED = 7


@pytest.fixture(scope="module")
def spark():
    s = build_session("perfbench_test", cores=2, shuffle_partitions=2,
                      extra={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_seeded_ingest_sequence_matches_oracle(spark):
    """A small seeded ingest_query sequence: the model's fact counts, the
    engine's final facts and the oracle's fixpoint all agree, and so do the
    modelled call answers."""
    # 100 customers, so custkey 97 has a sameAs twin
    model = OwlModel.generate(SEED, customers=100, orders=300)
    asserted = owl_asserted(spark, model.tables(spark))
    rows = {tuple(r) for r in asserted.collect()}
    assert len(rows) == model.asserted_count()
    engine = FixpointEngine(spark, rules())
    res = engine.materialize(asserted)
    assert res.facts_count == model.facts_count()
    rng = np.random.default_rng([SEED, 2])
    for b in range(3):
        batch = model.batch(rng, b)
        rows |= set(batch)
        res = engine.incremental(res, spark.createDataFrame(batch, TRIPLES))
        assert res.facts_count == model.facts_count()
    want = naive_fixpoint(rows, rules())
    assert {tuple(r) for r in res.facts.collect()} == want
    reasoner = Reasoner.from_result(res)
    for call in model.calls(rng):
        assert call.run(reasoner) == call.expected, call


def test_seed_picks_inputs():
    a, b = OwlModel.generate(1), OwlModel.generate(2)
    assert not np.array_equal(a.cust, b.cust)
    assert np.array_equal(a.cust, OwlModel.generate(1).cust)


def test_job_and_task_counts_repeat(spark):
    """Jobs and tasks counted by job tag repeat exactly for one input."""
    model = OwlModel.generate(SEED, customers=100, orders=300)
    tables = model.tables(spark)
    tracer, counts = Tracer(spark), []
    for _ in range(2):
        with tracer.span("engine"):
            FixpointEngine(spark, rules()).materialize(owl_asserted(spark, tables))
        counts.append(tracer.collect()["engine"].counts())
    assert counts[0] == counts[1]
    assert counts[0][0] > 0 and counts[0][1] >= counts[0][0]
