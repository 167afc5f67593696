"""Per-layer metrics of a traced run, named by module.

Self times come from three sources outside the program: spans around calls
into each module (tracing.Tracer), the phase times the engine already
records in ``FixpointResult.metrics[*].phases``, and, for the lazy KG front
end, forcing its stages to a noop sink one after another and taking the
differences. ``trace.unaccounted_s`` is the traced write's wall time minus
the sum of the layer self times.
"""

from __future__ import annotations

import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from arachne_spark.kg.extract import extract_mentions
from arachne_spark.kg.link import link_mentions
from arachne_spark.kg.pipeline import build_triples

UNITS = {
    "session.start_s": "s",
    "kg.extract_s": "s", "kg.link_s": "s", "kg.canon_s": "s",
    "kg.mentions": "count", "kg.link_yield": "ratio", "kg.triples": "count",
    "dictionary.build_s": "s", "dictionary.encode_s": "s",
    "engine.stage0_s": "s", "engine.rounds": "count", "plans.compile_s": "s",
    "engine.derive_distinct_s": "s", "engine.dedup_s": "s",
    "engine.pred_values_s": "s", "engine.other_s": "s",
    "engine.variants_skipped": "count",
    "incremental.seed_s": "s", "incremental.rounds_s": "s",
    "facade.instances_ms": "ms", "facade.types_ms": "ms",
    "facade.superclasses_ms": "ms", "facade.is_entailed_ms": "ms",
    "sparql.select_ms": "ms", "sparql.parse_ms": "ms",
    "facade.jobs_per_call": "count",
    **{f"{layer}.{k}": u
       for layer in ("kg", "engine", "incremental", "facade", "sparql")
       for k, u in (("jobs", "count"), ("tasks", "count"), ("task_s", "s"))},
    "trace.e2e_s": "s", "trace.unaccounted_s": "s",
    "trace.unaccounted_share": "ratio", "trace.overhead_s": "s",
}
ROUND_PHASES = {
    "compile": "plans.compile_s",
    "derive_distinct": "engine.derive_distinct_s",
    "dedup_probe": "engine.dedup_s",
    "dedup_anti": "engine.dedup_s",
    "pred_values": "engine.pred_values_s",
}
SETUP_PHASES = {
    "dict_build": "dictionary.build_s",
    "encode": "dictionary.encode_s",
}


def _noop(df) -> tuple[float, int]:
    """Execute ``df`` into the noop sink: (seconds, rows)."""
    obs = Observation()
    t0 = time.perf_counter()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite").save()
    return time.perf_counter() - t0, obs.get["n"]


def kg_split(wl) -> dict:
    """Self times of extract, link and canonicalize+triples: each stage's
    prefix is forced to the noop sink and the previous prefix subtracted."""
    t_e, mentions = _noop(extract_mentions(wl.corpus))
    t_el, linked = _noop(link_mentions(extract_mentions(wl.corpus), wl.edict))
    t0 = time.perf_counter()
    triples = build_triples(wl.corpus, wl.edict)
    call_s = time.perf_counter() - t0
    t_elc, n_triples = _noop(triples)
    return {
        "kg.extract_s": t_e,
        "kg.link_s": t_el - t_e,
        "kg.canon_s": call_s + t_elc - t_el,
        "kg.mentions": float(mentions),
        "kg.link_yield": linked / mentions if mentions else 0.0,
        "kg.triples": float(n_triples),
        # the part of the front end that runs lazily inside stage 0
        "_kg_lazy_s": t_elc,
    }


def write_layers(wl, res, wall: float, per_layer: dict, n_prev: int) -> dict:
    """Layer self times of one traced write operation (kg_build, owl_tbox:
    a materialize; ingest_query: an incremental batch)."""
    rows = {k: 0.0 for k in UNITS}
    for layer, c in per_layer.items():
        if f"{layer}.jobs" in rows:
            rows[f"{layer}.jobs"] = float(c.jobs)
            rows[f"{layer}.tasks"] = float(c.tasks)
            rows[f"{layer}.task_s"] = c.task_s
    if wl.name == "ingest_query":
        rounds = res.metrics[n_prev + 1:]  # after the batch's seed round
        rows["incremental.rounds_s"] = sum(m.seconds for m in rounds)
        rows["incremental.seed_s"] = wall - rows["incremental.rounds_s"]
        accounted = rows["incremental.seed_s"]
    else:
        ph0, rounds = res.metrics[0].phases, res.metrics[1:]
        stage0 = sum(v for k, v in ph0.items() if k not in SETUP_PHASES)
        for k, name in SETUP_PHASES.items():
            rows[name] = ph0.get(k, 0.0)
        accounted = stage0 + sum(ph0.get(k, 0.0) for k in SETUP_PHASES)
        if wl.name == "kg_build":
            split = kg_split(wl)
            # the lazy front end ran inside stage 0; build_triples' eager
            # part (canonicalize's collect) ran in the kg span
            stage0 -= split.pop("_kg_lazy_s")
            rows.update(split)
            accounted += per_layer["kg"].seconds
        rows["engine.stage0_s"] = stage0
    for m in rounds:
        for k, v in m.phases.items():
            rows[ROUND_PHASES.get(k, "engine.other_s")] += v
            accounted += v
        rows["engine.variants_skipped"] += m.variants_skipped
    rows["engine.rounds"] = float(len(rounds))
    rows["trace.e2e_s"] = wall
    rows["trace.unaccounted_s"] = wall - accounted
    rows["trace.unaccounted_share"] = (wall - accounted) / wall
    return rows


def call_layers(per_layer: dict, per_kind: dict) -> dict:
    """Per-call-type latencies and job/task counts of the traced call blocks."""
    rows = {k: statistics.median(v) for k, v in per_kind.items()}
    for layer in ("facade", "sparql"):
        c = per_layer.get(layer)
        if c is not None:
            rows[f"{layer}.jobs"] = float(c.jobs)
            rows[f"{layer}.tasks"] = float(c.tasks)
            rows[f"{layer}.task_s"] = c.task_s
    calls = sum(c.calls for c in per_layer.values())
    jobs = sum(c.jobs for c in per_layer.values())
    rows["facade.jobs_per_call"] = jobs / calls if calls else 0.0
    return rows
