"""Stage C — canonicalization: alias-graph connected components with
deterministic min-IRI selection (SURVEY §7.0 step C).

Distributed connected components by iterative min-label propagation with
pointer doubling (the log-round CC-in-MapReduce family — label(v) first takes
the min over neighbors, then label(label(v)) short-circuits chains), entirely
in DataFrame ops:

    round:  lab'(v)  = min(lab(v), min_{(v,u) in E} lab(u))     # propagate
            lab''(v) = lab'(lab'(v))                            # double
    until no label changes.

Rounds = O(log diameter). The component representative is the lexicographic
minimum member — the deterministic "min canonical IRI" selection the north
star requires (no RNG, no nondeterministic aggregation order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _union_find(rows: list):
    """Driver-side union-find over an edge list; returns ``find``, which maps
    a vertex to its component's lexicographic-min member (union by min keeps
    the representative deterministic, as the distributed path's min label)."""
    parent: dict = {}

    def find(x: str) -> str:
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return find


def _union_find_components(rows: list, spark) -> DataFrame:
    """Driver-side union-find for broadcast-scale graphs — same output
    contract as the iterative path (component = lexicographic min member)."""
    find = _union_find(rows)
    verts = {v for e in rows for v in e}
    out = [(v, find(v)) for v in sorted(verts)]
    return spark.createDataFrame(out, "vertex string, component string")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """edges -> (vertex, component) where component = min member id/IRI.

    Adaptive physical choice (same spirit as AQE's broadcast decision): when
    the deduped edge set fits comfortably on the driver (< ``driver_threshold``
    edges — alias dictionaries are bounded metadata, like an ontology), a
    single-pass union-find replaces O(log diameter) join rounds, each of which
    costs several scheduler round-trips regardless of data size. Above the
    threshold — or with ``driver_threshold=0`` — the distributed min-label
    propagation + pointer-doubling loop runs (the 100 TB path; covered by
    tests both ways)."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = sym.unionByName(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.filter(F.col("a") != F.col("b")).distinct()
    if driver_threshold > 0:
        # probe BEFORE materializing: the limit-collect is one job over the
        # lazy distinct; the eager checkpoint is only worth paying when the
        # distributed loop below will actually re-scan the edge set
        head = sym.limit(driver_threshold + 1).collect()
        if len(head) <= driver_threshold:
            return _union_find_components([(r["a"], r["b"]) for r in head], edges.sparkSession)
    sym = sym.localCheckpoint(eager=True)
    lab = (
        sym.select(F.col("a").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("lab"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # propagate: min over neighbors' labels
        nb = (
            sym.join(lab, sym["b"] == lab["v"])
            .select(F.col("a").alias("v"), F.col("lab"))
        )
        lab1 = (
            lab.unionByName(nb)
            .groupBy("v")
            .agg(F.min("lab").alias("lab"))
        )
        # pointer doubling: lab(lab(v))
        l2 = lab1.select(F.col("v").alias("v2"), F.col("lab").alias("lab2"))
        lab2 = (
            lab1.join(l2, lab1["lab"] == l2["v2"], "left")
            .select(
                F.col("v"),
                F.least(F.col("lab"), F.coalesce(F.col("lab2"), F.col("lab"))).alias("lab"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            lab2.alias("n")
            .join(lab.alias("o"), F.col("n.v") == F.col("o.v"))
            .filter(F.col("n.lab") != F.col("o.lab"))
            .limit(1)
            .count()
        )
        lab = lab2
        if changed == 0:
            break
    return lab.select(F.col("v").alias("vertex"), F.col("lab").alias("component"))


def canonicalize(
    entity_dict: DataFrame, driver_threshold: int = 1_000_000
) -> DataFrame:
    """Aliases sharing a canonical_iri, and canonical_iris sharing an alias,
    collapse into one cluster; the representative IRI is the minimum
    canonical_iri in the cluster. Returns (canonical_iri, canonical) mapping
    every dictionary IRI to its cluster representative.

    Adaptive like :func:`connected_components`: an entity dictionary is
    bounded metadata, so below ``driver_threshold`` rows the whole mapping is
    computed on the driver from ONE map-only limit-collect of the raw edge
    list (no symmetrize/distinct job, no per-component groupBy+join stages —
    those cost ~5 scheduler round-trips for a broadcast-scale side table;
    measured 1.19 s -> ~0.2 s at 1.6k dictionary rows). Larger dictionaries
    take the distributed CC + aggregate path unchanged."""
    spark = entity_dict.sparkSession
    if driver_threshold > 0:
        head = (
            entity_dict.select("alias", "canonical_iri")
            .limit(driver_threshold + 1)
            .collect()
        )
        if len(head) <= driver_threshold:
            import pandas as pd

            # union-find over prefixed vertices (a: alias / i: iri keeps the
            # namespaces apart) — identical connectivity to the distributed
            # path; representative = min IRI within the component
            rows = [("a:" + r["alias"], "i:" + r["canonical_iri"]) for r in head]
            find = _union_find(rows)
            iris = sorted({b[2:] for _, b in rows})
            rep: dict = {}
            for iri in iris:
                c = find("i:" + iri)
                if c not in rep or iri < rep[c]:
                    rep[c] = iri
            out = pd.DataFrame(
                {
                    "canonical_iri": iris,
                    "canonical": [rep[find("i:" + iri)] for iri in iris],
                }
            )
            return spark.createDataFrame(out)
    # bipartite alias<->iri edges; prefix vertices to keep the namespaces apart
    edges = entity_dict.select(
        F.concat(F.lit("a:"), F.col("alias")).alias("src"),
        F.concat(F.lit("i:"), F.col("canonical_iri")).alias("dst"),
    )
    cc = connected_components(edges, driver_threshold=0)
    iris = cc.filter(F.col("vertex").startswith("i:")).select(
        F.expr("substring(vertex, 3)").alias("canonical_iri"),
        F.col("component"),
    )
    # representative = min IRI within the component (strip the i:/a: prefix
    # ordering problem by re-aggregating over IRIs only)
    rep = iris.groupBy("component").agg(F.min("canonical_iri").alias("canonical"))
    return iris.join(rep, "component").select("canonical_iri", "canonical")
