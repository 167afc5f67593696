"""KG-construction front end: extraction (with sha256 invariant), linking,
connected-components canonicalization, end-to-end pipeline."""

import pytest
from pyspark.sql import functions as F

from arachne_spark.kg import (
    canonicalize,
    connected_components,
    extract_mentions,
    gen_code_files,
    gen_entity_dict,
    link_mentions,
)
from arachne_spark.kg.pipeline import build_triples, materialize_kg
from arachne_spark.owlrl import owl_rl_core
from arachne_spark.rules import RuleSet, load_rules_json
from tests.kg_oracles import extract_mentions_pandas


@pytest.fixture(scope="module")
def corpus(spark):
    return gen_code_files(spark, 300).cache()


@pytest.fixture(scope="module")
def edict(spark):
    return gen_entity_dict(spark).cache()


def test_datagen_deterministic(spark, corpus):
    again = gen_code_files(spark, 300)
    a = {tuple(r) for r in corpus.collect()}
    b = {tuple(r) for r in again.collect()}
    assert a == b
    # Zipf skew: the head repo holds many more files than the tail
    counts = dict(
        corpus.groupBy("repo").count().orderBy(F.desc("count")).limit(1).collect()[0].asDict()
        for _ in [0]
    )
    top = corpus.groupBy("repo").count().agg(F.max("count")).collect()[0][0]
    n_repos = corpus.select("repo").distinct().count()
    assert top > 300 / n_repos * 2  # clearly skewed


def test_extract_sha256_invariant(spark, corpus):
    """Per-row invariant (BASELINE.json input_hint): the sha256 the extractor
    computes inside the Arrow batch must equal an independent F.sha2 over the
    source table, for every file that produced mentions."""
    mentions = extract_mentions(corpus)
    src = corpus.select(
        "repo", "path", "commit", F.sha2("content", 256).alias("expect_sha")
    )
    j = (
        mentions.select("repo", "path", "commit", "content_sha256")
        .distinct()
        .join(src, on=["repo", "path", "commit"], how="inner")
    )
    assert j.count() > 0
    assert j.filter(F.col("content_sha256") != F.col("expect_sha")).count() == 0


def test_extract_ground_truth(spark, corpus):
    """File 0 is python: class Class_0(Class_3): def Func_0... import module_0,
    call Func_5 — extraction must find exactly these mentions."""
    m = extract_mentions(corpus.filter(F.col("path") == "src/pkg_0/mod_0.py"))
    got = {(r["mention"], r["mention_kind"]) for r in m.collect()}
    assert got == {
        ("Class_0", "class_def"),
        ("Class_3", "extends"),
        ("Func_0", "func_def"),
        ("module_0", "import"),
        ("Func_5", "call"),
    }


def test_link_exact_and_fuzzy(spark, edict):
    mentions = spark.createDataFrame(
        [
            ("r", "p", "c", "python", "sha", "Class_7", "class_def"),
            ("r", "p", "c", "python", "sha", "class_7", "class_def"),  # case variant
            ("r", "p", "c", "python", "sha", "NoSuchEntity_99x", "class_def"),
        ],
        "repo string, path string, commit string, lang string, content_sha256 string, mention string, mention_kind string",
    )
    linked = link_mentions(mentions, edict)
    rows = {r["mention"]: r["canonical_iri"] for r in linked.collect()}
    assert rows.get("Class_7") == "http://example.org/code/class/Class_7"
    assert rows.get("class_7") == "http://example.org/code/class/Class_7"
    assert "NoSuchEntity_99x" not in rows


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d"), ("f", "f")],
        "src string, dst string",
    )
    cc = connected_components(edges)
    got = {(r["vertex"], r["component"]) for r in cc.collect()}
    assert ("a", "a") in got and ("b", "a") in got and ("c", "a") in got
    assert ("d", "d") in got and ("e", "d") in got
    # self-loop-only vertex drops out (filtered a != b); fine for alias graphs


def test_connected_components_long_chain_log_rounds(spark):
    n = 64
    edges = spark.createDataFrame(
        [(f"v{i:03d}", f"v{i+1:03d}") for i in range(n)], "src string, dst string"
    )
    # force the distributed path (the 100 TB code path): doubling ~log2(64)+slack
    cc = connected_components(edges, max_iter=10, driver_threshold=0)
    comps = {r["component"] for r in cc.collect()}
    assert comps == {"v000"}


def test_connected_components_driver_vs_distributed(spark, edict):
    """The union-find fast path and the min-label-propagation loop must give
    identical (vertex, component) assignments on the alias graph."""
    edges = edict.select(
        F.concat(F.lit("a:"), F.col("alias")).alias("src"),
        F.concat(F.lit("i:"), F.col("canonical_iri")).alias("dst"),
    )
    fast = {(r["vertex"], r["component"]) for r in connected_components(edges).collect()}
    dist = {
        (r["vertex"], r["component"])
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert fast == dist


def test_link_scorer_expr_matches_pandas_udf(spark, edict, monkeypatch):
    """The codegen'd column-expression scorer is differential-tested against
    the Arrow-batched pandas UDF oracle: linking with either scorer picks
    identical best candidates + scores."""
    from arachne_spark.kg import link
    from tests.kg_oracles import link_score

    mentions = extract_mentions(gen_code_files(spark, 500)).localCheckpoint(eager=True)
    key = ["repo", "path", "mention", "mention_kind"]
    a = link_mentions(mentions, edict).orderBy(*key).collect()
    monkeypatch.setattr(link, "link_score_expr", link_score)
    b = link_mentions(mentions, edict).orderBy(*key).collect()
    assert len(a) == len(b)
    for x, y in zip(a, b):
        assert x["canonical_iri"] == y["canonical_iri"]
        assert abs(x["score"] - y["score"]) < 1e-9


def test_link_single_pass_matches_vocab_path(spark, edict):
    """link_mentions_single_pass (one corpus scan, dict-side pre-grouping,
    in-row array best-selection) must produce row-identical output to the
    vocab-scoring path — including unlinked-mention drops and the
    min_score filter."""
    from arachne_spark.kg.link import link_mentions_single_pass

    mentions = extract_mentions(gen_code_files(spark, 500)).localCheckpoint(eager=True)
    key = ["repo", "path", "mention", "mention_kind"]
    cols = key + ["canonical_iri", "kind", "alias", "prior", "score"]
    a = link_mentions(mentions, edict).select(*cols).orderBy(*key).collect()
    b = link_mentions_single_pass(mentions, edict).select(*cols).orderBy(*key).collect()
    assert len(a) == len(b) and len(a) > 0
    for x, y in zip(a, b):
        assert x["canonical_iri"] == y["canonical_iri"], (x, y)
        assert x["alias"] == y["alias"] and x["kind"] == y["kind"]
        assert abs(x["score"] - y["score"]) < 1e-9
    # the corpus side must see NO aggregate and NO shuffle: the only
    # exchange below the broadcast join belongs to the dict-scale groupBy
    plan = (
        link_mentions_single_pass(mentions, edict)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    # mentions feed the join directly — no HashAggregate between the scan of
    # the mention table and the join (the vocab path's distinct)
    above_join = plan.split("BroadcastHashJoin")[0]
    assert "HashAggregate" not in above_join, above_join


def test_canonicalize_clusters(spark, edict):
    canon = canonicalize(edict)
    # each canonical_iri maps to a representative; aliases like "class_7"
    # belong to exactly one IRI so clusters stay singleton-per-IRI unless
    # aliases collide. "Class_1".lower() == "class_1" only collides within
    # the same IRI -> representative == itself.
    row = canon.filter(
        F.col("canonical_iri") == "http://example.org/code/class/Class_7"
    ).collect()
    assert len(row) == 1


def test_pipeline_end_to_end(spark, corpus, edict, tmp_path):
    rules = load_rules_json(
        [
            {
                "name": "call-dep",
                "body": [
                    ["?f", "http://example.org/code/definesFunction", "?fn"],
                    ["?g", "http://example.org/code/calls", "?fn"],
                ],
                "head": [["?g", "http://example.org/code/dependsOn", "?f"]],
            },
            {
                "name": "extends-trans",
                "body": [
                    ["?a", "http://example.org/code/extends", "?b"],
                    ["?b", "http://example.org/code/extends", "?c"],
                ],
                "head": [["?a", "http://example.org/code/extends", "?c"]],
            },
        ]
    )
    res = materialize_kg(
        corpus, edict, rules, checkpoint_dir=str(tmp_path / "kg_ckpt")
    )
    assert res.facts_count > 0
    dep = res.facts.filter(
        F.col("p") == "<http://example.org/code/dependsOn>"
    ).count()
    assert dep > 0
    assert (tmp_path / "kg_ckpt" / "metrics.jsonl").exists()


def test_extract_expr_matches_pandas_path(spark):
    """Differential: the codegen'd regexp_extract_all extraction produces
    EXACTLY the rows of the Arrow mapInPandas extractor on the synthetic
    corpus (same dual-path parity evidence as the link scorer)."""
    corpus = gen_code_files(spark, 400).localCheckpoint(eager=True)
    cols = [
        "repo", "path", "commit", "lang",
        "content_sha256", "mention", "mention_kind",
    ]
    a = {tuple(r) for r in extract_mentions(corpus).select(*cols).collect()}
    b = {
        tuple(r)
        for r in extract_mentions_pandas(corpus).select(*cols)
        .collect()
    }
    assert a == b
    assert len(a) > 100


def test_extract_expr_unicode_identifiers(spark):
    """Non-ASCII identifiers extract identically on both paths (ADVICE r3:
    Java \\w is ASCII-only without (?U), so the Catalyst default silently
    dropped Unicode identifiers the pandas/re path extracted)."""
    rows = [
        ("r0", "a.py", "c0", "python",
         "class Ünïcodé(Bäse):\n    def größe(x):\n        y = caféchaud(1)\n"),
        ("r0", "b.scala", "c0", "scala",
         "class Überklasse extends Basisklasse {\n  def møde(): Int = 1\n}\n"),
        ("r0", "c.py", "c0", "python", "import пакет.модуль\n"),
    ]
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    cols = [
        "repo", "path", "commit", "lang",
        "content_sha256", "mention", "mention_kind",
    ]
    a = {tuple(r) for r in extract_mentions(corpus).select(*cols).collect()}
    b = {
        tuple(r)
        for r in extract_mentions_pandas(corpus).select(*cols)
        .collect()
    }
    assert a == b
    mentions = {(r[5], r[6]) for r in a}
    assert ("Ünïcodé", "class_def") in mentions
    assert ("Bäse", "extends") in mentions
    assert ("größe", "func_def") in mentions
    assert ("caféchaud", "call") in mentions
    assert ("Überklasse", "class_def") in mentions
    assert ("møde", "func_def") in mentions
    assert ("пакет.модуль", "import") in mentions


def test_extract_expr_no_python_stage(spark):
    """Plan-level: the default extract path contains no Python/Arrow eval
    stage — the regexes run inside whole-stage codegen."""
    corpus = gen_code_files(spark, 50)
    plan = (
        extract_mentions(corpus)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan, plan


def test_build_triples_fused_matches_checkpoint(spark):
    """The fused lazy plan (staging='none', one explode emitting both triple
    kinds, no mentions materialization — VERDICT r3 next-round #1) is
    MULTISET-identical to the checkpointed two-branch baseline."""
    from collections import Counter

    from arachne_spark.kg import gen_code_files, gen_entity_dict
    from arachne_spark.kg.pipeline import build_triples

    corpus = gen_code_files(spark, 300)
    edict = gen_entity_dict(spark)
    fused = Counter(
        tuple(r) for r in build_triples(corpus, edict, dedup=False).collect()
    )
    staged = Counter(
        tuple(r)
        for r in build_triples(
            corpus, edict, dedup=False, staging="checkpoint"
        ).collect()
    )
    assert fused == staged
    assert sum(fused.values()) > 500
    # the fused default really is boundary-free for CORPUS-SCALE relations:
    # the only LogicalRDDs (materialized scans) allowed in the plan are the
    # tiny driver-built tables (entity dict, canon components) — never the
    # mentions table
    plan = (
        build_triples(corpus, edict, dedup=False)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    rdd_lines = [l for l in plan.splitlines() if "LogicalRDD" in l]
    assert not any("mention" in l or "content" in l for l in rdd_lines), plan


def test_build_triples_parquet_staging_matches_fused(spark, tmp_path):
    """staging='parquet' (one corpus pass + columnar mention staging — the
    100 TB shape where the source is never read twice) is MULTISET-identical
    to the fused plan, and its plan reads the staged parquet, not the
    corpus, on both consumer branches."""
    from collections import Counter

    from arachne_spark.kg import gen_code_files, gen_entity_dict
    from arachne_spark.kg.pipeline import build_triples

    corpus = gen_code_files(spark, 300)
    edict = gen_entity_dict(spark)
    fused = Counter(
        tuple(r) for r in build_triples(corpus, edict, dedup=False).collect()
    )
    out = build_triples(
        corpus,
        edict,
        dedup=False,
        staging="parquet",
        staging_dir=str(tmp_path),
    )
    staged = Counter(tuple(r) for r in out.collect())
    assert fused == staged
    # the corpus subtree (Range + content exprs) must be GONE from the plan:
    # every leaf is either the staged parquet scan or a tiny driver table
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Relation" in plan and "parquet" in plan
    assert "Range" not in plan, plan


def test_preencoded_pipeline_matches_string_path(spark, corpus, edict):
    """Pre-encoded long-id extraction (VERDICT r4 next-round #4): the
    id-emitting plan (linked_to_triples(salt=...)) must produce EXACTLY
    encode_ids(string plan) row for row, and materialize_encoded over it —
    with a dimension-table dictionary — must reach the same fixpoint as the
    string-input engine. The fat IRI strings never materialize."""
    from arachne_spark.dictionary import encode_ids
    from arachne_spark.engine import FixpointEngine
    from arachne_spark.kg.extract import _KIND_PRED, file_iri_col
    from arachne_spark.model import RDF_TYPE, encode_iri
    from tests.conftest import spo_set

    rules = load_rules_json(
        [
            {
                "name": "call-dep",
                "body": [
                    ["?f", "http://example.org/code/definesFunction", "?fn"],
                    ["?g", "http://example.org/code/calls", "?fn"],
                ],
                "head": [["?g", "http://example.org/code/dependsOn", "?f"]],
            },
            {
                "name": "extends-trans",
                "body": [
                    ["?a", "http://example.org/code/extends", "?b"],
                    ["?b", "http://example.org/code/extends", "?c"],
                ],
                "head": [["?a", "http://example.org/code/extends", "?c"]],
            },
        ]
    )
    strings = build_triples(corpus, edict, dedup=False)
    base = FixpointEngine(spark, rules, dict_encode=True).materialize(strings)

    # dimension-table vocabulary (the scaling-bench shape)
    const_terms = [f"<{p}>" for p in _KIND_PRED.values()] + [encode_iri(RDF_TYPE)]
    vocab = (
        corpus.select(file_iri_col().alias("term"))
        .unionByName(
            edict.select(
                F.concat(F.lit("<"), F.col("canonical_iri"), F.lit(">")).alias(
                    "term"
                )
            )
        )
        .unionByName(
            edict.select(
                F.concat(
                    F.lit("<http://example.org/code/Kind/"),
                    F.col("kind"),
                    F.lit(">"),
                ).alias("term")
            )
        )
        .unionByName(
            spark.createDataFrame([(t,) for t in set(const_terms)], "term string")
        )
    )
    eng = FixpointEngine(spark, rules, dict_encode=True)
    salt, term_dict = eng.build_dictionary(vocab)

    ids = build_triples(corpus, edict, dedup=False, id_salt=salt)
    ref_ids = encode_ids(strings, salt)
    # (a) multiset-identical to encoding the string plan
    assert ids.exceptAll(ref_ids).count() == 0
    assert ref_ids.exceptAll(ids).count() == 0

    # (b) same fixpoint, decoded strictly through the dimension dictionary
    res = eng.materialize_encoded(
        ids, term_dict=term_dict, salt=salt
    )
    assert spo_set(res.facts) == spo_set(base.facts)
    assert res.rounds == base.rounds


def test_preencoded_thin_staging_schema(spark, corpus, edict, tmp_path):
    """id_salt + parquet staging must stage the THIN mentions schema
    (file_sid long, mention, mention_kind) — no repo/path/commit/lang/
    sha256 strings on the staging table — while producing the same triples
    as the unstaged pre-encoded plan."""
    import glob

    fused = build_triples(corpus, edict, dedup=False, id_salt=0)
    staged = build_triples(
        corpus, edict, dedup=False, id_salt=0,
        staging="parquet", staging_dir=str(tmp_path),
    )
    a = sorted(tuple(r) for r in fused.collect())
    b = sorted(tuple(r) for r in staged.collect())
    assert a == b and len(a) > 0
    mention_dirs = glob.glob(str(tmp_path / "mentions_*") + "/mentions")
    assert mention_dirs, list(tmp_path.iterdir())
    st = spark.read.parquet(mention_dirs[0])
    assert set(st.columns) == {"file_sid", "mention", "mention_kind"}
    assert dict(st.dtypes)["file_sid"] == "bigint"
