"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-materialization on sf0.001;
`queries()` exposes one entry per implemented operator from SURVEY.md §2
(names prefixed by their SURVEY operator ids) plus the training-data-pipeline
operators (dedup / similarity / text analysis / multimodal); `oracle_sql()`
gives the DuckDB-equivalent for each (omitted only for stub-backed width/
height-style fields with no SQL analogue — none currently).

All implementations live in `arachne_spark/`; this file only wires tables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared derived tables (kept formula-identical between Spark and DuckDB SQL)
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tree_edges(spark, sf_dir) -> DataFrame:
    """Binary-tree edges over customer keys: (c, c // 2) for c > 1 — a
    deterministic deep hierarchy for closure operators."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") > 1).select(
        F.col("c_custkey").alias("src"),
        (F.col("c_custkey") / 2).cast("long").alias("dst"),
    )


_TREE_SQL = "SELECT c_custkey AS src, c_custkey // 2 AS dst FROM customer WHERE c_custkey > 1"


def _enc_id(prefix: str, col) -> F.Column:
    return F.concat(F.lit(f"<{prefix}"), col.cast("string"), F.lit(">"))


def _dec_id(col) -> F.Column:
    return F.regexp_extract(col, r"<[a-z]+(\d+)>", 1).cast("long")


def _tree_triples(spark, sf_dir) -> DataFrame:
    e = _tree_edges(spark, sf_dir)
    return e.select(
        _enc_id("n", F.col("src")).alias("s"),
        F.lit("<p:up>").alias("p"),
        _enc_id("n", F.col("dst")).alias("o"),
    )


def _trans_ruleset():
    from arachne_spark.rules import load_rules_json

    return load_rules_json(
        [{"name": "tc", "body": [["?x", "p:up", "?y"], ["?y", "p:up", "?z"]],
          "head": [["?x", "p:up", "?z"]]}]
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG materialization on sf0.001 — class hierarchy + typed
    customers -> OWL-RL closure + indirect types; returns inferred triples."""
    from arachne_spark.engine import FixpointEngine
    from arachne_spark.model import RDF_TYPE, RDFS_SUBCLASSOF, encode_iri
    from arachne_spark.owlrl import (
        indirect_type_rule,
        owl_rl_core,
        strict_superclass_triples,
    )
    from arachne_spark.rules import RuleSet

    sf = "/root/testdata/sf0.001"
    customer = _t(spark, sf, "customer")
    nation = _t(spark, sf, "nation")
    TYPE, SCO = encode_iri(RDF_TYPE), encode_iri(RDFS_SUBCLASSOF)
    type_triples = customer.select(
        _enc_id("c", F.col("c_custkey")).alias("s"),
        F.lit(TYPE).alias("p"),
        _enc_id("nat", F.col("c_nationkey")).alias("o"),
    )
    sco_edges = nation.select(
        _enc_id("nat", F.col("n_nationkey")).alias("s"),
        F.lit(SCO).alias("p"),
        _enc_id("reg", F.col("n_regionkey")).alias("o"),
    ).union(
        _t(spark, sf, "region").select(
            _enc_id("reg", F.col("r_regionkey")).alias("s"),
            F.lit(SCO).alias("p"),
            F.lit("<world>").alias("o"),
        )
    )
    strict = strict_superclass_triples(
        [(r["s"], r["o"]) for r in sco_edges.collect()]
    )
    asserted = type_triples.union(sco_edges).union(
        spark.createDataFrame(strict, "s string, p string, o string")
    )
    rules = RuleSet(list(owl_rl_core()) + [indirect_type_rule()])
    res = FixpointEngine(spark, rules).materialize(asserted)
    return res.inferred_only()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from arachne_spark.engine import FixpointEngine
    from arachne_spark.facade import Reasoner, transitive_closure
    from arachne_spark.functions import (
        cosine_topk,
        exact_dup_groups,
        fingerprint,
        ivf_assign,
        langid,
        lsh_candidate_pairs,
        minhash_bands,
        ngram_jaccard_pairs,
        quality_features,
        token_counts,
    )
    from arachne_spark.plans.compiler import apply_rule_once
    from arachne_spark.rules import Var, load_rules_json, rule_from_dict

    # ---- engine / rete-replacement operators -----------------------------

    def r13_fixpoint_tc(spark, sf_dir):
        """R13+O7: semi-naive fixpoint — transitive closure of the tree.
        dict_encode forced ON so the id hot loop stays oracle-verified at
        every scale (auto would pick strings below 1M rows)."""
        res = FixpointEngine(spark, _trans_ruleset(), dict_encode=True).materialize(
            _tree_triples(spark, sf_dir)
        )
        return res.facts.select(
            _dec_id(F.col("s")).alias("src"), _dec_id(F.col("o")).alias("dst")
        )

    def r13_tc_bucketed_store(spark, sf_dir):
        """O1: the SAME transitive-closure fixpoint on the predicate-bucketed
        parquet facts store (pred_partitioned=True) — every round appends to
        a partitioned store and re-reads it with partition-pruned alpha
        scans; the oracle certifies store-path results equal the recursive
        SQL closure exactly."""
        import tempfile

        with tempfile.TemporaryDirectory() as td:
            res = FixpointEngine(
                spark,
                _trans_ruleset(),
                dict_encode=True,
                checkpoint_dir=td,
                pred_partitioned=True,
            ).materialize(_tree_triples(spark, sf_dir))
            # pin rows before the tempdir vanishes
            rows = res.facts.select(
                _dec_id(F.col("s")).alias("src"), _dec_id(F.col("o")).alias("dst")
            ).localCheckpoint(eager=True)
        return rows

    def r13_tc_preencoded(spark, sf_dir):
        """Pre-encoded long-id path (materialize_encoded, VERDICT r4 #4):
        the triple plan emits xxhash64 ids straight off the edges table —
        the IRI strings never materialize into a staged relation — and the
        dictionary comes from the node vocabulary (dimension-table shape)
        via build_dictionary. Same recursive-SQL closure oracle as
        r13_fixpoint_tc certifies end-to-end equality, strict decode."""
        from arachne_spark.dictionary import term_id_col

        e = _tree_edges(spark, sf_dir)
        eng = FixpointEngine(spark, _trans_ruleset())
        vocab = e.select(_enc_id("n", F.col("src")).alias("term")).unionByName(
            e.select(_enc_id("n", F.col("dst")).alias("term"))
        )
        salt, term_dict = eng.build_dictionary(vocab)
        ids = e.select(
            term_id_col(_enc_id("n", F.col("src")), salt).alias("s"),
            term_id_col(F.lit("<p:up>"), salt).alias("p"),
            term_id_col(_enc_id("n", F.col("dst")), salt).alias("o"),
        )
        res = eng.materialize_encoded(ids, term_dict=term_dict, salt=salt)
        return res.facts.select(
            _dec_id(F.col("s")).alias("src"), _dec_id(F.col("o")).alias("dst")
        )

    def r13_incremental(spark, sf_dir):
        """Incremental maintenance (Rete reuse analogue, README.md:9): seed
        the store from even-source edges, then assert the odd rest; the
        incrementally-maintained fixpoint must equal the from-scratch
        closure of ALL edges (same oracle as r13_fixpoint_tc)."""
        t = _tree_triples(spark, sf_dir)
        even = t.filter(_dec_id(F.col("s")) % 2 == 0)
        odd = t.filter(_dec_id(F.col("s")) % 2 == 1)
        eng = FixpointEngine(spark, _trans_ruleset(), dict_encode=True)
        res = eng.incremental(eng.materialize(even), odd)
        return res.facts.select(
            _dec_id(F.col("s")).alias("src"), _dec_id(F.col("o")).alias("dst")
        )

    def s6_inferred_only(spark, sf_dir):
        """S6: facts minus asserted (the --inferred-only export)."""
        res = FixpointEngine(spark, _trans_ruleset()).materialize(
            _tree_triples(spark, sf_dir)
        )
        return res.inferred_only().select(
            _dec_id(F.col("s")).alias("src"), _dec_id(F.col("o")).alias("dst")
        )

    def r5_body_join(spark, sf_dir):
        """R5: two-atom body equi-join (token⋈triple becomes composite-key join)."""
        orders = _t(spark, sf_dir, "orders")
        customer = _t(spark, sf_dir, "customer")
        triples = orders.select(
            _enc_id("o", F.col("o_orderkey")).alias("s"),
            F.lit("<p:hasCust>").alias("p"),
            _enc_id("c", F.col("o_custkey")).alias("o"),
        ).union(
            customer.select(
                _enc_id("c", F.col("c_custkey")).alias("s"),
                F.lit("<p:inNation>").alias("p"),
                _enc_id("n", F.col("c_nationkey")).alias("o"),
            )
        )
        rule = rule_from_dict(
            {"name": "j", "body": [["?o", "p:hasCust", "?c"], ["?c", "p:inNation", "?n"]],
             "head": [["?o", "p:inNation", "?n"]]}
        )
        out = apply_rule_once(triples, rule)
        return out.select(
            _dec_id(F.col("s")).alias("o_orderkey"), _dec_id(F.col("o")).alias("n_nationkey")
        )

    def r3_repeated_var_guard(spark, sf_dir):
        """R3: pattern (?x p ?x) — uniform repeated-variable equality filter."""
        li = _t(spark, sf_dir, "lineitem")
        triples = li.select(
            _enc_id("k", F.col("l_orderkey")).alias("s"),
            F.lit("<p:rel>").alias("p"),
            _enc_id("k", F.col("l_partkey")).alias("o"),
        ).distinct()
        from arachne_spark.plans.compiler import atom_relation

        x = Var("x")
        rel = atom_relation(triples, (x, "<p:rel>", x))
        return rel.select(_dec_id(F.col("v_x")).alias("x"))

    def r6_cross_product(spark, sf_dir):
        """R6: body atoms sharing no variables — cross product."""
        region = _t(spark, sf_dir, "region")
        customer = _t(spark, sf_dir, "customer")
        triples = region.select(
            _enc_id("r", F.col("r_regionkey")).alias("s"),
            F.lit("<p:isRegion>").alias("p"),
            F.lit("<y>").alias("o"),
        ).union(
            customer.select(
                F.concat(F.lit("<seg:"), F.col("c_mktsegment"), F.lit(">")).alias("s"),
                F.lit("<p:isSegment>").alias("p"),
                F.lit("<y>").alias("o"),
            ).distinct()
        )
        rule = rule_from_dict(
            {"name": "x", "body": [["?r", "p:isRegion", None], ["?s", "p:isSegment", None]],
             "head": [["?r", "p:pairedWith", "?s"]]}
        )
        out = apply_rule_once(triples, rule)
        return out.select(
            _dec_id(F.col("s")).alias("r_regionkey"),
            F.regexp_extract(F.col("o"), r"<seg:(.+)>", 1).alias("segment"),
        )

    def r11_fact_dedup(spark, sf_dir):
        """R11: the semi-naive delta step — distinct + anti-join vs facts."""
        orders = _t(spark, sf_dir, "orders")

        def edges(df):
            return df.select(
                _enc_id("o", F.col("o_orderkey")).alias("s"),
                F.lit("<p:hasCust>").alias("p"),
                _enc_id("c", F.col("o_custkey")).alias("o"),
            )

        all_edges = edges(orders)
        facts = edges(orders.filter(F.col("o_orderkey") % 2 == 0))
        new = (
            all_edges.union(all_edges)  # duplicates on purpose
            .distinct()
            .join(facts, on=["s", "p", "o"], how="left_anti")
        )
        return new.select(
            _dec_id(F.col("s")).alias("o_orderkey"), _dec_id(F.col("o")).alias("o_custkey")
        )

    # ---- facade operators --------------------------------------------------

    def q1_instances(spark, sf_dir):
        """Q1: getInstances — BGP + isIRI filter + distinct."""
        from arachne_spark.model import RDF_TYPE, encode_iri

        customer = _t(spark, sf_dir, "customer")
        facts = customer.select(
            _enc_id("c", F.col("c_custkey")).alias("s"),
            F.lit(encode_iri(RDF_TYPE)).alias("p"),
            F.concat(F.lit("<seg:"), F.col("c_mktsegment"), F.lit(">")).alias("o"),
        )
        inst = Reasoner(facts).instances("seg:BUILDING")
        return inst.select(_dec_id(F.col("s")).alias("c_custkey"))

    def q1_instances_store(spark, sf_dir):
        """Q1 over a pred_partitioned run via Reasoner.from_result: the
        facade's const-predicate scans read the bucketed store with __pb
        partition pruning (facade.py Reasoner._match; VERDICT r3 next-round #10).
        Customers typed by segment + (seg:BUILDING subClassOf seg:ANY)
        through OWL-RL; instances('seg:ANY') over the STORE must equal the
        plain SQL answer."""
        import tempfile

        from arachne_spark.model import RDF_TYPE, RDFS_SUBCLASSOF, encode_iri
        from arachne_spark.owlrl import owl_rl_core
        from arachne_spark.rules import RuleSet

        customer = _t(spark, sf_dir, "customer")
        types = customer.select(
            _enc_id("c", F.col("c_custkey")).alias("s"),
            F.lit(encode_iri(RDF_TYPE)).alias("p"),
            F.concat(F.lit("<seg:"), F.col("c_mktsegment"), F.lit(">")).alias("o"),
        )
        sco = spark.createDataFrame(
            [("<seg:BUILDING>", encode_iri(RDFS_SUBCLASSOF), "<seg:ANY>")],
            "s string, p string, o string",
        )
        with tempfile.TemporaryDirectory() as td:
            res = FixpointEngine(
                spark,
                RuleSet(list(owl_rl_core())),
                dict_encode=True,
                checkpoint_dir=td,
                pred_partitioned=True,
            ).materialize(types.unionByName(sco))
            assert res.facts_store is not None
            rows = (
                Reasoner.from_result(res)
                .instances("seg:ANY")
                .select(_dec_id(F.col("s")).alias("c_custkey"))
                .localCheckpoint(eager=True)  # pin before the tempdir vanishes
            )
        return rows

    def q4_property_path(spark, sf_dir):
        """Q4/Q5: property-path closure via iterative doubling."""
        clo = transitive_closure(_tree_edges(spark, sf_dir))
        return clo.filter(F.col("dst") == 1).select("src")

    def q3_types(spark, sf_dir):
        """Q3: getTypes after OWL-RL subclass closure (customer 1's nation,
        its region, and the world root)."""
        from arachne_spark.model import RDF_TYPE, RDFS_SUBCLASSOF, encode_iri
        from arachne_spark.owlrl import owl_rl_core

        customer = _t(spark, sf_dir, "customer")
        nation = _t(spark, sf_dir, "nation")
        region = _t(spark, sf_dir, "region")
        TYPE, SCO = encode_iri(RDF_TYPE), encode_iri(RDFS_SUBCLASSOF)
        asserted = (
            customer.select(
                _enc_id("c", F.col("c_custkey")).alias("s"),
                F.lit(TYPE).alias("p"),
                _enc_id("nat", F.col("c_nationkey")).alias("o"),
            )
            .union(
                nation.select(
                    _enc_id("nat", F.col("n_nationkey")).alias("s"),
                    F.lit(SCO).alias("p"),
                    _enc_id("reg", F.col("n_regionkey")).alias("o"),
                )
            )
            .union(
                region.select(
                    _enc_id("reg", F.col("r_regionkey")).alias("s"),
                    F.lit(SCO).alias("p"),
                    F.lit("<world>").alias("o"),
                )
            )
        )
        res = FixpointEngine(spark, owl_rl_core()).materialize(asserted)
        t = Reasoner(res.facts).types("c1")
        return t.select(
            F.regexp_replace(F.col("cls"), r"[<>]", "").alias("cls")
        )

    def q5_anchored_ancestors(spark, sf_dir):
        """Q5: getSuperClasses — anchored frontier walk UP the tree from n5."""
        from arachne_spark.model import RDFS_SUBCLASSOF, encode_iri

        sco = _tree_edges(spark, sf_dir).select(
            _enc_id("n", F.col("src")).alias("s"),
            F.lit(encode_iri(RDFS_SUBCLASSOF)).alias("p"),
            _enc_id("n", F.col("dst")).alias("o"),
        )
        sups = Reasoner(sco).superclasses("n5")
        return sups.select(_dec_id(F.col("cls")).alias("dst"))

    def q6_inverse_values(spark, sf_dir):
        """Q6: inverse object-property values — through the facade
        (Reasoner.object_property_values(..., inverse=True), facade.py),
        so the oracle row certifies the shipped library path."""
        li = _t(spark, sf_dir, "lineitem")
        facts = li.select(
            _enc_id("s", F.col("l_suppkey")).alias("s"),
            F.lit("<p:supplies>").alias("p"),
            _enc_id("pt", F.col("l_partkey")).alias("o"),
        ).distinct()
        vals = Reasoner(facts).object_property_values(
            "pt42", "p:supplies", inverse=True
        )
        return vals.select(_dec_id(F.col("value")).alias("l_suppkey"))

    def q13_bgp_select(spark, sf_dir):
        """Q13: 3-atom BGP SELECT (self-joins of the facts view)."""
        orders = _t(spark, sf_dir, "orders")
        customer = _t(spark, sf_dir, "customer")
        nation = _t(spark, sf_dir, "nation")
        facts = (
            orders.select(
                _enc_id("o", F.col("o_orderkey")).alias("s"),
                F.lit("<p:hasCust>").alias("p"),
                _enc_id("c", F.col("o_custkey")).alias("o"),
            )
            .union(
                customer.select(
                    _enc_id("c", F.col("c_custkey")).alias("s"),
                    F.lit("<p:inNation>").alias("p"),
                    _enc_id("n", F.col("c_nationkey")).alias("o"),
                )
            )
            .union(
                nation.select(
                    _enc_id("n", F.col("n_nationkey")).alias("s"),
                    F.lit("<p:inRegion>").alias("p"),
                    _enc_id("r", F.col("n_regionkey")).alias("o"),
                )
            )
        )
        r = Reasoner(facts)
        o, c, n = Var("o"), Var("c"), Var("n")
        rows = r.select_bgp(
            [(o, "<p:hasCust>", c), (c, "<p:inNation>", n), (n, "<p:inRegion>", "<r1>")]
        )
        return rows.select(
            _dec_id(F.col("v_o")).alias("o_orderkey"),
            _dec_id(F.col("v_c")).alias("c_custkey"),
            _dec_id(F.col("v_n")).alias("n_nationkey"),
        )

    def b3_indirect_types(spark, sf_dir):
        """B3: indirect-type marker triples, declaratively."""
        from arachne_spark.model import RDF_TYPE, encode_iri
        from arachne_spark.owlrl import indirect_type_rule, strict_superclass_triples
        from arachne_spark.rules import RuleSet

        customer = _t(spark, sf_dir, "customer")
        types = customer.select(
            _enc_id("c", F.col("c_custkey")).alias("s"),
            F.lit(encode_iri(RDF_TYPE)).alias("p"),
            F.concat(F.lit("<seg:"), F.col("c_mktsegment"), F.lit(">")).alias("o"),
        )
        segs = [r["o"] for r in types.select("o").distinct().collect()]
        strict = strict_superclass_triples(
            [(s, "<cls:Segment>") for s in segs] + [("<cls:Segment>", "<cls:Any>")]
        )
        asserted = types.union(spark.createDataFrame(strict, "s string, p string, o string"))
        res = FixpointEngine(spark, RuleSet([indirect_type_rule()])).materialize(asserted)
        ind = res.facts.filter(
            F.col("p") == "<http://arachne.geneontology.org/indirect_type>"
        )
        return ind.select(
            _dec_id(F.col("s")).alias("c_custkey"),
            F.regexp_extract(F.col("o"), r"<cls:(\w+)>", 1).alias("cls"),
        )

    def eq_rep_sameas(spark, sf_dir):
        """OWL-RL eq-sym + eq-rep-s: sameAs substitution through type edges."""
        from arachne_spark.model import OWL_SAMEAS, RDF_TYPE, encode_iri
        from arachne_spark.rules import RuleSet, Rule

        customer = _t(spark, sf_dir, "customer")
        TYPE, SAME = encode_iri(RDF_TYPE), encode_iri(OWL_SAMEAS)
        types = customer.select(
            _enc_id("c", F.col("c_custkey")).alias("s"),
            F.lit(TYPE).alias("p"),
            F.concat(F.lit("<seg:"), F.col("c_mktsegment"), F.lit(">")).alias("o"),
        )
        pairs = customer.filter((F.col("c_custkey") % 100 == 0)).select(
            _enc_id("c", F.col("c_custkey")).alias("s"),
            F.lit(SAME).alias("p"),
            _enc_id("c", F.col("c_custkey") + 1).alias("o"),
        )
        rules = load_rules_json(
            [
                {"name": "eq-sym", "body": [["?x", OWL_SAMEAS, "?y"]],
                 "head": [["?y", OWL_SAMEAS, "?x"]]},
                {"name": "eq-rep-s",
                 "body": [["?x", OWL_SAMEAS, "?y"], ["?x", RDF_TYPE, "?s"]],
                 "head": [["?y", RDF_TYPE, "?s"]]},
            ]
        )
        # dict_encode forced ON: var-predicate rule shapes on the id path
        res = FixpointEngine(spark, rules, dict_encode=True).materialize(
            types.union(pairs)
        )
        out = res.facts.filter(F.col("p") == F.lit(TYPE))
        return out.select(
            _dec_id(F.col("s")).alias("c_custkey"),
            F.regexp_extract(F.col("o"), r"<seg:(.+)>", 1).alias("segment"),
        )

    # ---- training-data pipeline operators ----------------------------------

    def dedup_exact(spark, sf_dir):
        return exact_dup_groups(_t(spark, sf_dir, "documents")).select(
            "text_sha256", "n_docs", "keeper"
        )

    def dedup_minhash_bands(spark, sf_dir):
        return minhash_bands(_t(spark, sf_dir, "documents")).select(
            "doc_id", "band", "minhash"
        )

    def dedup_lsh_pairs(spark, sf_dir):
        return lsh_candidate_pairs(_t(spark, sf_dir, "documents"))

    def dedup_ngram_jaccard(spark, sf_dir):
        docs = _t(spark, sf_dir, "documents")
        return ngram_jaccard_pairs(docs, lsh_candidate_pairs(docs), threshold=0.3)

    def knn_bruteforce(spark, sf_dir):
        emb = _t(spark, sf_dir, "embeddings")
        return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)

    def ann_ivf_assign(spark, sf_dir):
        return ivf_assign(_t(spark, sf_dir, "embeddings"), n_centroids=8)

    def ann_ivf_topk(spark, sf_dir):
        from arachne_spark.functions.similarity import ivf_topk

        emb = _t(spark, sf_dir, "embeddings")
        return ivf_topk(
            emb, emb.filter(F.col("vec_id") < 5), k=5, n_centroids=8, nprobe=2
        )

    def emb_neardup(spark, sf_dir):
        """Embedding-cosine near-dup pairs (random-hyperplane LSH + exact
        verify). The synthetic embeddings are random (max pairwise cosine
        ~0.51), so near-dups are planted deterministically: every vector gets
        a +0.01-on-dim-0 perturbed twin at vec_id+100000; the operator must
        recover (i, i+100000) pairs whose LSH buckets collide."""
        from arachne_spark.functions.similarity import cosine_neardup_pairs

        emb = _t(spark, sf_dir, "embeddings").select(
            "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("embedding")
        )
        twin = emb.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.concat(
                F.array(F.element_at(F.col("embedding"), 1) + 0.01),
                F.slice(F.col("embedding"), 2, F.size(F.col("embedding")) - 1),
            ).alias("embedding"),
        )
        return cosine_neardup_pairs(
            emb.unionByName(twin), threshold=0.95, n_planes=4
        )

    def dedup_pairs_expanded(spark, sf_dir):
        """Representative pairs -> member-level pairs (ADVICE r3 inverse of
        collapse_exact). The synthetic documents are all-distinct, so exact
        cliques are planted deterministically: every doc_id % 50 == 0 gets
        an identical-text twin at doc_id + 100000; the expansion must emit
        the twin fan-out of every representative pair plus the within-clique
        pairs themselves."""
        from arachne_spark.functions.dedup import expand_pairs_to_cliques

        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        twins = docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        corpus = docs.unionByName(twins)
        return expand_pairs_to_cliques(lsh_candidate_pairs(corpus), corpus)

    def dedup_simhash(spark, sf_dir):
        from arachne_spark.functions.dedup import simhash

        return simhash(_t(spark, sf_dir, "documents"))

    def dedup_simhash_pairs(spark, sf_dir):
        """The FULL SimHash near-dup path: exact-clique collapse ->
        16-bit-band blocking -> exact 64-bit Hamming verify (<= 8)."""
        from arachne_spark.functions.dedup import simhash_neardup_pairs

        return simhash_neardup_pairs(
            _t(spark, sf_dir, "documents"), max_hamming=8
        )

    def q4_anchored_descendants(spark, sf_dir):
        """Q4 anchored: descendants of ONE node via broadcast frontier walk
        (never materializes the global closure)."""
        from arachne_spark.model import RDFS_SUBCLASSOF, encode_iri

        sco = _tree_edges(spark, sf_dir).select(
            _enc_id("n", F.col("src")).alias("s"),
            F.lit(encode_iri(RDFS_SUBCLASSOF)).alias("p"),
            _enc_id("n", F.col("dst")).alias("o"),
        )
        subs = Reasoner(sco).subclasses("n3")
        return subs.select(_dec_id(F.col("cls")).alias("src"))

    def text_langid(spark, sf_dir):
        return langid(_t(spark, sf_dir, "documents"))

    def text_quality(spark, sf_dir):
        return quality_features(_t(spark, sf_dir, "documents"))

    def text_tokens(spark, sf_dir):
        return token_counts(_t(spark, sf_dir, "documents"))

    def doc_fingerprint(spark, sf_dir):
        return fingerprint(_t(spark, sf_dir, "documents"))

    def multimodal_meta(spark, sf_dir):
        from arachne_spark.functions.multimodal import attach_binary, decode_media

        docs = _t(spark, sf_dir, "documents")
        return decode_media(attach_binary(docs)).select(
            "media_id", "n_bytes", "sha256", "width", "height"
        )

    # ---- event-time windowing (streaming-shaped batch) ----------------------

    def events_windowed(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return (
            ev.groupBy(
                F.window("ts", "1 hour").getField("start").alias("ws"),
                "event_type",
            )
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        )

    def events_sessionize(spark, sf_dir):
        """Gap-based sessionization (window-function formulation; the
        streaming applyInPandasWithState counterpart is pytest-verified)."""
        from arachne_spark.streaming.sessions import sessionize

        return sessionize(_t(spark, sf_dir, "events"), gap_seconds=1800)

    def agg_user_stats(spark, sf_dir):
        ev = _t(spark, sf_dir, "events")
        return ev.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )

    def s2_owl_svf_avf(spark, sf_dir):
        """S2 compositional class expressions end-to-end: a Turtle TBox with
        a someValuesFrom SUBCLASS (cls-svf1: ∃supplies.CriticalPart ⊑
        CriticalSupplier) and an allValuesFrom SUPERCLASS (cls-avf:
        CriticalSupplier ⊑ ∀basedIn.AuditedNation) goes through
        parse_turtle -> owl_to_rules -> FixpointEngine; the ABox comes from
        lineitem/part/supplier. Returns the inferred type facts."""
        from arachne_spark.model import RDF_TYPE, encode_iri
        from arachne_spark.owl2rules import owl_to_rules
        from arachne_spark.sources.turtle import parse_turtle

        TBOX = """
        @prefix : <http://ex/> .
        @prefix owl: <http://www.w3.org/2002/07/owl#> .
        @prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
        [ a owl:Restriction ; owl:onProperty :supplies ;
          owl:someValuesFrom :CriticalPart ] rdfs:subClassOf :CriticalSupplier .
        :CriticalSupplier rdfs:subClassOf
          [ a owl:Restriction ; owl:onProperty :basedIn ;
            owl:allValuesFrom :AuditedNation ] .
        """
        rules = owl_to_rules(parse_turtle(TBOX))
        TYPE = encode_iri(RDF_TYPE)
        li = (
            _t(spark, sf_dir, "lineitem")
            .select(
                _enc_id("s", F.col("l_suppkey")).alias("s"),
                F.lit("<http://ex/supplies>").alias("p"),
                _enc_id("pt", F.col("l_partkey")).alias("o"),
            )
            .distinct()
        )
        crit = (
            _t(spark, sf_dir, "part")
            .filter(F.col("p_partkey") % 10 == 0)
            .select(
                _enc_id("pt", F.col("p_partkey")).alias("s"),
                F.lit(TYPE).alias("p"),
                F.lit("<http://ex/CriticalPart>").alias("o"),
            )
        )
        based = _t(spark, sf_dir, "supplier").select(
            _enc_id("s", F.col("s_suppkey")).alias("s"),
            F.lit("<http://ex/basedIn>").alias("p"),
            _enc_id("n", F.col("s_nationkey")).alias("o"),
        )
        asserted = li.unionByName(crit).unionByName(based)
        res = FixpointEngine(spark, rules).materialize(asserted)
        return (
            res.inferred_only()
            .filter(F.col("p") == TYPE)
            .select(
                F.regexp_replace(F.col("s"), r"[<>]", "").alias("entity"),
                F.regexp_extract(F.col("o"), r"/([A-Za-z]+)>$", 1).alias("cls"),
            )
        )

    return {
        "r13_fixpoint_tc": r13_fixpoint_tc,
        "r13_tc_preencoded": r13_tc_preencoded,
        "r13_incremental": r13_incremental,
        "r13_tc_bucketed_store": r13_tc_bucketed_store,
        "s6_inferred_only": s6_inferred_only,
        "r5_body_join": r5_body_join,
        "r3_repeated_var_guard": r3_repeated_var_guard,
        "r6_cross_product": r6_cross_product,
        "r11_fact_dedup": r11_fact_dedup,
        "q1_instances": q1_instances,
        "q1_instances_store": q1_instances_store,
        "q4_property_path": q4_property_path,
        "q3_types": q3_types,
        "q5_anchored_ancestors": q5_anchored_ancestors,
        "q6_inverse_values": q6_inverse_values,
        "q13_bgp_select": q13_bgp_select,
        "b3_indirect_types": b3_indirect_types,
        "eq_rep_sameas": eq_rep_sameas,
        "dedup_exact": dedup_exact,
        "dedup_minhash_bands": dedup_minhash_bands,
        "dedup_lsh_pairs": dedup_lsh_pairs,
        "dedup_pairs_expanded": dedup_pairs_expanded,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "knn_bruteforce": knn_bruteforce,
        "ann_ivf_assign": ann_ivf_assign,
        "ann_ivf_topk": ann_ivf_topk,
        "emb_neardup": emb_neardup,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "q4_anchored_descendants": q4_anchored_descendants,
        "text_langid": text_langid,
        "text_quality": text_quality,
        "text_tokens": text_tokens,
        "doc_fingerprint": doc_fingerprint,
        "multimodal_meta": multimodal_meta,
        "events_windowed": events_windowed,
        "events_sessionize": events_sessionize,
        "agg_user_stats": agg_user_stats,
        "s2_owl_svf_avf": s2_owl_svf_avf,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SHINGLE_CTE = """
sh AS (
  SELECT doc_id, u.sh FROM (
    SELECT doc_id, string_split(text, ' ') AS l FROM documents
  ), UNNEST(list_transform(range(1, greatest(len(l) - 1, 1)),
            i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS u(sh)
),
mh AS (
  SELECT doc_id, b.band, min(md5(b.band || ':' || sh)) AS minhash
  FROM sh, (VALUES (0),(1),(2),(3)) AS b(band)
  GROUP BY doc_id, b.band
)"""

_LANGID_SCORES = """
scores AS (
  SELECT doc_id,
    (length(' '||text||' ') - length(replace(' '||text||' ',' the ','')))//5
   +(length(' '||text||' ') - length(replace(' '||text||' ',' and ','')))//5
   +(length(' '||text||' ') - length(replace(' '||text||' ',' is ','')))//4
   +(length(' '||text||' ') - length(replace(' '||text||' ',' of ','')))//4 AS s_en,
    (length(' '||text||' ') - length(replace(' '||text||' ',' der ','')))//5
   +(length(' '||text||' ') - length(replace(' '||text||' ',' und ','')))//5
   +(length(' '||text||' ') - length(replace(' '||text||' ',' ist ','')))//5
   +(length(' '||text||' ') - length(replace(' '||text||' ',' das ','')))//5 AS s_de,
    (length(' '||text||' ') - length(replace(' '||text||' ',' le ','')))//4
   +(length(' '||text||' ') - length(replace(' '||text||' ',' et ','')))//4
   +(length(' '||text||' ') - length(replace(' '||text||' ',' est ','')))//5
   +(length(' '||text||' ') - length(replace(' '||text||' ',' les ','')))//5 AS s_fr,
    (length(' '||text||' ') - length(replace(' '||text||' ',' el ','')))//4
   +(length(' '||text||' ') - length(replace(' '||text||' ',' y ','')))//3
   +(length(' '||text||' ') - length(replace(' '||text||' ',' es ','')))//4
   +(length(' '||text||' ') - length(replace(' '||text||' ',' los ','')))//5 AS s_es,
    (length(' '||text||' ') - length(replace(' '||text||' ',' 的 ','')))//3
   +(length(' '||text||' ') - length(replace(' '||text||' ',' 是 ','')))//3
   +(length(' '||text||' ') - length(replace(' '||text||' ',' 了 ','')))//3
   +(length(' '||text||' ') - length(replace(' '||text||' ',' 在 ','')))//3 AS s_zh
  FROM documents)"""


def _simhash_sql() -> str:
    """Generated per-bit-majority SimHash SQL, formula-identical to
    functions/dedup.py::simhash (md5 halves, arithmetic shifts)."""
    votes = ", ".join(
        f"sum(CASE WHEN ((h_{'lo' if b < 32 else 'hi'} >> {b % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    # DuckDB rejects 1::BIGINT << 63 (signed overflow); the sign bit's term
    # is the BIGINT minimum directly (same two's-complement value Spark's
    # shiftleft(1L, 63) produces)
    assemble = " | ".join(
        [
            f"(CASE WHEN b{b} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {b})"
            for b in range(63)
        ]
        + ["(CASE WHEN b63 > 0 THEN (-9223372036854775807::BIGINT - 1) ELSE 0::BIGINT END)"]
    )
    bands = ", ".join(
        f"((simhash >> {16 * i}) & 65535) AS band16_{i}" for i in range(4)
    )
    return (
        "WITH t AS (SELECT doc_id, u.tok FROM "
        " (SELECT doc_id, string_split(text, ' ') AS l FROM documents), UNNEST(l) AS u(tok)), "
        "h AS (SELECT doc_id, ('0x'||substr(md5(tok),1,8))::BIGINT AS h_hi, "
        " ('0x'||substr(md5(tok),9,8))::BIGINT AS h_lo FROM t), "
        f"v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id), "
        f"s AS (SELECT doc_id, {assemble} AS simhash FROM v) "
        f"SELECT doc_id, simhash, {bands} FROM s"
    )


def oracle_sql() -> dict[str, str]:
    tc = f"WITH RECURSIVE e AS ({_TREE_SQL}), " \
         "clo AS (SELECT src, dst FROM e UNION SELECT c.src, e.dst FROM clo c JOIN e ON c.dst = e.src)"
    return {
        "r13_fixpoint_tc": tc + " SELECT src, dst FROM clo",
        "r13_tc_preencoded": tc + " SELECT src, dst FROM clo",
        "r13_incremental": tc + " SELECT src, dst FROM clo",
        "r13_tc_bucketed_store": tc + " SELECT src, dst FROM clo",
        "s6_inferred_only": tc + f" SELECT src, dst FROM clo EXCEPT {_TREE_SQL}",
        "r5_body_join": (
            "SELECT o.o_orderkey, c.c_nationkey AS n_nationkey "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
        ),
        "r3_repeated_var_guard": (
            "SELECT DISTINCT l_orderkey AS x FROM lineitem WHERE l_orderkey = l_partkey"
        ),
        "r6_cross_product": (
            "SELECT r.r_regionkey, s.segment FROM region r "
            "CROSS JOIN (SELECT DISTINCT c_mktsegment AS segment FROM customer) s"
        ),
        "r11_fact_dedup": (
            "SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 1"
        ),
        "q1_instances": (
            "SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
        ),
        "q1_instances_store": (
            "SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'"
        ),
        "q4_property_path": tc + " SELECT src FROM clo WHERE dst = 1",
        "q3_types": (
            "SELECT 'nat' || c_nationkey AS cls FROM customer WHERE c_custkey = 1 "
            "UNION SELECT 'reg' || n_regionkey FROM customer "
            " JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey = 1 "
            "UNION SELECT 'world'"
        ),
        "q5_anchored_ancestors": (
            f"WITH RECURSIVE e AS ({_TREE_SQL}), "
            "a AS (SELECT dst FROM e WHERE src = 5 "
            " UNION SELECT e.dst FROM e JOIN a ON e.src = a.dst) "
            "SELECT dst FROM a"
        ),
        "q6_inverse_values": (
            "SELECT DISTINCT l_suppkey FROM lineitem WHERE l_partkey = 42"
        ),
        "q13_bgp_select": (
            "SELECT o.o_orderkey, c.c_custkey, n.n_nationkey "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE n.n_regionkey = 1"
        ),
        "b3_indirect_types": (
            "SELECT c_custkey, cls FROM customer, (VALUES ('Segment'),('Any')) AS t(cls)"
        ),
        "eq_rep_sameas": (
            "SELECT c_custkey, c_mktsegment AS segment FROM customer "
            "UNION "
            "SELECT a.c_custkey + 1, a.c_mktsegment FROM customer a "
            "WHERE a.c_custkey % 100 = 0 "
            "UNION "
            "SELECT a.c_custkey, b.c_mktsegment FROM customer a "
            "JOIN customer b ON b.c_custkey = a.c_custkey + 1 WHERE a.c_custkey % 100 = 0"
        ),
        "dedup_exact": (
            "SELECT sha256(text) AS text_sha256, count(*) AS n_docs, min(doc_id) AS keeper "
            "FROM documents GROUP BY 1"
        ),
        "dedup_minhash_bands": f"WITH {_SHINGLE_CTE.lstrip()} SELECT doc_id, band, minhash FROM mh",
        # keepers CTE mirrors collapse_exact=True: near-dup pairs run on one
        # representative (min id) per distinct text; exact cliques are
        # dedup_exact's output
        "dedup_lsh_pairs": (
            f"WITH {_SHINGLE_CTE.lstrip()}, "
            "k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)), "
            "mhk AS (SELECT mh.* FROM mh JOIN k USING (doc_id)) "
            "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM mhk a "
            "JOIN mhk b ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id"
        ),
        # planted twins (doc_id % 50 == 0 duplicated at +100000) exercise the
        # representative->member expansion: cross fan-out + within-clique pairs
        "dedup_pairs_expanded": (
            "WITH corpus AS (SELECT doc_id, text FROM documents UNION ALL "
            " SELECT doc_id + 100000, text FROM documents WHERE doc_id % 50 = 0), "
            "sh AS (SELECT doc_id, u.sh FROM "
            " (SELECT doc_id, string_split(text, ' ') AS l FROM corpus), "
            " UNNEST(list_transform(range(1, greatest(len(l) - 1, 1)), "
            "  i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS u(sh)), "
            "mh AS (SELECT doc_id, b.band, min(md5(b.band || ':' || sh)) AS minhash "
            " FROM sh, (VALUES (0),(1),(2),(3)) AS b(band) GROUP BY doc_id, b.band), "
            "k AS (SELECT min(doc_id) AS doc_id FROM corpus GROUP BY sha256(text)), "
            "mhk AS (SELECT mh.* FROM mh JOIN k USING (doc_id)), "
            "reps AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM mhk a "
            " JOIN mhk b ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id), "
            "member AS (SELECT doc_id AS m, min(doc_id) OVER "
            " (PARTITION BY sha256(text)) AS keeper FROM corpus), "
            "cross_p AS (SELECT DISTINCT least(ma.m, mb.m) AS id_a, "
            " greatest(ma.m, mb.m) AS id_b FROM reps "
            " JOIN member ma ON ma.keeper = reps.id_a "
            " JOIN member mb ON mb.keeper = reps.id_b), "
            "within_p AS (SELECT a.m AS id_a, b.m AS id_b FROM member a "
            " JOIN member b ON a.keeper = b.keeper AND a.m < b.m) "
            "SELECT id_a, id_b FROM cross_p UNION ALL SELECT id_a, id_b FROM within_p"
        ),
        "dedup_ngram_jaccard": (
            f"WITH {_SHINGLE_CTE.lstrip()}, "
            "k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)), "
            "mhk AS (SELECT mh.* FROM mh JOIN k USING (doc_id)), "
            "pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM mhk a "
            " JOIN mhk b ON a.band = b.band AND a.minhash = b.minhash AND a.doc_id < b.doc_id), "
            "sets AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(l)-1,1)), "
            " i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS ss FROM "
            " (SELECT doc_id, string_split(text,' ') l FROM documents)) "
            "SELECT * FROM ("
            "SELECT id_a, id_b, round(len(list_intersect(sa.ss, sb.ss))::DOUBLE / "
            " greatest(len(list_distinct(list_concat(sa.ss, sb.ss))), 1), 4) AS jaccard "
            "FROM pairs JOIN sets sa ON sa.doc_id = id_a JOIN sets sb ON sb.doc_id = id_b"
            ") WHERE jaccard >= 0.3"
        ),
        "knn_bruteforce": (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] de FROM embeddings), "
            "q AS (SELECT vec_id AS qid, de AS qe FROM e WHERE vec_id < 5), "
            "s AS (SELECT qid, vec_id, list_dot_product(qe, de) / "
            " (sqrt(list_dot_product(qe,qe)) * sqrt(list_dot_product(de,de))) AS rawsim "
            " FROM q, e WHERE vec_id != qid), "
            "r AS (SELECT qid, vec_id, row_number() OVER "
            " (PARTITION BY qid ORDER BY rawsim DESC, vec_id) AS rank, round(rawsim,4) AS sim FROM s) "
            "SELECT qid, vec_id, rank, sim FROM r WHERE rank <= 5"
        ),
        "ann_ivf_assign": (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] de FROM embeddings), "
            "c AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < 8), "
            "s AS (SELECT e.vec_id, cid, list_dot_product(ce, de) / "
            " (sqrt(list_dot_product(ce,ce)) * sqrt(list_dot_product(de,de))) AS sim FROM e, c), "
            "r AS (SELECT vec_id, cid, row_number() OVER "
            " (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s) "
            "SELECT vec_id, cid AS centroid_id FROM r WHERE rn = 1"
        ),
        "ann_ivf_topk": (
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] de FROM embeddings), "
            "c AS (SELECT vec_id AS cid, de AS ce FROM e WHERE vec_id < 8), "
            "s AS (SELECT e.vec_id, cid, list_dot_product(ce, de) / "
            " (sqrt(list_dot_product(ce,ce)) * sqrt(list_dot_product(de,de))) AS sim FROM e, c), "
            "a AS (SELECT vec_id, cid AS centroid_id FROM "
            " (SELECT vec_id, cid, row_number() OVER "
            "  (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn FROM s) WHERE rn = 1), "
            "q AS (SELECT vec_id AS qid, de AS qe FROM e WHERE vec_id < 5), "
            "qp AS (SELECT qid, qe, cid AS centroid_id FROM "
            " (SELECT qid, qe, cid, row_number() OVER "
            "  (PARTITION BY qid ORDER BY csim DESC, cid) AS rn FROM "
            "  (SELECT qid, qe, cid, list_dot_product(qe, ce) / "
            "   (sqrt(list_dot_product(qe,qe)) * sqrt(list_dot_product(ce,ce))) AS csim "
            "   FROM q, c)) WHERE rn <= 2), "
            "sc AS (SELECT qid, e.vec_id, list_dot_product(qe, de) / "
            " (sqrt(list_dot_product(qe,qe)) * sqrt(list_dot_product(de,de))) AS rawsim "
            " FROM qp JOIN a ON a.centroid_id = qp.centroid_id "
            " JOIN e ON e.vec_id = a.vec_id WHERE e.vec_id != qid), "
            "rk AS (SELECT qid, vec_id, row_number() OVER "
            " (PARTITION BY qid ORDER BY rawsim DESC, vec_id) AS rank, "
            " round(rawsim, 4) AS sim FROM sc) "
            "SELECT qid, vec_id, rank, sim FROM rk WHERE rank <= 5"
        ),
        "emb_neardup": """WITH e AS (SELECT vec_id, embedding::DOUBLE[] de FROM embeddings), c AS (SELECT vec_id, de FROM e UNION ALL  SELECT vec_id + 100000, list_concat([de[1] + 0.01], de[2:]) FROM e), sg AS (SELECT vec_id, de, (CASE WHEN list_dot_product(de, list_transform(range(0, len(de)), d -> ((('0x'||substr(md5('42:'||0||':'||d),1,8))::BIGINT % 2000003) / 1000003.0 - 1.0))) >= 0 THEN 1::BIGINT ELSE 0::BIGINT END) + (CASE WHEN list_dot_product(de, list_transform(range(0, len(de)), d -> ((('0x'||substr(md5('42:'||1||':'||d),1,8))::BIGINT % 2000003) / 1000003.0 - 1.0))) >= 0 THEN 2::BIGINT ELSE 0::BIGINT END) + (CASE WHEN list_dot_product(de, list_transform(range(0, len(de)), d -> ((('0x'||substr(md5('42:'||2||':'||d),1,8))::BIGINT % 2000003) / 1000003.0 - 1.0))) >= 0 THEN 4::BIGINT ELSE 0::BIGINT END) + (CASE WHEN list_dot_product(de, list_transform(range(0, len(de)), d -> ((('0x'||substr(md5('42:'||3||':'||d),1,8))::BIGINT % 2000003) / 1000003.0 - 1.0))) >= 0 THEN 8::BIGINT ELSE 0::BIGINT END) AS sig FROM c), p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,  round(list_dot_product(a.de, b.de) /   (sqrt(list_dot_product(a.de, a.de)) * sqrt(list_dot_product(b.de, b.de))), 4) AS sim  FROM sg a JOIN sg b ON a.sig = b.sig AND a.vec_id < b.vec_id) SELECT DISTINCT id_a, id_b, sim FROM p WHERE sim >= 0.95""",
        "dedup_simhash": _simhash_sql(),
        # full simhash near-dup chain: keepers (collapse_exact) -> band
        # blocking -> exact Hamming over the 64-bit signatures
        "dedup_simhash_pairs": (
            f"WITH sig AS ({_simhash_sql()}), "
            "k AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)), "
            "sk AS (SELECT sig.* FROM sig JOIN k USING (doc_id)), "
            "b AS ("
            " SELECT doc_id, simhash, 0 AS bi, band16_0 AS bv FROM sk UNION ALL"
            " SELECT doc_id, simhash, 1, band16_1 FROM sk UNION ALL"
            " SELECT doc_id, simhash, 2, band16_2 FROM sk UNION ALL"
            " SELECT doc_id, simhash, 3, band16_3 FROM sk) "
            "SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b, "
            " bit_count(xor(a.simhash, c.simhash)) AS hamming "
            "FROM b a JOIN b c ON a.bi = c.bi AND a.bv = c.bv AND a.doc_id < c.doc_id "
            "WHERE bit_count(xor(a.simhash, c.simhash)) <= 8"
        ),
        "q4_anchored_descendants": (
            f"WITH RECURSIVE e AS ({_TREE_SQL}), "
            "d AS (SELECT src FROM e WHERE dst = 3 "
            " UNION SELECT e.src FROM e JOIN d ON e.dst = d.src) "
            "SELECT src FROM d"
        ),
        "text_langid": (
            f"WITH {_LANGID_SCORES.lstrip()}, "
            "m AS (SELECT doc_id, greatest(s_en,s_de,s_fr,s_es,s_zh) AS top FROM scores) "
            "SELECT s.doc_id, "
            "CASE WHEN s_de = top THEN 'de' WHEN s_en = top THEN 'en' WHEN s_es = top THEN 'es' "
            "     WHEN s_fr = top THEN 'fr' WHEN s_zh = top THEN 'zh' END AS pred_lang, "
            "top AS marker_hits FROM scores s JOIN m ON s.doc_id = m.doc_id"
        ),
        "text_quality": (
            "WITH b AS (SELECT doc_id, text, length(text) AS n_chars, "
            " len(string_split(text,' ')) AS n_words, "
            " length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct, "
            "  (length(' '||text||' ') - length(replace(' '||text||' ',' the ','')))//5 "
            " +(length(' '||text||' ') - length(replace(' '||text||' ',' a ','')))//3 "
            " +(length(' '||text||' ') - length(replace(' '||text||' ',' is ','')))//4 "
            " +(length(' '||text||' ') - length(replace(' '||text||' ',' and ','')))//5 "
            " +(length(' '||text||' ') - length(replace(' '||text||' ',' of ','')))//4 "
            " +(length(' '||text||' ') - length(replace(' '||text||' ',' to ','')))//4 AS stop_hits "
            " FROM documents), "
            "r AS (SELECT doc_id, n_chars, n_words, "
            " (n_punct * 10000) // greatest(n_chars,1) AS punct_bp, "
            " (stop_hits * 10000) // greatest(n_words,1) AS stopword_bp, "
            " ((n_chars - (n_words - 1)) * 100) // greatest(n_words,1) AS mean_word_len_c "
            " FROM b) "
            "SELECT doc_id, n_chars, n_words, punct_bp, stopword_bp, mean_word_len_c, "
            " least(n_words, 100) * 5 + (stopword_bp * 3) // 100 "
            "  + ((10000 - punct_bp) * 2) // 100 AS quality_milli "
            "FROM r"
        ),
        "text_tokens": (
            "SELECT doc_id, len(string_split(text,' ')) AS ws_tokens, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_ish_tokens "
            "FROM documents"
        ),
        "doc_fingerprint": (
            "SELECT doc_id, list_min(list_transform(range(1, greatest(length(text)-7,1)+1, 4), "
            "i -> md5(substring(text, i, 8)))) AS fp FROM documents"
        ),
        "multimodal_meta": (
            "SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes, "
            "sha256(text) AS sha256, "
            "64 + ('0x'||substr(sha256(text),1,2))::INT % 64 AS width, "
            "64 + ('0x'||substr(sha256(text),3,2))::INT % 64 AS height "
            "FROM documents"
        ),
        "events_windowed": (
            "SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n, "
            "round(sum(value), 4) AS sum_value FROM events GROUP BY 1, 2"
        ),
        "events_sessionize": (
            "WITH x AS (SELECT user_id, ts, value, "
            " CASE WHEN epoch(ts) - epoch(lag(ts) OVER "
            "  (PARTITION BY user_id ORDER BY ts)) > 1800 THEN 1 ELSE 0 END AS brk "
            " FROM events), "
            "s AS (SELECT user_id, ts, value, sum(brk) OVER "
            " (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM x) "
            "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, "
            " count(*) AS n_events, round(sum(value), 4) AS sum_value "
            "FROM s GROUP BY user_id, sess"
        ),
        "agg_user_stats": (
            "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users, "
            "round(avg(value), 4) AS avg_value FROM events GROUP BY 1"
        ),
        # cls-svf1 + cls-avf as relational algebra: critical suppliers =
        # ∃supplies.CriticalPart members; audited nations = their basedIn
        # fillers (the ∀-consequence on derived CriticalSupplier members)
        "s2_owl_svf_avf": (
            "WITH crit AS (SELECT DISTINCT l.l_suppkey FROM lineitem l "
            " JOIN part p ON l.l_partkey = p.p_partkey WHERE p.p_partkey % 10 = 0) "
            "SELECT 's' || l_suppkey AS entity, 'CriticalSupplier' AS cls FROM crit "
            "UNION "
            "SELECT DISTINCT 'n' || s.s_nationkey AS entity, 'AuditedNation' AS cls "
            "FROM supplier s JOIN crit c ON s.s_suppkey = c.l_suppkey"
        ),
    }
