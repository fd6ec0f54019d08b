"""Physical-plan audit: capture .explain(formatted) for the key queries
and assert the scale-critical properties (pushdown, broadcast, narrow
extraction). Writes BENCH/plans.md for review.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from semargl_spark.spark_util import tuned_session

    spark = tuned_session(parallelism=8, app_name="explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    from semargl_spark.operators.extract import extract_statements, triples
    from semargl_spark.operators.link import link_entities
    from semargl_spark.sources.transcripts import entity_dictionary, synth_transcripts

    sections = []
    checks = []

    # 1. extraction: narrow (only the generator's seed exchange)
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    ext = triples(extract_statements(t))
    p = plan_of(ext)
    sections.append(("extraction", p))
    import re

    def n_nodes(plan, name):
        return len(re.findall(rf"^\(\d+\) {name}", plan, re.MULTILINE))

    checks.append(("extraction has no shuffle beyond seed spread",
                   n_nodes(p, "Exchange") == 1))

    # 2. linking: broadcast join, no shuffle of the statements side
    st = triples(extract_statements(t))
    linked = link_entities(st, entity_dictionary(spark, sf_dir))
    p = plan_of(linked)
    sections.append(("entity_link", p))
    checks.append(("linking uses BroadcastHashJoin", "BroadcastHashJoin" in p))

    # 3. column pruning + filter pushdown on a parquet scan
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pruned = docs.filter(F.col("lang") == "en").select("doc_id")
    p = plan_of(pruned)
    sections.append(("documents scan (pruning/pushdown)", p))
    # non-empty PushedFilters mentioning the filter column — a plan with
    # 'PushedFilters: []' must FAIL this check
    pushed = re.search(r"PushedFilters: \[([^\]]+)\]", p)
    checks.append(
        ("filter pushed to scan", bool(pushed) and "lang" in pushed.group(1))
    )
    checks.append(("schema pruned to needed columns", "ReadSchema" in p and "text" not in p.split("ReadSchema")[1][:200]))

    # 4. whole-stage codegen on the JVM-side text operators
    from semargl_spark.operators.text import quality_score

    p = plan_of(quality_score(docs))
    sections.append(("quality_score", p))
    # higher-order functions opt out of whole-stage codegen but stay
    # JVM-side; the property that matters is: no Python in the plan
    checks.append(("quality_score stays JVM-side (no Python eval)",
                   "Python" not in p and "MapInPandas" not in p))

    # 5. 20-language trigram lang-ID: constant-folded map lookup must
    # stay a JVM projection — no Python eval, no shuffle
    from semargl_spark.operators.text import lang_id_ngram

    p = plan_of(lang_id_ngram(docs))
    sections.append(("lang_id_ngram", p))
    checks.append(("lang_id_ngram stays JVM-side, shuffle-free",
                   "Python" not in p and n_nodes(p, "Exchange") == 0))

    # 6. real-codec media decode: one narrow MapInArrow stage over the
    # binary column — no shuffle anywhere in the decode path
    from semargl_spark.operators import multimodal

    media = multimodal.synth_real_media(spark, sf_dir)
    feats = multimodal.extract_features(media, use_fake=False)
    p = plan_of(feats)
    sections.append(("media_real_decode", p))
    checks.append(("media decode is narrow (MapInArrow, no Exchange)",
                   n_nodes(p, "Exchange") == 0))

    # 7. curation: pii_redact is projection-only; contamination's
    # benchmark side broadcasts (corpus side never shuffles for the join)
    from semargl_spark.operators import curation

    p = plan_of(curation.pii_redact(docs))
    sections.append(("pii_redact", p))
    checks.append(("pii_redact is a pure projection (no Exchange, no Python)",
                   n_nodes(p, "Exchange") == 0 and "Python" not in p))

    bench_docs = docs.filter(F.col("doc_id") % 97 == 0)
    p = plan_of(curation.contamination(docs, bench_docs))
    sections.append(("contamination", p))
    checks.append(("contamination joins via broadcast (no SortMergeJoin)",
                   "BroadcastHashJoin" in p and "SortMergeJoin" not in p))

    # 8. BGP: constant positions must reach the scan as pushed filters
    from semargl_spark.operators.bgp import match_bgp
    from semargl_spark.operators import materialize

    edges = materialize.kg_edges(triples(extract_statements(t)))
    edges_pq = f"/tmp/audit_kg_edges"
    edges.write.mode("overwrite").parquet(edges_pq)
    edges_disk = spark.read.parquet(edges_pq)
    p = plan_of(
        match_bgp(
            edges_disk,
            [("?a", "urn:p:knows", "?b"),
             ("?a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
              "urn:t:Thing")],
        )
    )
    sections.append(("kg_bgp (parquet-backed)", p))
    pushed_preds = re.findall(r"PushedFilters: \[([^\]]+)\]", p)
    checks.append(("BGP constants push to the parquet scans",
                   any("pred" in s for s in pushed_preds)))

    # 9. as-of join: ONE window-sort exchange, and never a range-join
    # cross product (BroadcastNestedLoopJoin / CartesianProduct)
    from semargl_spark.operators.asof import asof_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    errs = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    p = plan_of(asof_join(events, errs, tiebreak="event_id"))
    sections.append(("events_asof", p))
    checks.append(("asof join: one exchange, no nested-loop/cartesian",
                   n_nodes(p, "Exchange") == 1
                   and "NestedLoop" not in p and "Cartesian" not in p))

    # 10. k-means assignment: centroids broadcast against the big side
    # (BroadcastNestedLoopJoin over k rows IS the wanted shape); the
    # vector side shuffles only for the per-vector argmin
    from semargl_spark.operators.clustering import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(kmeans_assign(emb, k=4, iterations=1, dims=64))
    sections.append(("kmeans_assign (final-round plan)", p))
    checks.append(("kmeans: centroids broadcast, argmin is a hash agg",
                   "BroadcastNestedLoopJoin" in p and "HashAggregate" in p))

    # 10b. semdedup: the pairwise cosine stage must be an EQUI-join on
    # the k-means cell (SortMergeJoin [cluster]) — never a corpus-wide
    # cartesian; the only nested-loop allowed is the broadcast
    # k-centroid assignment inherited from kmeans_assign
    from semargl_spark.operators.clustering import semdedup

    p = plan_of(semdedup(emb, k=4, iterations=1, dims=64))
    sections.append(("semdedup (cell-bounded pairwise cosine)", p))
    import re as _re

    checks.append(("semdedup: pairwise stage joins on cluster, no cartesian",
                   "Cartesian" not in p
                   and _re.search(r"Left keys \[1\]: \[cluster#", p) is not None))

    # 11. turtle round trip: render + re-parse stays a narrow Arrow
    # pipeline — no shuffle anywhere
    from semargl_spark.operators.serialize_ops import render_turtle_docs

    ttl = render_turtle_docs(t, fmt="ntriples").select(
        "conv_id", "turn_idx", F.col("turtle").alias("text")
    )
    p = plan_of(triples(extract_statements(ttl, default_fmt="turtle")))
    sections.append(("extract_turtle (render → reparse)", p))
    checks.append(("turtle round trip is narrow beyond the seed spread",
                   n_nodes(p, "Exchange") <= 1))

    # 12. interval join: bucketed band join — plain equi-join, never a
    # nested-loop range join
    from semargl_spark.operators.asof import interval_join

    iv = events.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 DAYS")).alias("end_ts"),
    )
    p = plan_of(
        interval_join(
            events.select("event_id", "user_id", "ts"), iv, by="user_id"
        )
    )
    sections.append(("events_interval", p))
    checks.append(("interval join is an equi-join (no nested-loop/cartesian)",
                   "NestedLoop" not in p and "Cartesian" not in p))

    # 13. substring dedup: span equi-join with the hot-bucket guard —
    # no cartesian, no Python
    from semargl_spark.operators import dedup as dedup_ops

    p = plan_of(dedup_ops.substring_dup_pairs(docs, max_bucket=10))
    sections.append(("dedup_substring", p))
    checks.append(("substring dedup: equi-joins only, JVM-side",
                   "NestedLoop" not in p and "Cartesian" not in p
                   and "Python" not in p))

    # 14. incremental dedup: the corpus meets the batch only through
    # band-key / candidate equi-joins — never a similarity cross product
    new_docs = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    ).limit(50)
    p = plan_of(dedup_ops.incremental_near_dedup(docs, new_docs))
    sections.append(("dedup_incremental", p))
    checks.append(("incremental dedup: equi-joins only (no cross product)",
                   "NestedLoop" not in p and "Cartesian" not in p))

    # 15. length quantiles: the histogram HashAggregate must run BEFORE
    # the quantile window (the window sees the collapsed table, not raw
    # rows), and the whole plan stays JVM-side
    from semargl_spark.operators.text import length_quantiles

    p = plan_of(length_quantiles(docs))
    sections.append(("corpus_quantiles", p))
    agg_first = re.search(r"Window", p) and re.search(r"HashAggregate", p)
    # formatted plans list children bottom-up in the tree header; the
    # histogram aggregate must appear deeper (later id) than the window
    tree = p.split("== Physical Plan ==")[1]
    w_pos = tree.find("Window")
    h_pos = tree.rfind("HashAggregate")
    checks.append(("length quantiles: histogram aggregate feeds the window",
                   bool(agg_first) and h_pos > w_pos and "Python" not in p))

    # 16. C4 rule filter: ONE row-local projection — no shuffle, no
    # Python, the whole keep decision rides the parquet scan
    p = plan_of(curation.c4_rule_filter(docs))
    sections.append(("c4_filter", p))
    checks.append(("c4 rule filter is shuffle-free and JVM-side",
                   n_nodes(p, "Exchange") == 0 and "Python" not in p))

    # 17. triangle counting: degree-ordered orientation — every join an
    # equi-join (wedge pivot / closing edge), never a cross product
    from semargl_spark.operators.graph import triangle_counts

    p = plan_of(triangle_counts(edges_disk))
    sections.append(("kg_triangles", p))
    checks.append(("triangle counting: equi-joins only (no cross product)",
                   "NestedLoop" not in p and "Cartesian" not in p
                   and "Python" not in p))

    # 17b. neighbor Jaccard: wedge generation only through guarded
    # pivots, all equi-joins, integer permille — no cross product
    from semargl_spark.operators.graph import node_jaccard

    p = plan_of(node_jaccard(edges_disk))
    sections.append(("kg_node_sim", p))
    checks.append(("node jaccard: equi-joins only (no cross product)",
                   "NestedLoop" not in p and "Cartesian" not in p
                   and "Python" not in p))

    # 18. bigram LM: model joins are equi-joins on bigram keys; the only
    # nested-loop is the ONE-ROW vocab broadcast (wanted shape)
    from semargl_spark.operators.lm import bigram_lm_score

    p = plan_of(bigram_lm_score(docs))
    sections.append(("lm_score", p))
    checks.append(("bigram LM: equi-joins + 1-row vocab broadcast, JVM-side",
                   "Cartesian" not in p and "Python" not in p
                   and "HashAggregate" in p))

    # 19. SPARQL top-k: must compile to TakeOrderedAndProject (per-task
    # k-row heaps), never a global-sort row_number filter
    from semargl_spark.operators.bgp import match_bgp_topk

    p = plan_of(match_bgp_topk(
        edges_disk, [("?a", "urn:p:knows", "?b")], [("a", "desc")], k=25))
    sections.append(("kg_bgp_topk", p))
    checks.append(("BGP top-k plans as TakeOrderedAndProject",
                   "TakeOrderedAndProject" in p))

    # 20. SHACL-lite: shapes broadcast; everything an equi-join
    from semargl_spark.operators.validate import validate_shapes

    stg = triples(extract_statements(t)).select(
        "subj", "pred", "obj", "obj_kind", "dtype").distinct()
    p = plan_of(validate_shapes(stg, [
        {"shape_id": "s", "target_class": "urn:t:Thing",
         "path": "urn:p:knows", "min_count": 1}]))
    sections.append(("kg_validate", p))
    checks.append(("validation: shapes broadcast, equi-joins only",
                   "BroadcastHashJoin" in p and "Cartesian" not in p
                   and "NestedLoop" not in p))

    # 21. RDFS inference: every rule a broadcast join, no cartesian
    from semargl_spark.operators.vocab import (
        RDFS_SUB_PROPERTY_OF, rdfs_infer,
    )

    p = plan_of(rdfs_infer(
        stg.select("subj", "pred", "obj", "obj_kind"),
        [("urn:p:knows", RDFS_SUB_PROPERTY_OF, "urn:p:related")]))
    sections.append(("kg_rdfs_infer", p))
    checks.append(("rdfs inference: broadcast joins only",
                   "BroadcastHashJoin" in p and "Cartesian" not in p
                   and "NestedLoop" not in p))

    # 22. random projection: row-local — no shuffle, no Python
    from semargl_spark.operators.similarity import random_projection

    p = plan_of(random_projection(emb, out_dim=4))
    sections.append(("embedding_project", p))
    checks.append(("random projection is shuffle-free and JVM-side",
                   n_nodes(p, "Exchange") == 0 and "Python" not in p))

    # 23. negative sampling: equi-joins on the hashed index, anti-join
    # on the true-edge set — never a cross product
    from semargl_spark.operators.graph import negative_samples

    p = plan_of(negative_samples(edges_disk, k=2))
    sections.append(("kg_neg_samples", p))
    checks.append(("negative sampling: equi-joins only (no cross product)",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 24. SPARQL text front-end: the compiled plan must match the
    # list-level API's — pushed constant predicates, no cartesian, and
    # ORDER BY+LIMIT as TakeOrderedAndProject
    from semargl_spark.operators.sparql import sparql_select

    p = plan_of(sparql_select(edges_disk, """
        PREFIX p: <urn:p:>
        SELECT ?a ?b WHERE {
            ?a p:knows ?b .
            ?a a <urn:t:Thing> .
        } ORDER BY DESC(?a) LIMIT 25
    """))
    sections.append(("kg_sparql (text front-end, parquet-backed)", p))
    sp_pushed = re.findall(r"PushedFilters: \[([^\]]+)\]", p)
    checks.append(("SPARQL text query: pushed filters + top-k heap plan",
                   any("pred" in s for s in sp_pushed)
                   and "TakeOrderedAndProject" in p
                   and "Cartesian" not in p and "NestedLoop" not in p))

    # 25. random-walk corpus: per hop one frontier⋈edges hash equi-join
    # + one min-aggregation; walk-id fan-out is a narrow explode (a
    # crossJoin against range(walks) would plan a BroadcastNestedLoop)
    from semargl_spark.operators.graph import random_walks, skipgram_pairs

    walks_df = random_walks(edges_disk, walk_len=2, walks_per_node=2)
    p = plan_of(walks_df)
    sections.append(("kg_random_walks", p))
    checks.append(("random walks: hash equi-joins only, explode fan-out",
                   "Cartesian" not in p and "NestedLoop" not in p
                   and n_nodes(p, "Generate") >= 1))

    # 26. skip-gram pairs: ONE self equi-join keyed on the walk id with
    # the |Δstep|≤window band as a post-join filter — never a banded
    # nested-loop over the corpus
    p = plan_of(skipgram_pairs(walks_df, window=2))
    sections.append(("kg_skipgram_pairs", p))
    checks.append(("skip-gram pairs: walk-id equi-join, no cross product",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 27. co-occurrence: position fan-out makes an exact equi-join on
    # (doc, pos) — linear in tokens where a position-band self join is
    # quadratic on long documents; all JVM-side
    from semargl_spark.operators.curation import cooccurrence, ppmi

    cooc_df = cooccurrence(bench_docs, window=2)
    p = plan_of(cooc_df)
    sections.append(("cooccurrence", p))
    checks.append(("cooccurrence: exact (doc,pos) equi-join, JVM-side",
                   "Cartesian" not in p and "NestedLoop" not in p
                   and "Python" not in p))

    # 28. PPMI: two vocabulary-sized marginal aggregations re-joined by
    # equi-join; the global total is a one-row driver scalar, never a
    # 1-row broadcast-nested-loop cross join
    p = plan_of(ppmi(cooc_df))
    sections.append(("ppmi", p))
    checks.append(("ppmi: marginal equi-joins, scalar total as literal",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 29. funnel: per-stage as-of chaining via hash joins — no
    # row_number-over-everything single-partition window, no cartesian
    from semargl_spark.queries_events import funnel

    p = plan_of(funnel(
        events.select("user_id", "ts", "event_type"),
        ["page_view", "click", "purchase"], horizon="7 DAY"))
    sections.append(("events_funnel", p))
    checks.append(("funnel: stage chaining via hash joins, no cartesian",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 30. k-NN graph: one LSH bucket equi-join over the whole corpus
    # (never all-pairs) + bounded top-k agg + one pair groupBy
    from semargl_spark.operators.similarity import (
        knn_graph, lsh_bucket, quantize_embeddings, quantized_topk,
    )

    emb_d = emb.selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS embedding"
    )
    p = plan_of(knn_graph(emb_d, dim=64, k=3))
    sections.append(("knn_graph", p))
    checks.append(("knn graph: bucket equi-join, no cross product",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 31. quantization is a shuffle-free JVM projection; bucketed
    # quantized search joins on the bucket key only
    p = plan_of(quantize_embeddings(emb_d))
    sections.append(("embedding_quantize", p))
    checks.append(("quantization is shuffle-free and JVM-side",
                   n_nodes(p, "Exchange") == 0 and "Python" not in p))
    qz = quantize_embeddings(lsh_bucket(emb_d, "embedding", 64, 8))
    p = plan_of(quantized_topk(
        qz, emb_d.selectExpr("vec_id").where("vec_id % 25 = 0"), k=5))
    sections.append(("quantized_topk (bucketed)", p))
    checks.append(("quantized search joins on bucket (no cross product)",
                   "Cartesian" not in p and "NestedLoop" not in p))

    # 31b. winnowing: JVM k-grams + ONE per-doc sliding-min window —
    # no Python, no cartesian; the only exchange is the doc partition
    from semargl_spark.operators.dedup import winnow_fingerprints

    p = plan_of(winnow_fingerprints(bench_docs, k=4, w=3))
    sections.append(("winnow", p))
    checks.append(("winnow: JVM-side, per-doc window, no cross product",
                   "Python" not in p and "Cartesian" not in p
                   and "NestedLoop" not in p))

    # 31c. SPARQL path sugar: a sequence path plans as an ordinary
    # equi-join tree (no cartesian), and a negated property set is a
    # join-free filtered scan
    from semargl_spark.operators.sparql import sparql_select

    # the parquet-backed edge frame from section 8 — real scan plans,
    # so pushed filters are visible
    kg_edges_df = edges_disk
    p = plan_of(sparql_select(kg_edges_df, """
        PREFIX p: <urn:p:>
        PREFIX dcterms: <http://purl.org/dc/terms/>
        SELECT ?a ?c WHERE { ?a p:knows/dcterms:relation ?c . }
    """))
    sections.append(("kg_sparql_seq (sequence path)", p))
    checks.append(("sequence path compiles to equi-joins (no cartesian)",
                   "Cartesian" not in p and "NestedLoop" not in p
                   and n_nodes(p, "SortMergeJoin") + n_nodes(p, "BroadcastHashJoin") >= 1))
    p = plan_of(sparql_select(kg_edges_df, """
        PREFIX p: <urn:p:>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?s ?o WHERE { ?s !(p:knows|rdf:type) ?o . }
    """))
    sections.append(("kg_sparql_nps (negated property set)", p))
    checks.append(("negated property set is a join-free filtered scan",
                   n_nodes(p, "SortMergeJoin") == 0
                   and n_nodes(p, "BroadcastHashJoin") == 0
                   and n_nodes(p, "Filter") >= 1))

    # 31d. HITS / k-core: hash-agg + equi-join rounds, JVM-only, no
    # cartesian anywhere in the unrolled iteration plan
    from semargl_spark.operators.graph import hits, kcore

    # per-round score frames are localCheckpoint-truncated (the same
    # lineage discipline as pagerank), so the visible plan is the final
    # assembly: two key-equi outer joins over checkpointed scans
    p = plan_of(hits(kg_edges_df, iterations=2))
    sections.append(("kg_hits", p))
    checks.append(("HITS assembly is equi-joins over checkpointed rounds, JVM-only",
                   "Cartesian" not in p and "Python" not in p
                   and n_nodes(p, "SortMergeJoin")
                   + n_nodes(p, "BroadcastHashJoin") >= 2))
    p = plan_of(kcore(kg_edges_df, k=2, rounds=3))
    sections.append(("kg_kcore", p))
    checks.append(("k-core peels via semi-joins, JVM-only",
                   "Cartesian" not in p and "Python" not in p))

    # 32. registry-wide recompute audit: no gate may plan more than 2
    # Python subtrees (ArrowEval/MapInArrow). >2 means a multi-consumer
    # pipeline is re-running its extraction/UDF upstream per consumer —
    # the class of bug fixed round-2 in skip-gram (self-join re-derived
    # the walk corpus), substring dedup (window explode ×3), the
    # BGP/SPARQL gates (extraction per pattern), RDFS inference
    # (extraction per rule) and shape validation. Allowance of 2 covers
    # inherent two-kernel chains (parse→serialize, decode→resize,
    # bucket-UDF→cosine-UDF). Plan-build only, but gates with eager
    # driver scalars (CC convergence, corpus totals) do run jobs.
    import semargl_spark.queries as Q

    py_re = re.compile(
        r"ArrowEvalPython|PythonMapInArrow|MapInArrow|BatchEvalPython"
    )
    # inherent chains longer than 2 Python stages, reviewed by hand:
    # decode → resample+re-encode → re-decode-features
    # 32. round-2 curation additions: weighted sampling must plan as
    # TakeOrderedAndProject (per-partition top-k, never a global sort);
    # n-gram novelty is two hash aggs + an equi-join (no cartesian, no
    # Python); the confusion matrix is one projection + one tiny-key agg
    p = plan_of(curation.weighted_sample(docs, k=200))
    sections.append(("weighted_sample", p))
    checks.append(("weighted_sample plans TakeOrderedAndProject, no global Sort",
                   "TakeOrderedAndProject" in p and n_nodes(p, "Sort") == 0
                   and "Python" not in p))

    p = plan_of(curation.ngram_novelty(docs, n=5))
    sections.append(("ngram_novelty", p))
    checks.append(("ngram_novelty: hash aggs + equi-join, JVM-only, no cartesian",
                   "Python" not in p and "Cartesian" not in p
                   and "NestedLoop" not in p and "HashAggregate" in p))

    from semargl_spark.operators.text import lang_confusion

    p = plan_of(lang_confusion(docs))
    sections.append(("lang_id_confusion", p))
    checks.append(("lang_confusion is projection + one agg (no join, JVM-only)",
                   "Python" not in p and "Join" not in p))

    # 32b. stratified sampling: both window phases must partition on
    # (stratum, salt) / stratum — never a single global window — and
    # stay JVM-only; edge provenance joins mentions to ts on the
    # (conv_id, turn_idx) equi-key (no cartesian)
    p = plan_of(curation.stratified_sample(docs, k=20))
    sections.append(("stratified_sample", p))
    flat = p.replace(" ", "")
    specs = flat.split("windowspecdefinition(")[1:]
    checks.append(("stratified_sample windows are stratum-keyed (no empty partitionBy)",
                   "Python" not in p and len(specs) >= 1
                   and all(s.startswith("stratum#") for s in specs)))

    from semargl_spark.operators.materialize import edge_provenance

    st_nt = triples(extract_statements(t))
    p = plan_of(edge_provenance(st_nt, t))
    sections.append(("kg_edge_provenance", p))
    checks.append(("edge_provenance: equi-join + hash agg, no cartesian",
                   "Cartesian" not in p and "NestedLoop" not in p
                   and "HashAggregate" in p))

    from semargl_spark.operators.dedup import segment_dedup

    p = plan_of(segment_dedup(docs, seg_words=16))
    sections.append(("segment_dedup", p))
    checks.append(("segment_dedup: JVM-only, keeper agg + equi-join, no cartesian",
                   "Python" not in p and "Cartesian" not in p
                   and "NestedLoop" not in p and "HashAggregate" in p))

    # 32c. PQ search: codes join the m·k-row LUT via broadcast and the
    # top-k is TakeOrderedAndProject (per-partition heaps, no global
    # sort of the candidate distances)
    from semargl_spark.operators.clustering import pq_search

    emb8 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(pq_search(emb8, query_id=42, topk=10, m=2, sub=16, k=4,
                          iterations=1))
    sections.append(("pq_search", p))
    checks.append(("pq_search: broadcast LUT join + TakeOrderedAndProject top-k",
                   "BroadcastHashJoin" in p and "TakeOrderedAndProject" in p
                   and "Python" not in p))

    # 32d. sketch family: JVM-only end to end; the CM probe side joins
    # the 4096-row counter grid via broadcast; KMV bottom-k windows
    # never plan a cartesian
    from semargl_spark.operators.sketch import (
        cm_heavy_hitters, kmv_distinct, neighborhood_function,
    )

    docs9 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words9 = docs9.selectExpr(
        "explode(split(trim(lower(text)), '\\\\s+')) AS word"
    ).filter("word <> ''")
    p = plan_of(kmv_distinct(docs9.selectExpr(
        "cast(doc_id % 3 as string) AS g", "text AS v"),
        ["g"], "v", k=64))
    sections.append(("kmv_distinct", p))
    checks.append(("kmv_distinct: JVM-only, window bottom-k, no cartesian",
                   "Python" not in p and "Cartesian" not in p
                   and "Window" in p))
    p = plan_of(cm_heavy_hitters(words9, "word", d=4, w=1024, k=20))
    sections.append(("cm_heavy_hitters", p))
    checks.append(("cm_heavy_hitters: JVM-only, broadcast counter-grid probe",
                   "Python" not in p and "BroadcastHashJoin" in p))
    edges9 = docs9.selectExpr(
        "cast(doc_id as string) AS src",
        "cast(doc_id + 1 as string) AS dst")
    p = plan_of(neighborhood_function(edges9, rounds=1, k=16))
    sections.append(("neighborhood_function", p))
    checks.append(("neighborhood_function: JVM-only rounds, no cartesian",
                   "Python" not in p and "Cartesian" not in p
                   and "NestedLoop" not in p))

    # 33. round-2b operators: DSIR broadcast ratio join, RA wedge
    # equi-joins, topic-shift single-window, c14n one-exchange
    # FlatMapGroupsInPandas, unigram top-N without a global sort
    from semargl_spark.operators.curation import dsir_scores
    from semargl_spark.operators.graph import resource_allocation
    from semargl_spark.operators.conversation import topic_shifts
    from semargl_spark.operators.c14n_ops import c14n_labels
    from semargl_spark.operators.text import unigram_vocab

    docs10 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(dsir_scores(docs10, docs10.filter("doc_id % 7 = 0"),
                            n_buckets=64))
    sections.append(("dsir_scores", p))
    checks.append(("dsir_scores: JVM-only, broadcast ratio join, no cartesian "
                   "pairwise work",
                   "Python" not in p and "CartesianProduct" not in p
                   and "BroadcastHashJoin" in p))

    edges10 = docs10.selectExpr("cast(doc_id as string) AS src",
                                "cast(doc_id + 1 as string) AS dst")
    p = plan_of(resource_allocation(edges10, max_nbr_degree=16))
    sections.append(("resource_allocation", p))
    checks.append(("resource_allocation: wedge equi-joins only — no "
                   "cartesian, no nested loop, JVM-only",
                   "Python" not in p and "Cartesian" not in p
                   and "NestedLoop" not in p))

    t10 = docs10.selectExpr("cast(doc_id as string) AS conv_id",
                            "cast(doc_id % 4 as int) AS turn_idx", "text")
    p = plan_of(topic_shifts(t10))
    sections.append(("topic_shifts", p))
    checks.append(("topic_shifts: one window over the turn ordering, no "
                   "joins, JVM-only",
                   "Python" not in p and "Join" not in p and "Window" in p
                   and p.count("Exchange") <= 2))

    st10 = t10.selectExpr(
        "conv_id", "turn_idx", "'_:b' AS subj", "'urn:p:x' AS pred",
        "text AS obj", "'literal' AS obj_kind",
        "cast(null as string) AS lang", "cast(null as string) AS dtype",
        "cast(null as string) AS graph")
    p = plan_of(c14n_labels(st10))
    sections.append(("c14n_labels", p))
    checks.append(("c14n_labels: per-doc FlatMapGroupsInPandas behind ONE "
                   "hash exchange, no joins",
                   "FlatMapGroupsInPandas" in p and "Join" not in p
                   # formatted plans list each node twice (tree + detail)
                   and p.count("Exchange") <= 2))

    p = plan_of(unigram_vocab(docs10, n_pieces=64, max_piece_len=3))
    sections.append(("unigram_vocab", p))
    checks.append(("unigram_vocab: top-N via TakeOrderedAndProject — never "
                   "a global sort; JVM-only",
                   "TakeOrderedAndProject" in p and "Python" not in p))

    from semargl_spark.operators.conversation import chat_render

    t10r = t10.selectExpr("conv_id", "turn_idx",
                          "case when turn_idx % 2 = 0 then 'user' else "
                          "'assistant' end AS role", "text")
    p = plan_of(chat_render(t10r))
    sections.append(("chat_render", p))
    checks.append(("chat_render: ONE conv_id hash agg, no window sort, "
                   "JVM-only",
                   "Python" not in p and "Sort" not in p
                   and "Join" not in p and p.count("Exchange") <= 2))

    from semargl_spark.operators.graph import ranking_metrics

    sc10 = docs10.selectExpr("cast(doc_id as string) AS query",
                             "text AS cand", "doc_id AS score")
    tr10 = docs10.selectExpr("cast(doc_id as string) AS query",
                             "text AS cand")
    p = plan_of(ranking_metrics(sc10, tr10))
    sections.append(("ranking_metrics", p))
    checks.append(("ranking_metrics: query-partitioned window (never a "
                   "global sort), JVM-only",
                   "Python" not in p and "Window" in p
                   and "CartesianProduct" not in p))

    # hand-reviewed inherent chains: media_real_resize is
    # decode → resample+re-encode → re-decode-features; warc_split_offsets
    # is stat-sizes → range-resync-index → range-decode (the parallel
    # offset-index pipeline — each stage narrow, no recomputation)
    allow = {"media_real_resize": 3, "warc_split_offsets": 3}
    offenders = []
    for qname, qfn in sorted(Q.registry().items()):
        try:
            qdf = qfn(spark, sf_dir)
            if qdf.isStreaming:
                continue
            qn = len(py_re.findall(
                qdf._jdf.queryExecution().executedPlan().toString()))
            if qn > allow.get(qname, 2):
                offenders.append((qname, qn))
        except Exception as exc:  # a broken gate is its own audit failure
            offenders.append((qname, f"error: {str(exc)[:60]}"))
    checks.append((
        f"registry recompute audit: all gates plan <=2 Python subtrees"
        f"{' (offenders: ' + str(offenders) + ')' if offenders else ''}",
        not offenders,
    ))

    with open(os.path.join(REPO, "BENCH", "plans.md"), "w") as f:
        f.write("# Physical-plan audit (tools/explain_audit.py)\n\n")
        f.write("## Checks\n\n")
        for name, ok in checks:
            f.write(f"- {'PASS' if ok else 'FAIL'}: {name}\n")
        for name, plan in sections:
            f.write(f"\n## {name}\n\n```\n{plan}\n```\n")
    for name, ok in checks:
        print(("PASS" if ok else "FAIL"), name)
    spark.stop()
    return 0 if all(ok for _n, ok in checks) else 1


if __name__ == "__main__":
    raise SystemExit(main())
