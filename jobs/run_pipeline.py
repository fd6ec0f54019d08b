"""spark-submit entry point for the full KG-construction pipeline
(north_rule: ``spark-submit --py-files semargl_spark.zip
jobs/run_pipeline.py --input ... --output ...``).

Stages: extract → link → canon → [infer] → [owl] → [resolve] → [fuse] →
[validate] → [c14n] → [sft] → merge → [sparql]. Each stage up to merge
crosses one stage step in ``run``: it overwrites the stage's side
outputs under <output>/ and appends the stage's lineage rows, which
double as the run's stage ledger. ``--resume`` skips the writes of every
stage the ledger records for the run-id, still re-derives the frames
later stages need, and reads side-output counts back from the written
tables, so a fresh and a resumed run report the same summary. Bracketed
stages are opt-in flags: --ontology (RDFS), --owl-axioms (OWL-RL
property semantics), --resolve-functional (truth-discovery conflict
resolution), --fuse-sameas (sameAs entity fusion), --shapes
(SHACL-lite), --content-address (RDFC-1.0 per-document hashes),
--sft-render (chat-template SFT exit), --sparql.

Build the zip with:  python -c "from semargl_spark.spark_util import \
build_pyfiles_zip; print(build_pyfiles_zip('semargl_spark.zip'))"
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", dest="input_path", required=True,
                    help="transcripts parquet dir (conv_id, turn_idx, role, text, tool, ts[, fmt])")
    ap.add_argument("--output", required=True, help="output dir for nodes/edges/lineage")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--dictionary", default=None,
                    help="entity dictionary parquet (canonical_iri, surface_form, weight)")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose lineage rows for this run-id already "
                         "exist (checkpoint-resume after a failed/killed run); "
                         "requires --run-id, the id of the run being resumed")
    ap.add_argument("--fuzzy-link", action="store_true",
                    help="link with the distance-1 SymSpell fuzzy joiner "
                         "(operators/link.fuzzy_link_entities) instead of "
                         "exact surface matching — recovers mentions with one "
                         "character of noise at the cost of a wider broadcast")
    ap.add_argument("--shapes", default=None,
                    help="JSON file with a list of SHACL-lite shape dicts "
                         "(operators/validate.validate_shapes); violations "
                         "are written to <output>/violations as a data-"
                         "quality side output")
    ap.add_argument("--ontology", default=None,
                    help="NTriples file of RDFS axioms (subClassOf/"
                         "subPropertyOf/domain/range); entailed triples are "
                         "materialized into the edge tables "
                         "(operators/vocab.rdfs_infer)")
    ap.add_argument("--owl-axioms", default=None,
                    help="JSON file of OWL-RL property axioms "
                         '({"inverse": [[p,q],...], "symmetric": [...], '
                         '"transitive": [...], "functional": [...], '
                         '"inverse_functional": [...]}); entailed triples '
                         "— including owl:sameAs conclusions from "
                         "(inverse-)functional clashes — join the edge "
                         "tables (operators/fusion.owl_infer)")
    ap.add_argument("--fuse-sameas", action="store_true",
                    help="close the owl:sameAs pairs present after "
                         "inference into equivalence classes and rewrite "
                         "every IRI subject/object to its canonical "
                         "(lexicographic-min) member before the merge; "
                         "the absorbed sameAs rows are dropped "
                         "(operators/fusion.sameas_mapping)")
    ap.add_argument("--resolve-functional", default=None,
                    help="comma-separated predicate list: for each listed "
                         "predicate keep ONE object per subject, chosen by "
                         "2-round source-reliability voting with conv_id "
                         "as the source (operators/fusion.truth_discovery)")
    ap.add_argument("--content-address", action="store_true",
                    help="side output <output>/content_addresses: the "
                         "RDFC-1.0 canonical sha256 per source document "
                         "(operators/c14n_ops.c14n_doc_hashes) — the "
                         "isomorphism-invariant graph-level dedup key")
    ap.add_argument("--sft-render", action="store_true",
                    help="side outputs <output>/sft (chat-template "
                    "rendered conversations with loss-mask spans) and "
                    "<output>/sft_manifest (packed-bin manifest) — the "
                    "training-data exit of the same run")
    ap.add_argument("--sft-capacity", type=int, default=2048,
                    help="packing bin capacity in whitespace tokens "
                    "for the sft manifest (default 2048)")
    ap.add_argument("--sparql", default=None,
                    help="SPARQL SELECT/ASK/CONSTRUCT/DESCRIBE or a SPARQL "
                         "1.1 Update request (operators/sparql.py subset) to "
                         "run against the materialized edge table after the "
                         "merge stage; non-ASK results (for Update: the "
                         "updated edge set) land in <output>/query and the "
                         "row count (or ASK boolean) is reported in the "
                         "summary JSON")
    ap.add_argument("--context-registry", default=None,
                    help="path to a JSON file mapping remote JSON-LD "
                         "@context IRIs to their parsed context values; "
                         "enables schema.org-style corpora to extract "
                         "offline (executors never fetch — unregistered "
                         "IRIs remain error rows)")
    args = ap.parse_args(argv)
    if args.resume and not args.run_id:
        # without the original run-id the lineage filter matches nothing
        # and every stage silently re-runs — refuse instead
        ap.error("--resume requires --run-id (the id of the run to resume)")
    if args.context_registry:
        with open(args.context_registry, encoding="utf-8") as fh:
            args.context_registry = json.load(fh)

    from pyspark.sql import SparkSession

    from semargl_spark.spark_util import SESSION_DEFAULTS

    spark = (
        SparkSession.builder.appName("semargl-kg-pipeline")
        .config(map=SESSION_DEFAULTS)
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    summary = run(spark, **vars(args))
    print(json.dumps(summary))
    spark.stop()
    return 0


def run(spark, *, input_path: str, output: str, run_id: str | None = None,
        dictionary: str | None = None, resume: bool = False,
        fuzzy_link: bool = False, shapes: str | None = None,
        ontology: str | None = None, owl_axioms: str | None = None,
        fuse_sameas: bool = False, resolve_functional: str | None = None,
        content_address: bool = False, sft_render: bool = False,
        sft_capacity: int = 2048, sparql: str | None = None,
        context_registry: dict | None = None) -> dict:
    """The pipeline body, callable in-process (tests, notebooks) — does
    not stop the session. ``main`` wraps it for spark-submit."""
    from pyspark.sql import functions as F

    from semargl_spark.operators.canon import connected_components
    from semargl_spark.operators.extract import errors, extract_statements, triples
    from semargl_spark.operators.link import fuzzy_link_entities, link_entities
    from semargl_spark.operators.materialize import (
        lineage_rows,
        materialize_kg,
        write_lineage,
    )
    from semargl_spark.spark_util import is_missing_path

    run_id = run_id or f"run-{int(time.time())}"
    t_start = time.perf_counter()
    transcripts = spark.read.parquet(input_path)

    # checkpoint-resume (north_rule): the lineage table doubles as the
    # stage ledger — a stage whose lineage rows for this run_id are
    # already recorded completed its (idempotent) writes before the
    # previous attempt died, so --resume skips them
    done_stages: set[str] = set()
    if resume:
        try:
            done_stages = {
                r["stage"]
                for r in spark.read.parquet(f"{output}/lineage")
                .filter(F.col("run_id") == run_id)
                .select("stage")
                .distinct()
                .collect()
            }
        except Exception as exc:
            # only "no lineage yet" means a fresh run: a transient or
            # corrupt ledger read must not silently re-run every stage
            if not is_missing_path(exc):
                raise

    resumed: list[str] = []
    summary: dict = {"run_id": run_id}

    def stage(name: str, df, **tables) -> None:
        """The stage boundary. A stage the resumed ledger records skips
        its writes; otherwise each side output ``table=frame`` is
        overwritten at ``<output>/<table>``, then the stage's ledger
        rows, an audit of ``df``, are written. Either way the caller
        goes on to derive the frames later stages need."""
        if name in done_stages:
            resumed.append(name)
            return
        for table, frame in tables.items():
            frame.write.mode("overwrite").parquet(f"{output}/{table}")
        write_lineage(lineage_rows(df, run_id, name), f"{output}/lineage")

    def written(table: str):
        """A table of this run read back from disk: side-output counts
        agree between a fresh run and a resumed one that skipped the
        write, and a resumed stage never recomputes a table to count it."""
        return spark.read.parquet(f"{output}/{table}")

    # named observation on the extraction output: per-run metric rows
    # (statements / error statements) collected by the JVM during the
    # job's own actions — zero extra passes, the production-monitoring
    # hook a 10^12-turn run exposes to its scheduler
    from pyspark.sql import Observation

    # unnamed → a session-unique internal name; a fixed name would
    # collide when run() executes twice in one session (resume/replay)
    obs = Observation()
    statements = extract_statements(
        transcripts, context_registry=context_registry
    ).observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum((F.col("obj_kind") == "error").cast("long")).alias("error_rows"),
    ).persist()
    stage("extract", statements)
    st = triples(statements)
    err = errors(statements)

    components = None
    if dictionary:
        linker = fuzzy_link_entities if fuzzy_link else link_entities
        links = linker(st, spark.read.parquet(dictionary)).persist()
        stage("link", links, links=links)
        components = connected_components(links.select(
            F.col("mention_node").alias("src"), F.col("canonical_iri").alias("dst")
        ).distinct())
        stage("canon", components)

    if ontology:
        # RDFS materialization BEFORE merge: entailed triples join the
        # asserted ones in the edge tables (closure pre-composed on the
        # driver, one broadcast join per rule)
        from semargl_spark.kernels.ntriples import parse as parse_ntriples
        from semargl_spark.operators.vocab import rdfs_infer

        with open(ontology) as f:
            axioms, onto_errs = parse_ntriples(f.read(), doc_key="onto")
        if onto_errs:
            raise ValueError(f"ontology parse errors: {onto_errs[:3]}")
        onto_triples = [(t.subj, t.pred, t.obj) for t in axioms]
        inferred = rdfs_infer(
            st.select("subj", "pred", "obj", "obj_kind").distinct(),
            onto_triples,
        ).select(
            "subj", "pred", "obj", "obj_kind",
            F.lit("rdfs").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
        )
        st = st.unionByName(inferred, allowMissingColumns=True)
        stage("infer", inferred)

    if owl_axioms:
        # OWL-RL property semantics over the IRI-valued statement set:
        # inverse/symmetric mirrors, transitive fixpoints, and
        # owl:sameAs conclusions from (inverse-)functional clashes
        from semargl_spark.operators.fusion import owl_infer

        with open(owl_axioms) as f:
            cfg = json.load(f)
        unknown = set(cfg) - {
            "inverse", "symmetric", "transitive", "functional",
            "inverse_functional",
        }
        if unknown:
            raise ValueError(f"unknown owl axiom kinds: {sorted(unknown)}")
        iri_st = st.filter(F.col("obj_kind") == "iri").select(
            "subj", "pred", "obj"
        )
        owl_inf = owl_infer(
            iri_st,
            inverse=[tuple(p) for p in cfg.get("inverse", [])] or None,
            symmetric=cfg.get("symmetric") or None,
            transitive=cfg.get("transitive") or None,
            functional=cfg.get("functional") or None,
            inverse_functional=cfg.get("inverse_functional") or None,
        ).select(
            "subj", "pred", "obj",
            F.lit("iri").alias("obj_kind"),
            F.lit("owl").alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
        ).localCheckpoint(eager=False)
        st = st.unionByName(owl_inf, allowMissingColumns=True)
        stage("owl", owl_inf)
        summary["owl_inferred"] = owl_inf.count()

    if resolve_functional:
        # conflict resolution: for each listed predicate keep ONE object
        # per subject by 2-round source-reliability voting (conv_id is
        # the source — transcripts that agree with the majority
        # elsewhere outvote noisy ones)
        from semargl_spark.operators.fusion import truth_discovery

        preds = [p.strip() for p in resolve_functional.split(",") if p.strip()]
        if not preds:
            raise ValueError("--resolve-functional lists no predicates")
        contested = F.col("pred").isin(preds)
        claims = st.filter(contested).select(
            F.col("conv_id").alias("source"), "subj", "pred", "obj"
        )
        winners = truth_discovery(claims, rounds=2).select(
            "subj", "pred", "obj"
        ).localCheckpoint(eager=False)
        st = st.filter(~contested).unionByName(
            st.filter(contested).join(
                winners, ["subj", "pred", "obj"], "left_semi"
            )
        )
        stage("resolve", winners)
        summary["resolved_claims"] = winners.count()

    if fuse_sameas:
        # entity fusion: close the sameAs pairs now present (asserted +
        # owl-inferred) into classes, rewrite IRI subjects/objects to
        # the canonical member, drop the absorbed sameAs rows (they
        # would all be self-loops post-rewrite)
        from semargl_spark.operators.fusion import OWL_SAME_AS, sameas_mapping

        pairs = st.filter(
            (F.col("pred") == OWL_SAME_AS) & (F.col("obj_kind") == "iri")
        ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        mapping = sameas_mapping(pairs).localCheckpoint(eager=False)
        sub_map = mapping.select(
            F.col("node").alias("subj"), F.col("component").alias("_csub")
        )
        obj_map = mapping.select(
            F.col("node").alias("obj"), F.col("component").alias("_cobj")
        )
        st = (
            st.filter(F.col("pred") != OWL_SAME_AS)
            .join(sub_map, "subj", "left")
            .join(obj_map, "obj", "left")
            .withColumn("subj", F.coalesce("_csub", "subj"))
            .withColumn(
                "obj",
                F.when(
                    F.col("obj_kind") == "iri",
                    F.coalesce("_cobj", "obj"),
                ).otherwise(F.col("obj")),
            )
            .drop("_csub", "_cobj")
        )
        stage("fuse", mapping)
        summary["fused_nodes"] = mapping.count()

    if shapes:
        # data-quality side output: violation rows only, never the
        # conforming majority
        from semargl_spark.operators.validate import validate_shapes

        with open(shapes) as f:
            shape_list = json.load(f)
        violations = validate_shapes(
            st.select("subj", "pred", "obj", "obj_kind", "dtype").distinct(),
            shape_list,
        )
        stage("validate", violations, violations=violations)
        summary["violations"] = written("violations").count()

    if content_address:
        # content addressing runs over the ORIGINAL per-document
        # statements (pre-fusion rewrites — the address identifies what
        # the source said, not what the pipeline resolved it to)
        from semargl_spark.operators.c14n_ops import c14n_doc_hashes

        addrs = c14n_doc_hashes(
            st.filter(F.col("conv_id") != "owl")
        ).localCheckpoint(eager=False)
        stage("c14n", addrs, content_addresses=addrs)
        summary["distinct_content"] = written("content_addresses").filter(
            F.col("error").isNull()
        ).select("doc_sha256").distinct().count()

    if sft_render:
        # SFT exit over the SAME input transcripts (pre-extraction
        # surface): chat-template rendering with loss-mask spans plus
        # the packed-bin manifest a loader consumes
        from semargl_spark.operators.conversation import chat_render
        from semargl_spark.operators.curation import pack_manifest

        from semargl_spark.operators.dedup import md5_hash60

        # stable non-negative numeric id for the shard modulo; the
        # md5-fold family (not xxhash64) so a data loader can replay
        # conv_id -> conv_num externally, and conv_num is WRITTEN INTO
        # the sft parquet so manifest bin members join back to rendered
        # documents without re-deriving any Spark-internal hash
        rendered = (
            chat_render(transcripts)
            .withColumn("conv_num", md5_hash60(F.col("conv_id")))
            .localCheckpoint(eager=False)
        )
        staged = rendered.select("conv_num", "rendered")
        manifest = pack_manifest(
            staged, capacity=sft_capacity, n_shards=64,
            id_col="conv_num", text_col="rendered",
        )
        stage("sft", rendered, sft=rendered, sft_manifest=manifest)
        summary["sft_conversations"] = written("sft").count()
        summary["sft_bins"] = written("sft_manifest").count()

    if "merge" in done_stages:
        # whole run already completed: report from the materialized tables
        resumed.append("merge")
        summary["nodes"] = written("nodes").count()
        summary["edges"] = written("edges").count()
    else:
        summary.update(materialize_kg(st, components, output, run_id))
    summary["errors"] = err.count()
    summary["statements"] = st.count()
    try:
        summary["observed"] = {k: int(v) for k, v in obs.get.items()}
    except Exception:
        # metrics are ADVISORY and must never fail the job: when the
        # extraction plan is served from a structurally-equal cached
        # plan of an earlier in-session run (replay/concurrent resume),
        # the observe node never executes and getRow() has no metrics
        summary["observed"] = None
    if sparql:
        # query the JUST-MATERIALIZED edge table (reads back from disk,
        # so pushed predicate constants hit the parquet scan and the
        # src-partitioned layout prunes constant-subject patterns)
        import re as _re

        from semargl_spark.operators.sparql import (
            sparql_ask, sparql_construct, sparql_describe, sparql_select,
            sparql_update,
        )

        edges_df = spark.read.parquet(f"{output}/edges")
        head = _re.sub(r"(?i)PREFIX\s+\w*:\s*<[^>]*>", "", sparql).strip()
        verb = head.split(None, 1)[0].upper() if head else ""
        if verb == "ASK":
            summary["ask"] = sparql_ask(edges_df, sparql)
        else:
            if verb == "CONSTRUCT":
                res = sparql_construct(edges_df, sparql)
            elif verb == "DESCRIBE":
                res = sparql_describe(edges_df, sparql)
            elif verb in ("INSERT", "DELETE"):
                # SPARQL Update: the updated edge SET lands in
                # <output>/query (never overwrite the edges table
                # while reading it); a table-level commit is a
                # rerun's materialize over this result
                res = sparql_update(edges_df, sparql)
            else:
                res = sparql_select(edges_df, sparql)
            res.write.mode("overwrite").parquet(f"{output}/query")
            summary["query_rows"] = spark.read.parquet(f"{output}/query").count()
    if resumed:
        summary["resumed_stages"] = sorted(resumed)
    statements.unpersist()
    if dictionary:
        links.unpersist()
    # in-job wall (excludes JVM/session boot — the long-running-
    # application view a cluster deployment amortizes); used by
    # tools/bench_job_scaling.py
    summary["wall_sec"] = round(time.perf_counter() - t_start, 2)
    return summary


if __name__ == "__main__":
    sys.exit(main())
