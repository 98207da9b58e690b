"""The workloads: inputs, the engine calls a user makes, output checks.

Each workload drives the engine only through its public entry points,
the way ``job.py kg``, ``curate_job.py``, ``sparql_job.py`` and
``validate_job.py`` do, and reads nothing but the generated parquet.

``run_job`` is the untraced unit of work.  ``run_traced`` makes the same
public calls layer by layer, materializing at each layer boundary inside
a tracer span.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
from collections import Counter

import gen
import queries

ENGINE = "rdf_dtdl_fabric_ontology_converter_spark"


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def _force(df):
    """Materialize a frame at a layer boundary."""
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# kg_build: the job.py kg path over a mixed-format corpus
# ---------------------------------------------------------------------------

class KgBuild:
    """``job.py kg``'s calls: ``run_unified``, ``preflight_issues`` and
    ``write_table`` of the entity, relationship, skipped-item and issue
    tables.

    Left out of the unit, to keep a cold run near a minute on a four-core
    host: the definition-schema re-validation, the compliance rollup and
    the checkpoint-root stages (with them a cold job takes about a third
    longer).  Note that ``job.py`` without ``--checkpoint-root`` hands the
    lazy unified frames to ``definition_schema_issues``, whose branches
    each re-plan the whole unified lineage: minutes, or a driver OOM, on
    this corpus.
    """

    sizes = {"n_bulk": 16, "chain_depth": 20, "dtdl_depth": 8,
             "cdm_children": 2, "owl_docs": 2}
    tables = ("entity_types", "relationship_types", "skipped_items",
              "issues")

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.runs = 0

    def setup(self) -> None:
        corpus = gen.kg_corpus(self.seed, **self.sizes)
        self.input = os.path.join(self.work, "kg_input.parquet")
        gen.write_parquet(corpus.docs, self.input)
        self.corpus = corpus
        self.n_docs = len(corpus.docs)

    def derive(self) -> None:
        self.expected = gen.kg_expected(self.corpus)

    def _out(self) -> str:
        self.runs += 1
        self.last_out = _fresh(os.path.join(self.work, f"kg_out{self.runs}"))
        return self.last_out

    def run_job(self) -> None:
        from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import \
            preflight_issues
        from rdf_dtdl_fabric_ontology_converter_spark.plans.unified import \
            run_unified
        from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import \
            read_documents
        from rdf_dtdl_fabric_ontology_converter_spark.sources.sinks import \
            write_table
        out = self._out()
        uni = run_unified(self.spark, read_documents(self.spark, self.input))
        frames = (uni.entity_types, uni.relationship_types,
                  uni.skipped_items, preflight_issues(uni.rdf.triples))
        for name, df in zip(self.tables, frames):
            write_table(df, os.path.join(out, name))

    def check(self) -> list[str]:
        """Compare the written tables with the generator's expectation."""
        def read(name, cols):
            return gen.read_parquet_rows(os.path.join(self.last_out, name),
                                         cols)
        ents = read("entity_types", ["id", "class_uri", "base_entity_type_id",
                                     "properties"])
        rels = {r["id"] for r in read("relationship_types", ["id"])}
        issues = Counter(r["category"] for r in read("issues", ["category"]))
        errs = check_kg(self.expected, ents, rels, issues)
        traced = getattr(self, "traced_triples", None)
        if traced is not None and traced != self.expected["triples"]:
            errs.append(f"deduplicated triples {traced}, "
                        f"want {self.expected['triples']}")
        return errs

    def run_traced(self, tr) -> None:
        """``run_job``'s calls, and the ones ``run_unified`` makes, one
        layer per span, materialized at each boundary."""
        from rdf_dtdl_fabric_ontology_converter_spark.operators.cdm import (
            convert_cdm, extract_cdm)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.dtdl import (
            DtdlModes, convert_interfaces, extract_interfaces)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
            extract_triples, split_errors)
        from rdf_dtdl_fabric_ontology_converter_spark.operators.validate import \
            preflight_issues
        from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import \
            build_graph
        from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import \
            read_documents
        from rdf_dtdl_fabric_ontology_converter_spark.sources.sinks import \
            write_table
        spark = self.spark
        out = self._out()
        with tr.span("sources"):
            docs = _force(read_documents(spark, self.input))
        with tr.span("extract"):
            raw = _force(extract_triples(docs))
            clean, skips = split_errors(raw)
        with tr.span("pipeline"):
            rdf = build_graph(spark, clean, skips)
        with tr.span("identity"):
            r_ents = _force(rdf.entity_types)
        with tr.span("relationships"):
            r_rels = _force(rdf.relationship_types)
            r_skip = _force(rdf.skipped_items)
        with tr.span("dtdl"):
            d_ents, d_rels, d_skip = (_force(x) for x in convert_interfaces(
                extract_interfaces(docs), DtdlModes()))
        with tr.span("cdm"):
            c_ents, c_rels, c_skip = (_force(x) for x in convert_cdm(
                *extract_cdm(docs)))
        with tr.span("unified"):
            frames = [
                _force(r_ents.unionByName(d_ents).unionByName(c_ents)
                       .dropDuplicates(["id"])),
                _force(r_rels.unionByName(d_rels).unionByName(c_rels)
                       .dropDuplicates(["id"])),
                _force(r_skip.unionByName(d_skip).unionByName(c_skip))]
        with tr.span("validate"):
            frames.append(_force(preflight_issues(rdf.triples)))
        with tr.span("sinks"):
            for name, df in zip(self.tables, frames):
                write_table(df, os.path.join(out, name))
        with tr.untraced():
            n_trip = rdf.triples.count()
            n_skip = skips.count()
            n_clean = clean.count()
        tr.counts.update({
            "extract.rows_out": n_clean,
            "pipeline.rows_out": n_trip,
            "pipeline.dedup_keep_ratio": n_trip / n_clean,
            "extract.skip_ratio": n_skip / (n_clean + n_skip),
        })
        self.traced_triples = n_trip

    def units(self) -> int:
        return self.n_docs


def check_kg(exp: dict, ents: list, rel_ids: set,
             issue_counts: dict) -> list[str]:
    errs = []
    got = {r["id"]: r for r in ents}
    want = exp["entities"]
    if set(got) != set(want):
        errs.append(f"entity ids: {len(set(want) - set(got))} missing, "
                    f"{len(set(got) - set(want))} unexpected")
    for eid, w in want.items():
        g = got.get(eid)
        if g is None:
            continue
        if g["base_entity_type_id"] != w["base"]:
            errs.append(f"entity {eid} ({g['class_uri']}): base "
                        f"{g['base_entity_type_id']} != {w['base']}")
        if w["props"] is not None:
            have = {p["id"] for p in (g["properties"] or [])}
            if have != w["props"]:
                errs.append(f"entity {eid} ({g['class_uri']}): "
                            f"{len(have)} properties, want {len(w['props'])}")
    if rel_ids != exp["relationships"]:
        errs.append(f"relationship ids: "
                    f"{len(exp['relationships'] - rel_ids)} missing, "
                    f"{len(rel_ids - exp['relationships'])} unexpected")
    for cat, n in exp["issues"].items():
        if issue_counts.get(cat, 0) != n:
            errs.append(f"issues[{cat}] = {issue_counts.get(cat, 0)}, "
                        f"want {n}")
    return errs[:20]


# ---------------------------------------------------------------------------
# query_curate: a closed loop of query, validation, linking and curation
# ---------------------------------------------------------------------------

class QueryCurate:
    """One client, closed loop: the next operation starts when the
    previous one's result has been collected and checked.  A round issues
    every operation kind once, in a fixed order with seeded parameters,
    so every run issues the same kinds in the same shares.

    The graph is ``sparql_job.py --entailment owl,rdfs``'s: extraction,
    clean rows only, the OWL and RDFS layers materialized, one
    checkpoint.  Linking resolves against the engine's class table;
    curation reads a text corpus the way ``curate_job.py`` does."""

    n_inst = 1200
    n_text = 600
    entailment = ("owl", "rdfs")

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.rng = random.Random(f"mix:{seed}")

    def setup(self) -> None:
        self.corpus = gen.query_corpus(self.seed, n_inst=self.n_inst)
        self.text = gen.curate_corpus_rows(self.seed, n_base=self.n_text)
        path = lambda name: os.path.join(self.work, name)  # noqa: E731
        self.input = path("query_input.parquet")
        self.mentions_path = path("query_mentions.parquet")
        self.text_path = path("text_input.parquet")
        self.eval_path = path("text_eval.parquet")
        gen.write_parquet(self.corpus.docs, self.input)
        gen.write_parquet(self.corpus.mention_docs, self.mentions_path)
        gen.write_text_parquet(self.text.rows, self.text_path)
        gen.write_text_parquet(self.text.eval_rows, self.eval_path)
        self.curate_params = self.text.params

    def derive(self) -> None:
        self.oracle = queries.Oracle(self.corpus,
                                     gen.curate_expected(self.text))

    def materialize(self, tr=None) -> None:
        """The graph the queries read and the class table linking
        resolves against, both materialized before the first operation."""
        from rdf_dtdl_fabric_ontology_converter_spark.operators.classes import \
            extract_classes
        from rdf_dtdl_fabric_ontology_converter_spark.operators.entailment import \
            augment_with_entailment
        from rdf_dtdl_fabric_ontology_converter_spark.operators.extract import (
            extract_triples, split_errors)
        from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import \
            read_documents
        span = tr.span if tr else (lambda name: contextlib.nullcontext())
        with span("sources"):
            docs = read_documents(self.spark, self.input)
            self.mention_docs = _force(read_documents(self.spark,
                                                      self.mentions_path))
            if tr:
                docs = _force(docs)
        with span("extract"):
            clean, _ = split_errors(extract_triples(docs))
            if tr:
                clean = _force(clean)
        with span("entailment"):
            self.triples = _force(augment_with_entailment(
                clean, layers=self.entailment))
        with span("identity"):
            self.entity_types = _force(
                extract_classes(self.triples)
                .withColumnRenamed("entity_id", "id"))

    def next_ops(self) -> list:
        """One round: every operation kind once, with seeded parameters.
        The order is fixed: in a fresh session the first operations pay
        the first-use compilation the later ones share, so a seeded order
        would move that cost between kinds from run to run."""
        return queries.make_round(self.corpus, self.rng)

    def run_op(self, op, tr=None):
        span = tr.span if tr else (lambda name: contextlib.nullcontext())
        with span(op.layer):
            op.result = op.execute(self)
        return op.result

    def check_op(self, op, result) -> list[str]:
        return op.check(self.oracle, result)

    def ratios(self, ops) -> dict:
        """Ratio metrics of a traced round, each with its base."""
        from rdf_dtdl_fabric_ontology_converter_spark.operators.curate import \
            keep_exact_keepers
        from rdf_dtdl_fabric_ontology_converter_spark.operators.dedup import \
            lsh_candidates
        by = {op.layer: op for op in ops}
        funnel = by["curate"].result["funnel"]
        # dedup_pipeline bands one keeper per exact text; its yield is the
        # keepers merged into another cluster per candidate pair
        keepers = keep_exact_keepers(self.spark.read.parquet(self.text_path))
        n_pairs = lsh_candidates(keepers).count()
        cluster = {r["doc_id"]: r["cluster_id"] for r in
                   gen.read_parquet_rows(by["dedup"].result["out"])}
        kept = [r["doc_id"] for r in keepers.select("doc_id").collect()]
        n_near = sum(cluster[d] != d for d in kept)
        link = by["linking"]
        return {
            "linking.rows_out": len(link.result),
            "linking.link_ratio": len(link.result) / max(1, link.n_mentions),
            "curate.rows_out": funnel["n_sampled"],
            "curate.survivor_ratio": funnel["n_sampled"] / funnel["n_in"],
            "dedup.rows_out": len(cluster),
            "dedup.pair_yield": n_near / max(n_pairs, 1),
        }
