"""Plan-shape budgets: catch plans that grow with the code, not the data.

A query's optimized logical plan has one ``LogicalRDD`` leaf per scan of a
checkpointed or in-memory frame. Copies of a shared sub-plan each bring
their own leaves, so the count measures how often a frame is re-planned
and does not depend on the data size. The optimized plan is read from
``DataFrame.explain(extended=True)``, the public API.
"""

import contextlib
import io

import corpus
from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import docs_from_payloads
from rdf_dtdl_fabric_ontology_converter_spark.plans.pipeline import run_pipeline


def optimized_leaves(df) -> int:
    """Number of ``LogicalRDD`` leaves in the optimized logical plan."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(extended=True)
    text = buf.getvalue()
    start = text.index("== Optimized Logical Plan ==")
    end = text.index("== Physical Plan ==", start)
    return text[start:end].count("LogicalRDD")


def test_skipped_items_plan_no_wider_than_relationship_types(spark):
    """Skip accounting reads the same property/domain/range frames as the
    relationship types, so its plan may not nest them many times over."""
    docs = docs_from_payloads(spark, {"simple": corpus.TTL["simple"]})
    res = run_pipeline(spark, docs)
    rel_leaves = optimized_leaves(res.relationship_types)
    skip_leaves = optimized_leaves(res.skipped_items)
    assert rel_leaves > 0
    assert skip_leaves <= rel_leaves + 10, (skip_leaves, rel_leaves)
