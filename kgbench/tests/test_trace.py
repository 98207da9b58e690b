"""Job attribution from the event log, and the traced layer composition.

One local Spark session with the event log on runs everything the tests
inspect; the log is read after the session stops (about two minutes).
"""

import os
import shutil
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
import spans  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from rdf_dtdl_fabric_ontology_converter_spark.plans.unified import \
        run_unified
    from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import \
        read_documents

    import workloads
    work = str(tmp_path_factory.mktemp("kgbench"))
    log = os.path.join(work, "eventlog")
    spark = run.start_session(work, log)
    try:
        # the same layer name twice in one run, and again in a second run
        tr = spans.Tracer(spark, "kg_build/s1/run1")
        df = spark.range(100)
        with tr.span("extract"):
            df.count()
        with tr.span("extract"):
            df.count()
        with tr.span("pipeline"):
            df.select("id")                   # builds a plan, runs no job
        tr2 = spans.Tracer(spark, "kg_build/s1/run2")
        with tr2.span("extract"):
            df.count()

        wl = workloads.KgBuild(spark, os.path.join(work, "kg"), 7)
        os.makedirs(wl.work)
        wl.sizes = {"n_bulk": 8, "chain_depth": 4, "dtdl_depth": 2,
                    "cdm_children": 1, "owl_docs": 1}
        wl.setup()
        wl.derive()
        kg_tr = spans.Tracer(spark, "kg_build/s7/traced")
        wl.run_traced(kg_tr)
        errors = wl.check()
        read = spark.read.parquet
        traced_ids = (
            {r["id"] for r in read(os.path.join(
                wl.last_out, "entity_types")).collect()},
            {r["id"] for r in read(os.path.join(
                wl.last_out, "relationship_types")).collect()})
        uni = run_unified(spark, read_documents(spark, wl.input))
        unified_ids = ({r["id"] for r in uni.entity_types.collect()},
                       {r["id"] for r in uni.relationship_types.collect()})
    finally:
        run.stop_session(spark)
    jobs, shuffle, tasks = spans.read_event_log(log)
    yield SimpleNamespace(tr=tr, tr2=tr2, kg_tr=kg_tr, errors=errors,
                          traced_ids=traced_ids, unified_ids=unified_ids,
                          jobs=jobs, shuffle=shuffle, tasks=tasks)
    shutil.rmtree(work, ignore_errors=True)


def test_union_and_assignment_helpers():
    assert spans._union_length([(0, 2), (1, 3), (5, 6)]) == 4
    a = spans.Span(0, "extract", None, "r", "r/extract/0", 10.0, 20.0)
    b = spans.Span(1, "pipeline", None, "r", "r/pipeline/1", 20.0, 30.0)
    jobs = {1: spans.Job(1, "r/extract/0", 11.0, 12.0),
            2: spans.Job(2, None, 25.0, 26.0),      # helper-thread job
            3: spans.Job(3, "r/pipeline/1", 12.0, 13.0)}
    got = spans.assign_jobs([a, b], jobs)
    assert [j.job_id for j in got[a.group]] == [1]
    assert sorted(j.job_id for j in got[b.group]) == [2, 3]


def test_group_ids_are_unique_per_run_and_layer(traced):
    groups = [s.group for s in traced.tr.spans + traced.tr2.spans]
    assert len(set(groups)) == len(groups)


def test_a_layer_that_runs_an_action_reports_jobs(traced):
    first, second, no_action = traced.tr.spans
    other_run = traced.tr2.spans[0]
    per_span = spans.assign_jobs([first, second, no_action, other_run],
                                 traced.jobs)
    for s in (first, second, other_run):
        assert len(per_span[s.group]) > 0, s.group
    assert per_span[no_action.group] == []
    # a job belongs to one span, never to every span of the layer name
    ids = [j.job_id for g in per_span.values() for j in g]
    assert len(ids) == len(set(ids))


def test_every_kg_layer_reports_jobs_from_the_event_log(traced):
    m = spans.layer_metrics(traced.kg_tr.spans, traced.jobs,
                            traced.shuffle, traced.tasks)
    for layer in ("sources", "extract", "pipeline", "identity",
                  "relationships", "dtdl", "cdm", "unified", "validate",
                  "sinks"):
        assert m[f"{layer}.jobs"] > 0, layer
        assert m[f"{layer}.stages"] > 0, layer
        assert m[f"{layer}.tasks"] >= m[f"{layer}.stages"], layer
        assert 0 <= m[f"{layer}.driver_gap_s"] <= m[f"{layer}.wall_s"], layer
    assert m["pipeline.shuffle_write_mb"] > 0


def test_traced_composition_matches_run_unified(traced):
    assert traced.errors == []
    assert traced.traced_ids == traced.unified_ids
