"""Stage B4: object properties → relationship types (J4, J5, J6, U2).

Spark mapping of the reference ObjectPropertyExtractor
(reference: src/formats/rdf/property_extractor.py:255-417):

- property set = owl:ObjectProperty subjects ∪ (rdf:Property with non-XSD
  IRI first-range, minus known data properties — U2 as left_anti)
- explicit domain/range through class expressions (J3), filtered to known
  classes (J6 left_semi)
- fallback usage inference (J4): types of subjects/objects of actual usage
  triples; the reference picks ``next(iter(set))`` (nondeterministic) — this
  engine pins min(type_uri) (SURVEY §4 pin 6)
- per (domain × range) pair expansion with dedup key prop::d->r (J5,
  property_extractor.py:389-407)
- skips with the reference's exact reason strings
  (property_extractor.py:374-387)

Scale: usage inference joins the full triple corpus against the (small)
object-property set — broadcast the property set, shuffle only the matching
usage triples on subj/obj for the type lookups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import (OWL_OBJECT_PROPERTY, RDFS_DOMAIN, RDFS_RANGE, RDF_PROPERTY,
                RDF_TYPE, XSD_NS)
from ..functions.ids import fabric_id
from ..functions.names import uri_to_name
from .properties import first_ranges
from .resolver import resolve_class_targets


def object_property_set(triples: DataFrame, xsd_map: DataFrame,
                        prop_domains: DataFrame,
                        franges: DataFrame | None = None) -> DataFrame:
    owl_op = (triples
              .where((F.col("pred") == RDF_TYPE) &
                     (F.col("obj") == OWL_OBJECT_PROPERTY))
              .where(~F.col("subj").startswith("_:"))
              .select(F.col("subj").alias("prop_uri"))
              .dropDuplicates())
    rdf_props = (triples
                 .where((F.col("pred") == RDF_TYPE) &
                        (F.col("obj") == RDF_PROPERTY))
                 .where(~F.col("subj").startswith("_:"))
                 .select(F.col("subj").alias("prop_uri"))
                 .dropDuplicates())
    ranged = rdf_props.join(
        first_ranges(triples) if franges is None else franges, "prop_uri")
    known_xsd = xsd_map.select(F.col("xsd_iri").alias("range_obj"))
    entity_ranged = (ranged
                     .where(F.col("range_kind") == "iri")
                     .where(~F.col("range_obj").startswith(XSD_NS))
                     .join(F.broadcast(known_xsd), "range_obj", "left_anti")
                     .select("prop_uri"))
    # U2: exclude rdf:Properties already claimed as data properties
    known_dp = prop_domains.select("prop_uri").dropDuplicates()
    entity_ranged = entity_ranged.join(F.broadcast(known_dp),
                                       "prop_uri", "left_anti")
    return owl_op.unionByName(entity_ranged).dropDuplicates()


def _explicit_targets(triples: DataFrame, props: DataFrame, pred: str,
                      expr: DataFrame, classes: DataFrame,
                      targets: DataFrame | None = None) -> DataFrame:
    """``targets``: optional pre-resolved (root_key, class_uri) slice from
    resolver.resolve_graph_roots (roles 'dom'/'rng'); post-filtering by the
    property set keeps results identical to a private resolver loop."""
    if targets is not None:
        resolved = targets.select(F.col("root_key").alias("prop_uri"),
                                  "class_uri") \
            .join(props, "prop_uri", "left_semi")
    else:
        roots = (triples.where(F.col("pred") == pred)
                 .join(props, triples.subj == props.prop_uri, "left_semi")
                 .select(F.col("subj").alias("root_key"),
                         F.col("obj").alias("node")))
        resolved = resolve_class_targets(roots, expr).select(
            F.col("root_key").alias("prop_uri"), "class_uri")
    return (resolved
            .join(classes.select("class_uri"), "class_uri", "left_semi")
            .dropDuplicates())


def usage_inference(triples: DataFrame, props: DataFrame,
                    classes: DataFrame) -> tuple[DataFrame, DataFrame]:
    """J4: (prop_uri, inferred_domain) and (prop_uri, inferred_range)."""
    type_assertions = (triples
                       .where((F.col("pred") == RDF_TYPE) &
                              (F.col("obj_kind") == "iri"))
                       .select(F.col("subj").alias("inst"),
                               F.col("obj").alias("type_uri")))
    type_assertions = type_assertions.join(
        F.broadcast(classes.select(F.col("class_uri").alias("type_uri"))),
        "type_uri", "left_semi")
    usage = triples.join(F.broadcast(props),
                         triples.pred == props.prop_uri, "inner") \
        .select("prop_uri", "subj", "obj", "obj_kind")
    subj_types = (usage.join(type_assertions, usage.subj == type_assertions.inst)
                  .groupBy("prop_uri")
                  .agg(F.min("type_uri").alias("inferred_domain")))
    obj_types = (usage.where(F.col("obj_kind") == "iri")
                 .join(type_assertions, usage.obj == type_assertions.inst)
                 .groupBy("prop_uri")
                 .agg(F.min("type_uri").alias("inferred_range")))
    return subj_types, obj_types


def extract_relationships(triples: DataFrame, classes: DataFrame,
                          expr: DataFrame, xsd_map: DataFrame,
                          prop_domains: DataFrame,
                          resolved: DataFrame | None = None,
                          franges: DataFrame | None = None
                          ) -> tuple[DataFrame, DataFrame]:
    """→ (relationship_types, skipped).

    relationship_types: (rel_key, rel_id, name, prop_uri,
                         source_class_uri, target_class_uri,
                         source_entity_type_id, target_entity_type_id)
    skipped: (item_type, name, reason, uri) — reference-exact reasons.

    ``resolved``: optional fused resolver output (resolve_graph_roots);
    supplies the 'dom'/'rng' slices so no private loops run here.
    ``franges``: optional shared ``first_ranges`` frame (build_graph).
    """
    props = object_property_set(triples, xsd_map, prop_domains,
                                franges=franges)

    dom_t = rng_t = None
    if resolved is not None:
        dom_t = resolved.where(F.col("role") == "dom") \
            .select("root_key", "class_uri")
        rng_t = resolved.where(F.col("role") == "rng") \
            .select("root_key", "class_uri")
    domains = _explicit_targets(triples, props, RDFS_DOMAIN, expr, classes,
                                targets=dom_t) \
        .withColumnRenamed("class_uri", "domain_uri")
    ranges = _explicit_targets(triples, props, RDFS_RANGE, expr, classes,
                               targets=rng_t) \
        .withColumnRenamed("class_uri", "range_uri")

    inf_dom, inf_rng = usage_inference(triples, props, classes)

    # all frames below are keyed by property URI — bounded by the ontology
    # schema (Fabric ≤500 relationship types), so broadcast BY CONSTRAINT
    has_dom = domains.select("prop_uri").dropDuplicates()
    has_rng = ranges.select("prop_uri").dropDuplicates()
    fallback_dom = (inf_dom.join(F.broadcast(has_dom), "prop_uri", "left_anti")
                    .select("prop_uri",
                            F.col("inferred_domain").alias("domain_uri")))
    fallback_rng = (inf_rng.join(F.broadcast(has_rng), "prop_uri", "left_anti")
                    .select("prop_uri",
                            F.col("inferred_range").alias("range_uri")))
    all_dom = domains.unionByName(fallback_dom)
    all_rng = ranges.unionByName(fallback_rng)

    # skip accounting (J6), reference-exact reasons: props has one row per
    # property, so left-joining it once to each flagged property set and
    # picking the reason per row lists each skip once, each input planned once
    d_set = all_dom.select("prop_uri", F.lit(True).alias("has_d")).distinct()
    r_set = all_rng.select("prop_uri", F.lit(True).alias("has_r")).distinct()
    no_d, no_r = F.col("has_d").isNull(), F.col("has_r").isNull()
    skipped = (props
               .join(F.broadcast(d_set), "prop_uri", "left")
               .join(F.broadcast(r_set), "prop_uri", "left")
               .where(no_d | no_r)
               .select(
                   F.lit("relationship").alias("item_type"),
                   uri_to_name(F.col("prop_uri")).alias("name"),
                   F.when(no_d & no_r, "missing both domain and range")
                   .when(no_d, "missing domain class")
                   .otherwise("missing range class").alias("reason"),
                   F.col("prop_uri").alias("uri")))

    # J5: pair expansion + dedup, ids joined from the class table
    # (both sides schema-bounded → broadcast the range side)
    pairs = (all_dom.join(F.broadcast(all_rng), "prop_uri")
             .dropDuplicates(["prop_uri", "domain_uri", "range_uri"]))
    src = classes.select(F.col("class_uri").alias("domain_uri"),
                         F.col("entity_id").alias("source_entity_type_id"))
    dst = classes.select(F.col("class_uri").alias("range_uri"),
                         F.col("entity_id").alias("target_entity_type_id"))
    rels = (pairs
            .join(F.broadcast(src), "domain_uri")
            .join(F.broadcast(dst), "range_uri")
            .withColumn("rel_key",
                        F.concat("prop_uri", F.lit("::"), "domain_uri",
                                 F.lit("->"), "range_uri"))
            .select(
                "rel_key",
                fabric_id(F.col("rel_key")).alias("rel_id"),
                uri_to_name(F.col("prop_uri")).alias("name"),
                "prop_uri",
                F.col("domain_uri").alias("source_class_uri"),
                F.col("range_uri").alias("target_class_uri"),
                "source_entity_type_id", "target_entity_type_id"))
    return rels, skipped
