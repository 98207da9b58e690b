"""CDM front-end: documents → entities/relationships tables.

Spark mapping of the reference CDMToFabricConverter
(reference: src/formats/cdm/cdm_converter.py:133-359) with
flatten_inheritance=True default:

- inheritance flattening (J9): inherited attributes first, child overrides
  same-name (cdm_converter.py:246-280) — implemented as an iterative
  ancestor-depth closure + a min-depth-wins window per (entity, attr name)
- type mapping via the CDM primitive/semantic dictionaries + trait
  inference (J11; cdm_type_mapper.py:50-210,371-401) — applied in the
  extraction UDF (pure dictionary lookups, no join needed for the
  trait-conditional path)
- entity-typed attributes are dropped from properties
  (cdm_converter.py:297-300)
- relationship endpoint resolution by entity name with hash placeholders
  for unknown endpoints (J10; cdm_converter.py:316-359)
- entityIdParts from is_primary_key attrs, displayName from first
  is_display_name attr (cdm_converter.py:212-223)

IDs: the reference uses per-namespace counters (nondeterministic across
runs); this engine uses the deterministic sha256 scheme keyed
'cdm:<entity name>' (its own tests assert validity/uniqueness only —
tests/cdm/test_cdm_converter.py:344).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .. import MAX_EXTENDS_DEPTH, NAMESPACE, NAMESPACE_TYPE, VISIBILITY
from ..functions.ids import fabric_id, property_id
from ..functions.names import sanitize_name

ATTR_TYPE = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("value_type", T.StringType()),
    T.StructField("raw_type", T.StringType()),    # as written (None=absent)
    T.StructField("max_length", T.LongType()),
    T.StructField("is_known_type", T.BooleanType()),
    T.StructField("is_entity_ref", T.BooleanType()),
    T.StructField("is_pk", T.BooleanType()),
    T.StructField("is_display", T.BooleanType()),
    T.StructField("pos", T.IntegerType()),
])

ATTR_ARRAY = ("array<struct<name:string,value_type:string,raw_type:string,"
              "max_length:bigint,is_known_type:boolean,"
              "is_entity_ref:boolean,is_pk:boolean,is_display:boolean,"
              "pos:int>>")

CDM_ENTITIES_SCHEMA = T.StructType([
    T.StructField("entity_name", T.StringType()),
    T.StructField("extends", T.StringType()),
    T.StructField("attributes", T.ArrayType(ATTR_TYPE)),
    T.StructField("dialect", T.StringType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("parse_error", T.StringType()),
])

CDM_RELS_SCHEMA = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("from_entity", T.StringType()),
    T.StructField("from_attribute", T.StringType()),
    T.StructField("to_entity", T.StringType()),
    T.StructField("to_attribute", T.StringType()),
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
])


# single-pass combined schema: one row per CDM span, entities + rels nested
_ENTITY_T = T.StructType([
    T.StructField("entity_name", T.StringType()),
    T.StructField("extends", T.StringType()),
    T.StructField("attributes", T.ArrayType(ATTR_TYPE)),
    T.StructField("dialect", T.StringType()),
])
_REL_T = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("from_entity", T.StringType()),
    T.StructField("from_attribute", T.StringType()),
    T.StructField("to_entity", T.StringType()),
    T.StructField("to_attribute", T.StringType()),
])
CDM_COMBINED_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType()),
    T.StructField("span_idx", T.IntegerType()),
    T.StructField("entities", T.ArrayType(_ENTITY_T)),
    T.StructField("rels", T.ArrayType(_REL_T)),
    T.StructField("parse_error", T.StringType()),
])


def extract_cdm(documents: DataFrame, materialize: bool = True,
                type_overrides: dict[str, str] | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """documents → (cdm entity rows, cdm relationship rows).

    ONE parse per span: a single ``mapInArrow`` emits a combined per-span
    row (nested entities + rels arrays) that both outputs explode from.
    With ``materialize`` (default) the small combined extract is persisted
    so the wide documents scan and the Python parse run exactly once even
    though two downstream plans consume it. ``type_overrides`` layers user
    type-registry mappings (case-insensitive) over the CDM dictionaries
    (reference: type_registry.py:68-130).
    """
    ovr = {k.lower(): v for k, v in (type_overrides or {}).items()} or None

    def run(batches):
        import pyarrow as pa
        from ..functions.cdm import attr_flags, parse_cdm
        from ..functions.typemaps import cdm_is_supported, cdm_map_type
        from .extract import sniff_format
        at = pa.struct([("name", pa.string()), ("value_type", pa.string()),
                        ("raw_type", pa.string()),
                        ("max_length", pa.int64()),
                        ("is_known_type", pa.bool_()),
                        ("is_entity_ref", pa.bool_()), ("is_pk", pa.bool_()),
                        ("is_display", pa.bool_()), ("pos", pa.int32())])
        ent_t = pa.struct([("entity_name", pa.string()),
                           ("extends", pa.string()),
                           ("attributes", pa.list_(at)),
                           ("dialect", pa.string())])
        rel_t = pa.struct([("name", pa.string()),
                           ("from_entity", pa.string()),
                           ("from_attribute", pa.string()),
                           ("to_entity", pa.string()),
                           ("to_attribute", pa.string())])
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            spans_col = batch.column("spans").to_pylist()
            dids, idxs, ents_c, rels_c, errs = [], [], [], [], []
            for doc_id, spans in zip(doc_ids, spans_col):
                if spans is None:
                    continue
                for idx, span in enumerate(spans):
                    if span["kind"] != "text" or not span["text"]:
                        continue
                    if sniff_format(span["text"]) != "cdm":
                        continue
                    try:
                        ents, rels = parse_cdm(span["text"])
                    except Exception as e:
                        dids.append(doc_id); idxs.append(idx)
                        ents_c.append(None); rels_c.append(None)
                        errs.append(f"{type(e).__name__}: {e}")
                        continue
                    ent_rows = []
                    for ent in ents:
                        rows = []
                        for a in ent["attributes"]:
                            pk, dn = attr_flags(a)
                            rows.append({
                                "name": a["name"],
                                "value_type": cdm_map_type(a["data_type"],
                                                           a["traits"],
                                                           ovr),
                                "raw_type": a.get("raw_type"),
                                "max_length": a.get("max_length"),
                                "is_known_type":
                                    cdm_is_supported(a.get("raw_type")),
                                "is_entity_ref": a["data_type"].lower() in
                                ("entity", "entityreference"),
                                "is_pk": pk, "is_display": dn,
                                "pos": a["pos"]})
                        ent_rows.append({"entity_name": ent["name"],
                                         "extends": ent["extends"],
                                         "attributes": rows,
                                         "dialect": ent["dialect"]})
                    dids.append(doc_id); idxs.append(idx)
                    ents_c.append(ent_rows); rels_c.append(rels)
                    errs.append(None)
            yield pa.RecordBatch.from_arrays(
                [pa.array(dids, pa.string()), pa.array(idxs, pa.int32()),
                 pa.array(ents_c, pa.list_(ent_t)),
                 pa.array(rels_c, pa.list_(rel_t)),
                 pa.array(errs, pa.string())],
                names=[f.name for f in CDM_COMBINED_SCHEMA.fields])

    combined = documents.mapInArrow(run, CDM_COMBINED_SCHEMA)
    if materialize:
        # localCheckpoint(eager=False), not persist(): a lazy checkpoint is
        # released with its lineage when the frame is GC'd, so repeated
        # extract_cdm calls in a long-lived session don't accumulate cached
        # RDDs in executor storage (matches the sibling operators).
        combined = combined.localCheckpoint(eager=False)

    ents = (combined
            .select("doc_id", "span_idx", "parse_error",
                    F.explode_outer("entities").alias("e"))
            .where(F.col("e").isNotNull() | F.col("parse_error").isNotNull())
            .select(F.col("e.entity_name").alias("entity_name"),
                    F.col("e.extends").alias("extends"),
                    F.col("e.attributes").alias("attributes"),
                    F.col("e.dialect").alias("dialect"),
                    "doc_id", "span_idx", "parse_error"))
    rels = (combined
            .select("doc_id", "span_idx", F.explode("rels").alias("r"))
            .select("r.name", "r.from_entity", "r.from_attribute",
                    "r.to_entity", "r.to_attribute", "doc_id", "span_idx"))
    return ents, rels


def _dedup_entities(ents: DataFrame) -> DataFrame:
    """One row per entity name. Manifest entries are *references* to entity
    definitions living in other documents (reference resolves entityPath
    across files — cdm_parser.py:634-748); here the cross-document join is
    by name, and the attribute-bearing definition wins over manifest stubs.
    """
    w = Window.partitionBy("entity_name").orderBy(
        F.desc(F.size(F.coalesce("attributes",
                                 F.array().cast(ATTR_ARRAY)))),
        "doc_id", "span_idx")
    return (ents.where(F.col("parse_error").isNull())
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn", "parse_error"))


def convert_cdm(cdm_entities: DataFrame, cdm_rels: DataFrame,
                flatten_inheritance: bool = True
                ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """→ (entity_types, relationship_types, skipped) in the shared schema."""
    ents = _dedup_entities(cdm_entities).localCheckpoint(eager=False)
    ents = ents.withColumn(
        "fabric_id", fabric_id(F.concat(F.lit("cdm:"), "entity_name")))

    skipped = (cdm_entities.where(F.col("parse_error").isNotNull())
               .select(F.lit("entity").alias("item_type"),
                       F.col("doc_id").alias("name"),
                       F.col("parse_error").alias("reason"),
                       F.concat(F.lit("doc://"), "doc_id").alias("uri")))

    # J9: ancestor chain with depth (0 = self) for attribute flattening
    self_rows = ents.select("entity_name",
                            F.col("entity_name").alias("src"),
                            F.lit(0).alias("depth"))
    edges = (ents.where(F.col("extends").isNotNull())
             .select("entity_name", F.col("extends").alias("src"))
             .join(ents.select(F.col("entity_name").alias("src")),
                   "src", "left_semi"))
    # one count per round (r6 — was an isEmpty() probe PLUS an eager
    # checkpoint per round). It is not the round's only job: under AQE each
    # localCheckpoint(eager=False) call runs the shuffle and broadcast
    # stages of its input as jobs of their own; the count runs only the
    # frontier's final stage, and the chain's final stage runs in the job
    # that first reads it (the next frontier's anti-join)
    chain = self_rows
    cur = edges.withColumn("depth", F.lit(1)).localCheckpoint(eager=False)
    n_cur = cur.count()
    for d in range(1, MAX_EXTENDS_DEPTH + 1):
        if n_cur == 0:
            break
        chain = chain.unionByName(cur).dropDuplicates(
            ["entity_name", "src"]).localCheckpoint(eager=False)
        # fresh names on both sides: cur descends from edges, so their
        # columns share attribute ids and the self-join would not resolve
        # (Spark fails with "key not found: src" on chains >= 2 deep)
        cur = ((cur.select("entity_name", F.col("src").alias("mid"))
                .join(edges.select(F.col("entity_name").alias("mid"),
                                   F.col("src").alias("up")), "mid")
                .select("entity_name", F.col("up").alias("src"),
                        F.lit(d + 1).alias("depth"))
                .join(chain, ["entity_name", "src"], "left_anti"))
               .localCheckpoint(eager=False))
        n_cur = cur.count()

    attrs = (ents.select("entity_name",
                         F.explode("attributes").alias("a"))
             .select("entity_name", "a.*"))
    if flatten_inheritance:
        # pull ancestor attributes onto each entity; child (min depth) wins
        lineage = chain.select("entity_name", "src", "depth")
        flat = (lineage
                .join(attrs.withColumnRenamed("entity_name", "src"), "src")
                .withColumn("rnk", F.row_number().over(
                    Window.partitionBy("entity_name", "name")
                    .orderBy("depth", "pos")))
                .where(F.col("rnk") == 1)
                .drop("rnk", "src"))
        base_col = F.lit(None).cast("string")
    else:
        flat = attrs.withColumn("depth", F.lit(0))
        parent_ids = ents.select(F.col("entity_name").alias("extends"),
                                 F.col("fabric_id").alias("base_id"))
        base_col = None  # joined below

    props = (flat.where(~F.col("is_entity_ref"))
             .join(ents.select("entity_name", "fabric_id"), "entity_name")
             .withColumn("prop_id", property_id(F.col("fabric_id"),
                                                F.col("name"))))

    prop_struct = F.struct(F.col("prop_id").alias("id"),
                           sanitize_name(F.col("name"), 90).alias("name"),
                           F.col("value_type").alias("valueType"))
    # reference order: most-distant ancestor attrs first, child's own last;
    # an override moves the attr to the child's position → sort by
    # (-depth, pos) after min-depth-wins
    per_ent = (props.groupBy("entity_name")
               .agg(F.array_sort(F.collect_list(
                   F.struct((-F.col("depth")).alias("negd"), F.col("pos"),
                            prop_struct.alias("p")))).alias("ps"),
                    F.array_sort(F.collect_list(F.when(
                        F.col("is_pk"),
                        F.struct(F.col("pos"), F.col("prop_id").alias("id")))))
                    .alias("pks"),
                    F.min(F.when(F.col("is_display"),
                                 F.struct(F.col("pos"),
                                          F.col("prop_id").alias("id"))))
                    .alias("dn"))
               .select("entity_name",
                       F.transform("ps", lambda x: x["p"]).alias("properties"),
                       F.transform("pks", lambda x: x["id"])
                       .alias("entity_id_parts"),
                       F.col("dn.id").alias("display_name_property_id")))

    empty_props = F.array().cast(
        "array<struct<id:string,name:string,valueType:string>>")
    out = (ents.join(per_ent, "entity_name", "left"))
    if flatten_inheritance:
        out = out.withColumn("base_entity_type_id", base_col)
    else:
        out = (out.join(F.broadcast(parent_ids), "extends", "left")
               .withColumnRenamed("base_id", "base_entity_type_id"))

    entity_types = out.select(
        F.col("fabric_id").alias("id"),
        sanitize_name(F.col("entity_name"), 90).alias("name"),
        F.lit(NAMESPACE).alias("namespace"),
        F.lit(NAMESPACE_TYPE).alias("namespace_type"),
        F.lit(VISIBILITY).alias("visibility"),
        "base_entity_type_id",
        F.coalesce("entity_id_parts", F.array().cast("array<string>"))
        .alias("entity_id_parts"),
        "display_name_property_id",
        F.coalesce("properties", empty_props).alias("properties"),
        empty_props.alias("timeseries_properties"),
        F.concat(F.lit("cdm:"), "entity_name").alias("class_uri"),
    )

    # J10: endpoint resolution by name; unknown endpoints get hash
    # placeholder ids (same scheme → still deterministic)
    rels = (cdm_rels.dropDuplicates(
        ["name", "from_entity", "to_entity", "from_attribute", "to_attribute"])
        .withColumn("source_entity_type_id",
                    fabric_id(F.concat(F.lit("cdm:"), "from_entity")))
        .withColumn("target_entity_type_id",
                    fabric_id(F.concat(F.lit("cdm:"), "to_entity")))
        .select(
            fabric_id(F.concat(F.lit("cdmrel:"), "name", F.lit("|"),
                               "from_entity", F.lit("->"), "to_entity"))
            .alias("id"),
            sanitize_name(F.col("name"), 90).alias("name"),
            F.lit(NAMESPACE).alias("namespace"),
            F.lit(NAMESPACE_TYPE).alias("namespace_type"),
            "source_entity_type_id", "target_entity_type_id",
            F.concat("from_entity", F.lit("->"), "to_entity").alias("rel_key"),
        ))
    return entity_types, rels, skipped
