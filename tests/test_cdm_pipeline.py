"""CDM front-end parity vs the reference converter's assertions
(reference: tests/cdm/test_cdm_converter.py:151-253, docs/CDM_GUIDE.md).
"""

import json

from rdf_dtdl_fabric_ontology_converter_spark.sources.documents import docs_from_payloads
from rdf_dtdl_fabric_ontology_converter_spark.operators.cdm import (
    convert_cdm, extract_cdm)

PERSON_SCHEMA = json.dumps({
    "jsonSchemaSemanticVersion": "1.0.0",
    "imports": [],
    "definitions": [{
        "entityName": "Person",
        "hasAttributes": [
            {"name": "personId", "dataType": "guid",
             "appliedTraits": ["means.identity.entityId"]},
            {"name": "fullName", "dataType": "name",
             "appliedTraits": ["means.identity.person.fullName"]},
            {"name": "birthDate", "dataType": "date"},
            {"name": "isActive", "dataType": "boolean"},
            {"name": "salary", "dataType": "money"},
        ],
    }],
})

EMPLOYEE_EXTENDS = json.dumps({
    "jsonSchemaSemanticVersion": "1.0.0",
    "definitions": [{
        "entityName": "Employee",
        "extendsEntity": "Person",
        "hasAttributes": [
            {"name": "employeeNumber", "dataType": "string"},
            {"name": "fullName", "dataType": "string"},  # overrides Person's
        ],
    }],
})

MANAGER_EXTENDS = json.dumps({
    "jsonSchemaSemanticVersion": "1.0.0",
    "definitions": [{
        "entityName": "Manager",
        "extendsEntity": "Employee",
        "hasAttributes": [
            {"name": "level", "dataType": "string"},
            {"name": "salary", "dataType": "integer"},  # overrides Person's
        ],
    }],
})

MODEL_JSON = json.dumps({
    "name": "OrdersModel", "version": "1.0", "culture": "en-US",
    "entities": [
        {"$type": "LocalEntity", "name": "Customer",
         "attributes": [{"name": "customerId", "dataType": "guid"},
                        {"name": "email", "dataType": "string"}]},
        {"$type": "LocalEntity", "name": "Order",
         "attributes": [{"name": "orderId", "dataType": "guid"},
                        {"name": "customerId", "dataType": "guid",
                         "attributeReference": {
                             "entityName": "Customer",
                             "attributeName": "customerId"}},
                        {"name": "total", "dataType": "decimal"}]},
    ],
    # model.json relationships come ONLY from attributeReference entries;
    # the reference ignores this top-level array in the model.json path
    # (cdm_parser.py:305-347) — SingleKeyRelationship endpoints are nested
    # objects its _parse_relationship never reads
    "relationships": [
        {"$type": "SingleKeyRelationship",
         "fromAttribute": {"entityName": "Order", "attributeName": "total"},
         "toAttribute": {"entityName": "Customer", "attributeName": "email"}}],
})

MANIFEST = json.dumps({
    "manifestName": "SimpleManifest",
    "jsonSchemaSemanticVersion": "1.0.0",
    "entities": [
        {"type": "LocalEntity", "entityName": "Person",
         "entityPath": "Person.cdm.json/Person"},
    ],
    "relationships": [
        {"name": "PersonHasContact",
         "fromEntity": "Contact.cdm.json/Contact",
         "fromEntityAttribute": "personId",
         "toEntity": "Person.cdm.json/Person",
         "toEntityAttribute": "personId"},
    ],
})


def convert(spark, payloads, flatten=True):
    docs = docs_from_payloads(spark, payloads)
    ents_df, rels_df = extract_cdm(docs)
    e, r, s = convert_cdm(ents_df, rels_df, flatten_inheritance=flatten)
    emap = {row["name"]: row.asDict(recursive=True) for row in e.collect()}
    return emap, r.collect(), s.collect()


def test_person_entity_types(spark):
    emap, _, _ = convert(spark, {"p": PERSON_SCHEMA})
    p = emap["Person"]
    types = {x["name"]: x["valueType"] for x in p["properties"]}
    # guid→String, semantic name→String, date→DateTime, boolean→Boolean,
    # money→Decimal (reference: docs/CDM_GUIDE.md:215-245 expectations)
    assert types == {"personId": "String", "fullName": "String",
                     "birthDate": "DateTime", "isActive": "Boolean",
                     "salary": "Decimal"}
    by_name = {x["name"]: x["id"] for x in p["properties"]}
    assert p["entity_id_parts"] == [by_name["personId"]]
    assert p["display_name_property_id"] == by_name["fullName"]
    assert len(p["id"]) == 13 and p["id"].isdigit()


def test_inheritance_flattened(spark):
    emap, _, _ = convert(spark, {"p": PERSON_SCHEMA, "e": EMPLOYEE_EXTENDS})
    emp = emap["Employee"]
    names = [x["name"] for x in emp["properties"]]
    # inherited first (minus overridden fullName), child attrs last with the
    # override at the child position
    assert names == ["personId", "birthDate", "isActive", "salary",
                     "employeeNumber", "fullName"]
    types = {x["name"]: x["valueType"] for x in emp["properties"]}
    assert types["fullName"] == "String"  # child override type
    assert emp["base_entity_type_id"] is None  # flattened → no base ref


def test_inheritance_flattened_three_levels(spark):
    emap, _, _ = convert(spark, {"p": PERSON_SCHEMA, "e": EMPLOYEE_EXTENDS,
                                 "m": MANAGER_EXTENDS})
    mgr = emap["Manager"]
    # grandparent attrs first, then the parent's, then the child's own;
    # each override sits at the position of the nearest definition
    assert [x["name"] for x in mgr["properties"]] == \
        ["personId", "birthDate", "isActive", "employeeNumber", "fullName",
         "level", "salary"]
    types = {x["name"]: x["valueType"] for x in mgr["properties"]}
    assert types["salary"] == "BigInt"  # Manager's override, not Decimal
    assert types["fullName"] == "String"
    assert mgr["base_entity_type_id"] is None
    # the deeper chain leaves the two-level result unchanged
    assert [x["name"] for x in emap["Employee"]["properties"]] == \
        ["personId", "birthDate", "isActive", "salary", "employeeNumber",
         "fullName"]


def test_inheritance_not_flattened(spark):
    emap, _, _ = convert(spark, {"p": PERSON_SCHEMA, "e": EMPLOYEE_EXTENDS},
                         flatten=False)
    emp = emap["Employee"]
    assert [x["name"] for x in emp["properties"]] == \
        ["employeeNumber", "fullName"]
    assert emp["base_entity_type_id"] == emap["Person"]["id"]


def test_model_json_entities_and_relationship(spark):
    emap, rels, _ = convert(spark, {"m": MODEL_JSON})
    assert set(emap) == {"Customer", "Order"}
    assert len(rels) == 1
    rel = rels[0]
    assert rel["name"] == "Order_to_Customer"  # generated name
    assert rel["source_entity_type_id"] == emap["Order"]["id"]
    assert rel["target_entity_type_id"] == emap["Customer"]["id"]


def test_manifest_relationship_endpoints(spark):
    emap, rels, _ = convert(spark, {"m": MANIFEST, "p": PERSON_SCHEMA})
    assert len(rels) == 1
    rel = rels[0]
    assert rel["name"] == "PersonHasContact"
    # Person resolves to the defined entity; Contact gets a placeholder id
    assert rel["target_entity_type_id"] == emap["Person"]["id"]
    assert rel["source_entity_type_id"] not in {e["id"] for e in emap.values()}


def test_entity_ref_attribute_dropped(spark):
    schema = json.dumps({
        "jsonSchemaSemanticVersion": "1.0.0",
        "definitions": [{
            "entityName": "Contact",
            "hasAttributes": [
                {"name": "contactId", "dataType": "string"},
                {"name": "person", "entity": {"entityName": "Person"}},
            ]}]})
    emap, _, _ = convert(spark, {"c": schema})
    assert [x["name"] for x in emap["Contact"]["properties"]] == ["contactId"]
