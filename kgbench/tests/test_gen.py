"""Generators are seeded; the expected-output derivation matches corpora
small enough to check by hand.  No Spark needed."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import queries  # noqa: E402

NS = "http://t.example/"
A, B, C = NS + "A", NS + "B", NS + "C"
P, D = NS + "p", NS + "d"


def _kg_docs(c):
    return [d.row() for d in c.docs]


def test_generators_are_deterministic_per_seed():
    assert _kg_docs(gen.kg_corpus(3, n_bulk=16)) == \
        _kg_docs(gen.kg_corpus(3, n_bulk=16))
    assert _kg_docs(gen.kg_corpus(3, n_bulk=16)) != \
        _kg_docs(gen.kg_corpus(4, n_bulk=16))
    assert gen.curate_corpus_rows(3, 200).rows == \
        gen.curate_corpus_rows(3, 200).rows
    assert gen.curate_corpus_rows(3, 200).rows != \
        gen.curate_corpus_rows(4, 200).rows
    q3, q3b, q4 = (gen.query_corpus(s, 80) for s in (3, 3, 4))
    assert [d.row() for d in q3.docs + q3.mention_docs] == \
        [d.row() for d in q3b.docs + q3b.mention_docs]
    assert q3.triples != q4.triples


def test_sizes_do_not_depend_on_the_seed():
    a, b = gen.kg_corpus(1, n_bulk=16), gen.kg_corpus(2, n_bulk=16)
    assert len(a.docs) == len(b.docs)
    assert len(a.triples) == len(b.triples)
    ca, cb = gen.curate_corpus_rows(1, 200), gen.curate_corpus_rows(2, 200)
    assert len(ca.rows) == len(cb.rows)


def test_fabric_id_twin_known_values():
    # sha256 prefix mod 10^12 plus 10^12, and the md5 property suffix
    assert gen.fabric_id(A) == "1310354007349"
    assert gen.fabric_id("cdm:Root") == "1049932971957"
    assert gen.property_id("1049932971957", "a0") == "10499329719573421"
    assert gen.fabric_id(f"{P}::{A}->{C}") == "1744868683455"


def _tiny_kg():
    t = [(A, gen.TYPE, gen.OWL + "Class", "iri"),
         (A, gen.TYPE, gen.OWL + "Class", "iri"),      # repeated
         (B, gen.TYPE, gen.OWL + "Class", "iri"),
         (C, gen.TYPE, gen.OWL + "Class", "iri"),
         (B, gen.SUBCLASS, A, "iri"), (C, gen.SUBCLASS, B, "iri"),
         (P, gen.TYPE, gen.OWL + "ObjectProperty", "iri"),
         (P, gen.DOMAIN, "_:u", "bnode"), (P, gen.RANGE, C, "iri"),
         ("_:u", gen.OWL + "unionOf", "_:l1", "bnode"),
         ("_:l1", gen.RDF + "first", A, "iri"),
         ("_:l1", gen.RDF + "rest", "_:l2", "bnode"),
         ("_:l2", gen.RDF + "first", B, "iri"),
         ("_:l2", gen.RDF + "rest", gen.RDF + "nil", "iri"),
         (D, gen.TYPE, gen.OWL + "DatatypeProperty", "iri"),
         (D, gen.DOMAIN, A, "iri"), (D, gen.RANGE, gen.XSD + "string", "iri")]
    dtdl = [{"@id": "dtmi:t:I0;1", "contents": []},
            {"@id": "dtmi:t:I1;1", "extends": "dtmi:t:I0;1",
             "contents": [{"@type": "Relationship", "name": "r",
                           "target": "dtmi:t:I0;1"}]}]
    cdm = [{"name": "Root", "extends": None, "attrs": ["a0"]},
           {"name": "Kid", "extends": "Root", "attrs": ["a1"]}]
    return gen.KgCorpus([], t, dtdl, cdm, [("Kid", "Root")])


def test_kg_expected_tiny_corpus():
    exp = gen.kg_expected(_tiny_kg())
    f = gen.fabric_id
    ents = exp["entities"]
    assert set(ents) == {f(A), f(B), f(C), f("t:I0"), f("t:I1"),
                         f("cdm:Root"), f("cdm:Kid")}
    assert ents[f(A)]["base"] is None
    assert ents[f(B)]["base"] == f(A)
    assert ents[f(C)]["base"] == f(B)
    assert ents[f(A)]["props"] == {f(D)}
    assert ents[f(B)]["props"] == set()
    assert ents[f("t:I1")]["base"] == f("t:I0")
    # CDM inheritance is flattened: the child carries the root's attribute
    assert ents[f("cdm:Kid")]["base"] is None
    assert ents[f("cdm:Kid")]["props"] == {
        gen.property_id(f("cdm:Kid"), "a0"), gen.property_id(f("cdm:Kid"), "a1")}
    assert exp["relationships"] == {
        f(f"{P}::{A}->{C}"), f(f"{P}::{B}->{C}"),
        gen.property_id(f("t:I1"), "rel_r"),
        f("cdmrel:Kid_to_Root|Kid->Root")}
    assert exp["triples"] == 16          # the repeated class triple once


def test_curate_expected_tiny_corpus():
    long_a = " ".join(f"a{i}" for i in range(30))
    long_b = " ".join(f"b{i}" for i in range(30))
    ev = " ".join(f"a{i}" for i in range(10, 14))     # a 4-gram of long_a
    rows = [{"doc_id": "d1", "text": long_a, "lang": "en"},
            {"doc_id": "d0", "text": long_b, "lang": "en"},
            {"doc_id": "d2", "text": long_b, "lang": "de"},   # exact copy
            {"doc_id": "d3", "text": "too short", "lang": "en"},
            {"doc_id": "d4", "text": "x y " * 20, "lang": "en"}]  # repetitive
    corpus = gen.CurateCorpus(rows, [{"doc_id": "e", "text": ev}], [],
                              {"rates": {}, "default_permille": 1000,
                               "budget": 20, "min_tok": 20, "rep_factor": 8,
                               "ngram": 4, "seed": ""})
    exp = gen.curate_expected(corpus)
    assert exp["funnel"] == {"n_in": 5, "n_quality": 3, "n_unique": 2,
                             "n_clean": 1, "n_sampled": 1}
    # d0 alone: 30 tokens from offset 0 with budget 20 -> shard 0
    assert exp["shards"] == {"d0": ("en", 30, 0)}
    assert exp["clusters"]["d2"] == "d0"
    assert exp["clusters"]["d1"] == "d1"
    assert exp["clusters"]["d3"] == "d3"


def test_shard_ids_rerank_after_oversized_documents():
    rows = [{"doc_id": f"d{i}", "text": " ".join(f"w{i}x{j}" for j in range(n)),
             "lang": "en"} for i, n in enumerate((25, 25, 50, 25))]
    corpus = gen.CurateCorpus(rows, [{"doc_id": "e", "text": "q r s t"}], [],
                              {"rates": {}, "default_permille": 1000,
                               "budget": 30, "min_tok": 20, "rep_factor": 8,
                               "ngram": 4, "seed": ""})
    # tokens before each doc: 0, 25, 50, 100 -> raw shards 0, 0, 1, 3
    # -> dense ranks 0, 0, 1, 2
    assert [v[2] for _k, v in sorted(gen.curate_expected(corpus)["shards"]
                                     .items())] == [0, 0, 1, 2]


def test_planted_duplicate_families_cluster():
    c = gen.curate_corpus_rows(5, 400)
    clusters = gen.curate_expected(c)["clusters"]
    for fam in c.groups:
        assert len({clusters[d] for d in fam}) == 1, fam


def test_linking_oracle_tiers():
    q = gen.query_corpus(1, 80)
    o = queries.Oracle(q, {})
    cls = sorted(q.classes)[0]
    name = cls.rsplit("/", 1)[1]
    doc = gen.Doc("m", [("text", f"zz {name} {name[:3]}{name[4:]}", None)])
    o.texts["m"] = [(0, doc.spans[0][1])]
    rows = o._linking(["m"])
    assert ("m", 0, name, gen.fabric_id(cls), "exact") in rows
    assert ("m", 0, f"{name[:3]}{name[4:]}", gen.fabric_id(cls),
            "fuzzy") in rows
