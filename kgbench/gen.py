"""Seeded input generators and the engine-independent expected outputs.

Every generator is a pure function of ``seed``: the same seed gives the
same documents, and the sizes (documents, spans, triples, planted
duplicates) are identical for every seed so that run-to-run spread
measures the engine, not the input.  Only names, choices and orderings
depend on the seed.

The expected outputs are derived from the generator's own model of what
it wrote (triples, interfaces, CDM entities, planted duplicates), using a
hashlib twin of the engine's sha256/md5 Fabric-id scheme.  Nothing here
imports the engine.
"""

from __future__ import annotations

import hashlib
import json
import random
from dataclasses import dataclass, field

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"
XSD = "http://www.w3.org/2001/XMLSchema#"
TYPE = RDF + "type"
SUBCLASS = RDFS + "subClassOf"
DOMAIN = RDFS + "domain"
RANGE = RDFS + "range"
LABEL = RDFS + "label"

_WORDS = (
    "alpha bravo cedar delta ember falcon garnet harbor iris juniper kestrel "
    "lumen maple nickel onyx pine quartz raven sierra tundra umber violet "
    "willow xenon yarrow zephyr amber basalt cobalt dune fjord glacier heron "
    "indigo jade karst lagoon meadow nimbus orchid prairie quill ridge "
    "summit thistle upland vale wren yucca zinc acorn birch canyon"
).split()

ID_PREFIX = 1_000_000_000_000


# ---------------------------------------------------------------------------
# Fabric-id twin (hashlib only)
# ---------------------------------------------------------------------------

def fabric_id(key: str) -> str:
    """13-digit id: 10^12 + first 8 bytes of sha256(key) mod 10^12."""
    digest = hashlib.sha256(key.encode("utf-8")).digest()
    return str(ID_PREFIX + int.from_bytes(digest[:8], "big") % 10**12)


def property_id(entity_id: str, name: str) -> str:
    """entity id + 4 digits from the first 8 hex digits of md5(name)."""
    suffix = int(hashlib.md5(name.encode("utf-8")).hexdigest()[:8], 16)
    return f"{entity_id}{suffix % 10_000:04d}"


def sample_bucket(key: str, seed: str = "") -> int:
    """0-999 sampling bucket from md5(seed + ':' + key)."""
    return int(hashlib.md5(f"{seed}:{key}".encode()).hexdigest()[:6], 16) % 1000


# ---------------------------------------------------------------------------
# Documents
# ---------------------------------------------------------------------------

@dataclass
class Doc:
    doc_id: str
    spans: list  # [(kind, text, media_ref)]

    def row(self) -> dict:
        return {"doc_id": self.doc_id,
                "spans": [{"kind": k, "text": t, "media_ref": m, "offset": i}
                          for i, (k, t, m) in enumerate(self.spans)]}


def _with_media(doc_id: str, texts: list[str]) -> list:
    """Interleave media spans around every text span: m t m t ... m."""
    spans = [("media", None, f"media://{doc_id}/0")]
    for t in texts:
        spans.append(("text", t, None))
        spans.append(("media", None, f"media://{doc_id}/{len(spans)}"))
    return spans


def write_parquet(docs: list[Doc], path: str) -> None:
    """Write the documents table (doc_id, spans) with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    span_t = pa.struct([("kind", pa.string()), ("text", pa.string()),
                        ("media_ref", pa.string()), ("offset", pa.int32())])
    rows = [d.row() for d in docs]
    table = pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.string()),
        "spans": pa.array([r["spans"] for r in rows], pa.list_(span_t)),
    })
    pq.write_table(table, path)


def read_parquet_rows(path: str, columns: list[str] | None = None) -> list:
    """An output table (a Spark parquet directory) as a list of dicts,
    read with pyarrow so checking costs the JVM nothing."""
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=columns).to_pylist()


def write_text_parquet(rows: list[dict], path: str) -> None:
    """Write a flat (doc_id, text, lang) table with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(rows[0].keys())
    pq.write_table(pa.table({c: [r[c] for r in rows] for c in cols}), path)


# ---------------------------------------------------------------------------
# RDF serializers over (s, p, o, kind) triples; kind in iri|lit|bnode
# ---------------------------------------------------------------------------

_TTL_PREFIXES = (
    f"@prefix rdf: <{RDF}> .\n@prefix rdfs: <{RDFS}> .\n"
    f"@prefix owl: <{OWL}> .\n@prefix xsd: <{XSD}> .\n")
_QNAMES = ((RDF, "rdf:"), (RDFS, "rdfs:"), (OWL, "owl:"), (XSD, "xsd:"))


def _ttl_term(term: str, kind: str) -> str:
    if kind == "bnode":
        return term
    if kind == "lit":
        return json.dumps(term)
    for ns, q in _QNAMES:
        if term.startswith(ns) and term[len(ns):].isalnum():
            return q + term[len(ns):]
    return f"<{term}>"


def to_turtle(triples: list[tuple]) -> str:
    """Subject-grouped Turtle (``;`` lists); ``a`` for rdf:type."""
    lines = [_TTL_PREFIXES]
    by_subj: dict[str, list] = {}
    for s, p, o, k in triples:
        by_subj.setdefault(s, []).append((p, o, k))
    for s, pos in by_subj.items():
        skind = "bnode" if s.startswith("_:") else "iri"
        body = " ;\n    ".join(
            ("a" if p == TYPE else _ttl_term(p, "iri")) + " " +
            _ttl_term(o, k) for p, o, k in pos)
        lines.append(f"{_ttl_term(s, skind)} {body} .")
    return "\n".join(lines) + "\n"


def to_jsonld(triples: list[tuple]) -> str:
    """Expanded-IRI JSON-LD ``@graph`` (IRI objects only)."""
    nodes: dict[str, dict] = {}
    for s, p, o, k in triples:
        if k != "iri" or s.startswith("_:"):
            raise ValueError("to_jsonld: IRI-only triples")
        node = nodes.setdefault(s, {"@id": s})
        if p == TYPE:
            node.setdefault("@type", []).append(o)
        else:
            node.setdefault(p, []).append({"@id": o})
    return json.dumps({"@graph": list(nodes.values())})


def to_rdfxml(triples: list[tuple]) -> str:
    """rdf:Description blocks; predicates in the rdf/rdfs/owl namespaces."""
    nodes: dict[str, list] = {}
    for s, p, o, k in triples:
        if k != "iri" or s.startswith("_:"):
            raise ValueError("to_rdfxml: IRI-only triples")
        nodes.setdefault(s, []).append((p, o))
    out = ['<?xml version="1.0"?>',
           f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:rdfs="{RDFS}" '
           f'xmlns:owl="{OWL}">']
    for s, pos in nodes.items():
        out.append(f'  <rdf:Description rdf:about="{s}">')
        for p, o in pos:
            q = next(q for ns, q in _QNAMES if p.startswith(ns))
            out.append(f'    <{q}{p.rsplit("#", 1)[1]} rdf:resource="{o}"/>')
        out.append("  </rdf:Description>")
    out.append("</rdf:RDF>")
    return "\n".join(out)


# ---------------------------------------------------------------------------
# KG corpus: bulk RDF share + deep hierarchies, OWL, DTDL, CDM
# ---------------------------------------------------------------------------

@dataclass
class KgCorpus:
    docs: list[Doc]
    triples: list[tuple]            # every asserted triple, with repeats
    dtdl: list[dict]                # interfaces as written
    cdm_entities: list[dict]        # {name, extends, attrs}
    cdm_rels: list[tuple]           # (from, to)


def _word(rng: random.Random) -> str:
    return rng.choice(_WORDS)


def kg_corpus(seed: int, n_bulk: int = 400, chain_depth: int = 24,
              dtdl_depth: int = 10, cdm_children: int = 4,
              owl_docs: int = 4) -> KgCorpus:
    """Mixed-format ontology corpus.

    - ``n_bulk`` RDF documents, 3/4 Turtle, 1/8 JSON-LD, 1/8 RDF/XML,
      each with media spans interleaved; three classes per document under
      a flat upper ontology whose fragment every Turtle document repeats.
    - a ``chain_depth``-deep rdfs:subClassOf chain spread over four
      documents, and ``owl_docs`` documents of OWL union / intersection /
      restriction class expressions.
    - DTDL interfaces with an ``extends`` chain ``dtdl_depth`` deep plus
      components and relationships.
    - CDM entity definitions, ``cdm_children`` of them extending one root
      entity, and a model.json with attribute references.  The engine
      raises on ``extendsEntity`` chains deeper than one level
      (``operators.cdm.convert_cdm``), so CDM inheritance stays one deep.
    """
    rng = random.Random(f"kg:{seed}")
    ns = f"http://bench.example/s{seed}/"
    docs: list[Doc] = []
    triples: list[tuple] = []

    def iri(*parts) -> str:
        return ns + "/".join(str(p) for p in parts)

    upper = [iri("upper", f"U{k}_{_word(rng)}") for k in range(8)]
    upper_frag = []
    for u in upper:
        upper_frag += [(u, TYPE, OWL + "Class", "iri"),
                       (u, LABEL, u.rsplit("/", 1)[1], "lit")]

    n_jsonld = n_xml = n_bulk // 8
    formats = (["ttl"] * (n_bulk - n_jsonld - n_xml) +
               ["jsonld"] * n_jsonld + ["xml"] * n_xml)
    rng.shuffle(formats)
    xsd_types = [XSD + t for t in ("string", "integer", "double", "boolean",
                                   "dateTime")]
    for i, fmt in enumerate(formats):
        body = []
        classes = [iri("b", f"{_word(rng).title()}{i}x{j}") for j in range(3)]
        for j, c in enumerate(classes):
            body += [(c, TYPE, OWL + "Class", "iri"),
                     (c, SUBCLASS, rng.choice(upper), "iri")]
            for m in range(2):
                p = iri("b", f"{_word(rng)}{i}x{j}d{m}")
                body += [(p, TYPE, OWL + "DatatypeProperty", "iri"),
                         (p, DOMAIN, c, "iri"),
                         (p, RANGE, rng.choice(xsd_types), "iri")]
            p = iri("b", f"{_word(rng)}{i}x{j}o")
            body += [(p, TYPE, OWL + "ObjectProperty", "iri"),
                     (p, DOMAIN, c, "iri"),
                     (p, RANGE, classes[(j + 1) % 3], "iri")]
        doc_id = f"kb{seed}_{i:05d}"
        if fmt == "ttl":
            doc_triples = upper_frag + body
            text = to_turtle(doc_triples)
        elif fmt == "jsonld":
            doc_triples = body
            text = to_jsonld(body)
        else:
            doc_triples = body
            text = to_rdfxml(body)
        triples += doc_triples
        docs.append(Doc(doc_id, _with_media(doc_id, [text])))

    # -- deep subClassOf chain, four documents --------------------------
    chain = [iri("deep", f"K{d:02d}_{_word(rng)}") for d in range(chain_depth + 1)]
    links = [(chain[0], SUBCLASS, upper[0], "iri")] + [
        (chain[d], SUBCLASS, chain[d - 1], "iri") for d in range(1, len(chain))]
    per = -(-len(links) // 4)
    for part in range(4):
        chunk = []
        for lk in links[part * per:(part + 1) * per]:
            chunk += [(lk[0], TYPE, OWL + "Class", "iri"), lk]
        doc_id = f"kd{seed}_chain{part}"
        triples += chunk
        docs.append(Doc(doc_id, _with_media(doc_id, [to_turtle(chunk)])))

    # -- OWL class expressions (bnodes are document-scoped) -------------
    for k in range(owl_docs):
        a, b, c, x = (iri("owl", f"{n}{k}{_word(rng).title()}") for n in "ABCX")
        leaf = chain[rng.randrange(len(chain))]
        po = iri("owl", f"link{k}{_word(rng).title()}")
        pd_ = iri("owl", f"tag{k}{_word(rng).title()}")
        pr = iri("owl", f"size{k}{_word(rng).title()}")
        t = [(a, TYPE, OWL + "Class", "iri"), (b, TYPE, OWL + "Class", "iri"),
             (c, TYPE, OWL + "Class", "iri"), (x, TYPE, OWL + "Class", "iri"),
             (a, SUBCLASS, leaf, "iri"),
             # object property: domain unionOf (A B), range C
             (po, TYPE, OWL + "ObjectProperty", "iri"),
             (po, DOMAIN, "_:u", "bnode"), (po, RANGE, c, "iri"),
             ("_:u", TYPE, OWL + "Class", "iri"),
             ("_:u", OWL + "unionOf", "_:l1", "bnode"),
             ("_:l1", RDF + "first", a, "iri"), ("_:l1", RDF + "rest", "_:l2", "bnode"),
             ("_:l2", RDF + "first", b, "iri"), ("_:l2", RDF + "rest", RDF + "nil", "iri"),
             # datatype property on the same union
             (pd_, TYPE, OWL + "DatatypeProperty", "iri"),
             (pd_, DOMAIN, "_:u", "bnode"), (pd_, RANGE, XSD + "string", "iri"),
             # X = intersectionOf (A C); X also carries a restriction parent
             (x, OWL + "intersectionOf", "_:i1", "bnode"),
             ("_:i1", RDF + "first", a, "iri"), ("_:i1", RDF + "rest", "_:i2", "bnode"),
             ("_:i2", RDF + "first", c, "iri"), ("_:i2", RDF + "rest", RDF + "nil", "iri"),
             (x, SUBCLASS, "_:r", "bnode"),
             ("_:r", TYPE, OWL + "Restriction", "iri"),
             ("_:r", OWL + "onProperty", pr, "iri"),
             ("_:r", OWL + "minCardinality", "1", "lit"),
             (pr, TYPE, OWL + "DatatypeProperty", "iri"),
             (pr, DOMAIN, x, "iri"), (pr, RANGE, XSD + "integer", "iri")]
        doc_id = f"kd{seed}_owl{k}"
        # bnode labels are qualified per document by the engine; keep the
        # model's copies distinct too
        t = [tuple(f"_:{doc_id}/{v[2:]}" if isinstance(v, str) and
                   v.startswith("_:") else v for v in tr[:3]) + (tr[3],)
             for tr in t]
        triples += t
        text = to_turtle(t).replace(f"_:{doc_id}/", "_:")
        docs.append(Doc(doc_id, _with_media(doc_id, [text])))

    # -- DTDL: extends chain + components + relationships ---------------
    dns = f"dtmi:bench:s{seed}"
    dtdl = []
    for d in range(dtdl_depth + 1):
        dtmi = f"{dns}:I{d:02d}{_word(rng)};1"
        contents = [{"@type": "Property", "name": f"p{d}a", "schema": "double"},
                    {"@type": "Telemetry", "name": f"t{d}", "schema": "double"}]
        if d:
            contents.append({"@type": "Relationship", "name": f"r{d}",
                             "target": dtdl[rng.randrange(d)]["@id"]})
        if d % 3 == 2:
            contents.append({"@type": "Component", "name": f"c{d}",
                             "schema": dtdl[0]["@id"]})
        iface = {"@context": "dtmi:dtdl:context;3", "@id": dtmi,
                 "@type": "Interface", "displayName": f"I{d}",
                 "contents": contents}
        if d:
            iface["extends"] = dtdl[d - 1]["@id"]
        dtdl.append(iface)
    per = -(-len(dtdl) // 3)
    for part in range(3):
        doc_id = f"kd{seed}_dtdl{part}"
        docs.append(Doc(doc_id, _with_media(
            doc_id, [json.dumps(i) for i in dtdl[part * per:(part + 1) * per]])))

    # -- CDM: extendsEntity children + model.json references ------------
    cdm_entities = []
    for d in range(cdm_children + 1):
        cdm_entities.append({
            "name": f"E{d:02d}{_word(rng).title()}S{seed}",
            "extends": cdm_entities[0]["name"] if d else None,
            "attrs": [f"a{d}_{m}" for m in range(2)]})
    definitions = [{"entityName": e["name"],
                    **({"extendsEntity": e["extends"]} if e["extends"] else {}),
                    "hasAttributes": [{"name": a, "dataType": "string"}
                                      for a in e["attrs"]]}
                   for e in cdm_entities]
    doc_id = f"kd{seed}_cdm0"
    docs.append(Doc(doc_id, _with_media(doc_id, [json.dumps(
        {"jsonSchemaSemanticVersion": "1.0.0", "definitions": definitions})])))
    m_names = [f"M{k}{_word(rng).title()}S{seed}" for k in range(4)]
    cdm_rels = []
    m_entities = []
    for k, name in enumerate(m_names):
        attrs = [{"name": f"{name}Id", "dataType": "guid"},
                 {"name": "note", "dataType": "string"}]
        if k:
            to = m_names[k - 1]
            attrs.append({"name": f"{to}Id", "dataType": "guid",
                          "attributeReference": {"entityName": to,
                                                 "attributeName": f"{to}Id"}})
            cdm_rels.append((name, to))
        m_entities.append({"$type": "LocalEntity", "name": name,
                           "attributes": attrs})
        # a referencing attribute is a foreign-key column: it stays a
        # property and also yields the relationship
        cdm_entities.append({"name": name, "extends": None,
                             "attrs": [a["name"] for a in attrs]})
    doc_id = f"kd{seed}_cdm1"
    docs.append(Doc(doc_id, _with_media(doc_id, [json.dumps(
        {"name": f"Model{seed}", "version": "1.0", "entities": m_entities})])))

    rng.shuffle(docs)
    return KgCorpus(docs, triples, dtdl, cdm_entities, cdm_rels)


def _list_members(spo: dict, head: str) -> list[str]:
    out = []
    while head and head != RDF + "nil":
        out += spo.get((head, RDF + "first"), [])
        rest = spo.get((head, RDF + "rest"), [])
        head = rest[0] if rest else None
    return out


def kg_expected(corpus: KgCorpus) -> dict:
    """Entity / relationship ids, parents and property ids the unified
    build must produce, derived from the generator's model."""
    uniq = set(corpus.triples)
    spo: dict = {}
    for s, p, o, _k in uniq:
        spo.setdefault((s, p), []).append(o)
    classes = {s for s, p, o, _k in uniq if not s.startswith("_:") and (
        (p == TYPE and o in (OWL + "Class", RDFS + "Class")) or p == SUBCLASS)}
    parents = {}
    for s, p, o, k in uniq:
        if p == SUBCLASS and k == "iri" and s in classes and o in classes:
            parents.setdefault(s, set()).add(o)

    def resolve(term: str) -> list[str]:
        if not term.startswith("_:"):
            return [term] if term in classes else []
        members = []
        for head in spo.get((term, OWL + "unionOf"), []):
            members += _list_members(spo, head)
        return [m for m in members if m in classes]

    ents = {}
    for c in classes:
        eid = fabric_id(c)
        ps = parents.get(c)
        ents[eid] = {"base": fabric_id(min(ps)) if ps else None,
                     "props": set()}
    rels = set()
    for s, p, o, _k in uniq:
        if p != TYPE:
            continue
        if o == OWL + "DatatypeProperty":
            for d in spo.get((s, DOMAIN), []):
                for c in resolve(d):
                    ents[fabric_id(c)]["props"].add(fabric_id(s))
        elif o == OWL + "ObjectProperty":
            for d in spo.get((s, DOMAIN), []):
                for r in spo.get((s, RANGE), []):
                    for dc in resolve(d):
                        for rc in resolve(r):
                            rels.add(fabric_id(f"{s}::{dc}->{rc}"))

    for iface in corpus.dtdl:
        eid = fabric_id(_clean_dtmi(iface["@id"]))
        base = iface.get("extends")
        ents[eid] = {"base": fabric_id(_clean_dtmi(base)) if base else None,
                     "props": None}
        for c in iface["contents"]:
            if c["@type"] == "Relationship":
                rels.add(property_id(eid, "rel_" + c["name"]))

    by_name = {e["name"]: e for e in corpus.cdm_entities}
    for e in corpus.cdm_entities:
        eid = fabric_id("cdm:" + e["name"])
        attrs, cur = set(), e
        while cur is not None:
            attrs |= set(cur["attrs"])
            cur = by_name.get(cur["extends"]) if cur["extends"] else None
        ents[eid] = {"base": None,
                     "props": {property_id(eid, a) for a in attrs}}
    for frm, to in corpus.cdm_rels:
        rels.add(fabric_id(f"cdmrel:{frm}_to_{to}|{frm}->{to}"))

    # preflight flags each intersectionOf subject and each restriction
    issues = {
        "complex_class_expression": len(
            {s for s, p, _o, _k in uniq if p == OWL + "intersectionOf"}),
        "property_restriction": len(
            {s for s, p, o, _k in uniq
             if p == TYPE and o == OWL + "Restriction"}),
    }
    return {"entities": ents, "relationships": rels, "issues": issues,
            "triples": len(uniq)}


def _clean_dtmi(dtmi: str) -> str:
    return dtmi[len("dtmi:"):].split(";", 1)[0] if dtmi.startswith("dtmi:") \
        else dtmi.split(";", 1)[0]


# ---------------------------------------------------------------------------
# Curation corpus: strata, exact / near duplicates, eval contamination
# ---------------------------------------------------------------------------

LANGS = ("en", "de", "fr", "es")


def _toks(text: str) -> list[str]:
    """The engine's tokenization: lower(trim(text)) split on whitespace."""
    return text.strip().lower().split()


def _ngrams(toks: list[str], n: int) -> set:
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


@dataclass
class CurateCorpus:
    rows: list[dict]                 # (doc_id, text, lang)
    eval_rows: list[dict]            # (doc_id, text)
    groups: list[list[str]]          # planted duplicate families (doc ids)
    params: dict = field(default_factory=dict)


def curate_corpus_rows(seed: int, n_base: int = 6000) -> CurateCorpus:
    """Text documents in four language strata.

    Per ``n_base`` clean documents (35-70 tokens) the corpus plants, in
    fixed shares: exact copies (1/10), near copies with one appended token
    (1/10), documents embedding an 8-token window of an eval document
    (1/20), too-short documents (1/20) and repetitive documents (1/20).
    Doc ids are assigned after a shuffle, so a family's keeper (its
    minimum id) is not always the original.
    """
    rng = random.Random(f"curate:{seed}")
    vocab = {lang: [f"{w}{lang}{k}" for k in range(40) for w in _WORDS[:50]]
             for lang in LANGS}
    eval_vocab = [f"ev{w}{k}" for k in range(20) for w in _WORDS[:50]]
    eval_rows = [{"doc_id": f"e{seed}_{k:03d}",
                  "text": " ".join(rng.choice(eval_vocab) for _ in range(40))}
                 for k in range(40)]

    def clean_text(lang: str) -> str:
        return " ".join(rng.choice(vocab[lang])
                        for _ in range(rng.randint(35, 70)))

    items = []  # (family index or None, lang, text)
    bases = []
    for i in range(n_base):
        lang = LANGS[i % len(LANGS)]
        text = clean_text(lang)
        bases.append((lang, text))
        items.append((i, lang, text))
    for i in rng.sample(range(n_base), n_base // 10):
        items.append((i, bases[i][0], bases[i][1]))
    for i in rng.sample(range(n_base), n_base // 10):
        lang, text = bases[i]
        items.append((i, lang, f"{text} {rng.choice(vocab[lang])}"))
    for k in range(n_base // 20):
        lang = LANGS[k % len(LANGS)]
        ev = eval_rows[rng.randrange(len(eval_rows))]["text"].split()
        start = rng.randrange(len(ev) - 8)
        words = clean_text(lang).split()
        cut = rng.randrange(len(words))
        items.append((None, lang, " ".join(
            words[:cut] + ev[start:start + 8] + words[cut:])))
    for k in range(n_base // 20):
        lang = LANGS[k % len(LANGS)]
        items.append((None, lang, " ".join(
            rng.choice(vocab[lang]) for _ in range(rng.randint(5, 15)))))
    for k in range(n_base // 20):
        lang = LANGS[k % len(LANGS)]
        unit = [f"rep{seed}x{k}", rng.choice(vocab[lang])]
        items.append((None, lang, " ".join(unit * 15)))
    rng.shuffle(items)
    rows, fam = [], {}
    for n, (f, lang, text) in enumerate(items):
        doc_id = f"t{seed}_{n:06d}"
        rows.append({"doc_id": doc_id, "text": text, "lang": lang})
        if f is not None:
            fam.setdefault(f, []).append(doc_id)
    groups = [g for g in fam.values() if len(g) > 1]
    params = {"rates": {"en": 700, "de": 500}, "default_permille": 1000,
              "budget": 2000, "min_tok": 20, "rep_factor": 8, "ngram": 4,
              "seed": f"s{seed}"}
    return CurateCorpus(rows, eval_rows, groups, params)


def curate_expected(corpus: CurateCorpus) -> dict:
    """Funnel counts and shard assignments of ``curate_corpus``, plus the
    ``dedup_pipeline`` cluster of every document."""
    p = corpus.params
    quality = []
    for r in corpus.rows:
        toks = _toks(r["text"])
        top = max((toks.count(t) for t in set(toks)), default=0)
        if len(toks) >= p["min_tok"] and top * p["rep_factor"] <= len(toks):
            quality.append(r)
    keeper = {}
    for r in quality:
        h = r["text"]
        if h not in keeper or r["doc_id"] < keeper[h]["doc_id"]:
            keeper[h] = r
    unique = list(keeper.values())
    ev = set()
    for e in corpus.eval_rows:
        ev |= _ngrams(_toks(e["text"]), p["ngram"])
    clean = [r for r in unique if not (_ngrams(_toks(r["text"]), p["ngram"]) & ev)]
    sampled = [r for r in clean
               if sample_bucket(r["doc_id"], p["seed"]) <
               p["rates"].get(r["lang"], p["default_permille"])]
    shards = {}
    for lang in LANGS:
        docs = sorted((r for r in sampled if r["lang"] == lang),
                      key=lambda r: r["doc_id"])
        cum, raw = 0, []
        for r in docs:
            n_tok = len(_toks(r["text"]))
            raw.append((r["doc_id"], n_tok, cum // p["budget"]))
            cum += n_tok
        rank = {v: i for i, v in enumerate(sorted({x[2] for x in raw}))}
        for doc_id, n_tok, rs in raw:
            shards[doc_id] = (lang, n_tok, rank[rs])

    return {"funnel": {"n_in": len(corpus.rows), "n_quality": len(quality),
                       "n_unique": len(unique), "n_clean": len(clean),
                       "n_sampled": len(sampled)},
            "shards": shards, "clusters": dedup_clusters(corpus.rows)}


def minhash_bands(toks: list[str], n_hash: int = 8, n_bands: int = 4,
                  n: int = 3) -> list[str]:
    """Band signatures of one document: per permutation s the minimum of
    md5(f"{s}|{shingle}") over its token 3-gram shingles (the whole text
    when shorter), two permutations per band, joined in sorted order."""
    sh = _ngrams(toks, n)
    mins = [min(hashlib.md5(f"{k}|{x}".encode()).hexdigest() for x in sh)
            for k in range(n_hash)]
    rows = n_hash // n_bands
    return [f"{b}:" + "|".join(sorted(mins[b * rows:(b + 1) * rows]))
            for b in range(n_bands)]


def dedup_clusters(rows: list[dict]) -> dict[str, str]:
    """Cluster id (smallest member doc id) of every document under exact
    dedup then MinHash-LSH candidate pairs: documents with identical text
    collapse to their smallest id, and keepers sharing any band signature
    join one cluster, transitively."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    def union(a, b):
        a, b = find(a), find(b)
        if a != b:
            parent[max(a, b)] = min(a, b)

    keeper: dict[str, str] = {}
    for r in rows:
        k = keeper.setdefault(r["text"], r["doc_id"])
        union(k, r["doc_id"])
    buckets: dict[str, str] = {}
    for text, doc in keeper.items():
        doc = find(doc)
        for sig in minhash_bands(_toks(text)):
            if sig in buckets:
                union(buckets[sig], doc)
            else:
                buckets[sig] = doc
    return {r["doc_id"]: find(r["doc_id"]) for r in rows}


# ---------------------------------------------------------------------------
# Query corpus: class hierarchy + instance data + linking prose
# ---------------------------------------------------------------------------

@dataclass
class QueryCorpus:
    docs: list[Doc]                  # the RDF documents (one graph)
    mention_docs: list[Doc]          # prose documents for entity linking
    triples: set                     # distinct (s, p, o, kind)
    ns: str
    classes: dict                    # class iri -> label
    parents: dict                    # class iri -> parent iri (None at top)
    entailed: set                    # what RDFS adds: rdfs9 type lifting


def query_corpus(seed: int, n_inst: int = 1200) -> QueryCorpus:
    """Instances of a three-level class tree with labels, ages, e-mails
    (on about half), ``knows`` chains of eight and ``memberOf`` links;
    some instances carry planted SHACL violations (no label, two ages, a
    string age).  Prose documents mention class labels, a few misspelled.
    """
    rng = random.Random(f"query:{seed}")
    ns = f"http://bench.example/q{seed}/"
    words = rng.sample(_WORDS, 16)
    classes, parents = {}, {}
    tops = [ns + f"{words[k].title()}Group" for k in range(4)]
    for k, t in enumerate(tops):
        classes[t], parents[t] = f"{words[k].title()} Group", None
        for m in range(3):
            w = words[4 + 3 * k + m].title()
            c = ns + f"{w}Kind{m}"
            classes[c] = f"{w} Kind {m}"
            parents[c] = t
    leaves = [c for c, p in parents.items() if p is not None]
    trip = set()
    for c, label in classes.items():
        trip.add((c, TYPE, OWL + "Class", "iri"))
        trip.add((c, LABEL, label, "lit"))
        if parents[c]:
            trip.add((c, SUBCLASS, parents[c], "iri"))
    knows, member = ns + "knows", ns + "memberOf"
    age, email = ns + "age", ns + "email"
    inst = [ns + f"e{n:05d}" for n in range(n_inst)]
    per_doc = 40
    doc_triples: list[list] = [[] for _ in range(-(-n_inst // per_doc))]
    for n, x in enumerate(inst):
        t = doc_triples[n // per_doc]
        t.append((x, TYPE, leaves[rng.randrange(len(leaves))], "iri"))
        if n % 97 != 5:
            t.append((x, LABEL, f"entity {n}", "lit"))
        t.append((x, age, str(18 + rng.randrange(60)), "int"))
        if n % 89 == 7:
            t.append((x, age, str(90 + n % 7), "int"))
        if n % 83 == 11:
            t.append((x, age, "unknown", "lit"))
        if rng.random() < 0.5:
            t.append((x, email, f"e{n}@example.org", "lit"))
        if n % 8 != 7:
            t.append((x, knows, inst[n + 1], "iri"))
        t.append((x, member, tops[n % len(tops)], "iri"))
    docs = []
    for k, t in enumerate(doc_triples):
        doc_id = f"q{seed}_{k:04d}"
        trip.update(t)
        docs.append(Doc(doc_id, _with_media(doc_id, [_ttl_instances(t)])))
    doc_id = f"q{seed}_schema"
    schema = [tr for tr in sorted(trip) if tr[0] in classes]
    docs.append(Doc(doc_id, _with_media(doc_id, [to_turtle(schema)])))

    filler = [f"{w}zq" for w in _WORDS[20:]]
    mention_docs = []
    for k in range(60):
        sent = []
        for _ in range(4):
            c = rng.choice(list(classes))
            name = c.rsplit("/", 1)[1]
            if rng.random() < 0.25:
                cut = rng.randrange(1, len(name) - 1)
                name = name[:cut] + name[cut + 1:]
            sent += [rng.choice(filler) for _ in range(3)] + [name]
        doc_id = f"m{seed}_{k:03d}"
        mention_docs.append(Doc(doc_id, _with_media(doc_id, [" ".join(sent)])))
    entailed = {(s, TYPE, parents[o], "iri") for s, p, o, _k in trip
                if p == TYPE and parents.get(o)}
    return QueryCorpus(docs, mention_docs, trip, ns, classes, parents,
                       entailed - trip)


def _ttl_instances(triples: list[tuple]) -> str:
    out = [_TTL_PREFIXES]
    for s, p, o, k in triples:
        obj = (f'"{o}"^^xsd:integer' if k == "int" else
               json.dumps(o) if k == "lit" else f"<{o}>")
        out.append(f"<{s}> {'a' if p == TYPE else f'<{p}>'} {obj} .")
    return "\n".join(out) + "\n"
