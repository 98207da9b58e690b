"""query_curate operations and their answers computed without the engine.

Each operation is a SPARQL text run through ``operators.sparql``, a
SHACL ``validate_shapes`` call, an entity-linking batch
(``extract_mentions`` then ``link_mentions`` against the engine's class
table), the ``curate_corpus`` funnel, or ``dedup_pipeline``.
:class:`Oracle` answers the same questions directly from the generator's
model: the graph questions from its triple set plus the RDFS type
lifting, linking by re-stating the operator's documented tiers (exact
normalized label, then blocked char-trigram Jaccard >= 0.5 with ties to
the smallest entity id), and curation from ``gen.curate_expected``.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from dataclasses import dataclass

import gen

RDFS_PFX = f"PREFIX rdfs: <{gen.RDFS}>\n"
XSD_INT = gen.XSD + "integer"


def _rows(df, cols) -> list[tuple]:
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@dataclass
class Op:
    kind: str       # operation name, e.g. 'path_plus'
    layer: str      # sparql, shacl, linking, curate or dedup
    arg: object     # query text, shape list, or mention-doc ids
    cols: tuple = ()
    key: object = None   # what the oracle needs

    def execute(self, wl):
        if self.layer == "sparql":
            from rdf_dtdl_fabric_ontology_converter_spark.operators.sparql import \
                sparql_query
            return _rows(sparql_query(wl.triples, self.arg), self.cols)
        if self.layer == "shacl":
            from rdf_dtdl_fabric_ontology_converter_spark.operators.shacl import \
                validate_shapes
            return _rows(validate_shapes(wl.triples, self.arg),
                         ("focus", "path", "constraint"))
        if self.layer in ("curate", "dedup"):
            return self._curation(wl)
        from pyspark.sql import functions as F

        from rdf_dtdl_fabric_ontology_converter_spark.operators.linking import (
            extract_mentions, link_mentions)
        batch = wl.mention_docs.where(F.col("doc_id").isin(list(self.arg)))
        linked = link_mentions(extract_mentions(batch), wl.entity_types)
        rows = _rows(linked, ("doc_id", "span_idx", "mention", "entity_id",
                              "match_kind"))
        self.n_mentions = len(wl.oracle.mentions(self.arg))
        return rows

    def _curation(self, wl):
        """curate_job.py's calls (read, curate, write assignments, collect
        the funnel), or dedup_pipeline with its cluster table written."""
        spark = wl.spark
        docs = spark.read.parquet(wl.text_path)
        out = os.path.join(wl.work, f"{self.kind}_out")
        if self.layer == "curate":
            from rdf_dtdl_fabric_ontology_converter_spark.operators.curate import \
                curate_corpus
            assignments, funnel = curate_corpus(
                docs, spark.read.parquet(wl.eval_path), **wl.curate_params)
            assignments.write.mode("overwrite").parquet(out)
            return {"funnel": funnel.collect()[0].asDict(), "out": out}
        from rdf_dtdl_fabric_ontology_converter_spark.operators.dedup import \
            dedup_pipeline
        clusters, stats = dedup_pipeline(docs)
        clusters.write.mode("overwrite").parquet(out)
        return {"stats": stats.collect()[0].asDict(), "out": out}

    def check(self, oracle, got) -> list[str]:
        if self.layer in ("curate", "dedup"):
            return oracle.check_curation(self, got)
        want = oracle.answer(self)
        if got == want:
            return []
        extra = Counter(got) - Counter(want)
        missing = Counter(want) - Counter(got)
        return [f"{self.kind}: {sum(missing.values())} rows missing, "
                f"{sum(extra.values())} unexpected "
                f"(e.g. {(list(missing) or list(extra))[:1]})"]


def make_round(corpus: gen.QueryCorpus, rng) -> list[Op]:
    """Every operation kind once, parameters drawn from ``rng``."""
    ns = corpus.ns
    leaves = sorted(c for c, p in corpus.parents.items() if p)
    insts = sorted({s for s, p, _o, _k in corpus.triples
                    if p == gen.TYPE and s.startswith(ns + "e")})
    knows, member, email = ns + "knows", ns + "memberOf", ns + "email"
    c1, c2 = rng.sample(leaves, 2)
    x = rng.choice(insts)
    sel = lambda vs, body: f"SELECT {' '.join('?' + v for v in vs)} WHERE {{ {body} }}"  # noqa: E731
    ops = [
        Op("bgp", "sparql", RDFS_PFX + sel(
            ["x", "l"], f"?x a <{c1}> . ?x rdfs:label ?l"), ("x", "l"), c1),
        Op("path_plus", "sparql", sel(["y"], f"<{x}> <{knows}>+ ?y"),
           ("y",), x),
        Op("alt_inverse", "sparql",
           sel(["y"], f"<{x}> (^<{knows}>|<{member}>) ?y"), ("y",), x),
        Op("optional", "sparql", sel(
            ["x", "e"], f"?x a <{c1}> OPTIONAL {{ ?x <{email}> ?e }}"),
           ("x", "e"), c1),
        Op("union", "sparql", sel(
            ["x"], f"{{ ?x a <{c1}> }} UNION {{ ?x a <{c2}> }}"),
           ("x",), (c1, c2)),
        Op("minus", "sparql", sel(
            ["x"], f"?x a <{c2}> MINUS {{ ?x <{email}> ?e }}"), ("x",), c2),
        Op("aggregate", "sparql",
           "SELECT ?c (COUNT(?x) AS ?n) WHERE { ?x a ?c } GROUP BY ?c",
           ("c", "n"), None),
        Op("construct", "sparql",
           f"CONSTRUCT {{ ?y <{ns}knownBy> ?x }} WHERE "
           f"{{ ?x <{knows}> ?y . ?x a <{c2}> }}",
           ("subj", "pred", "obj"), c2),
        Op("describe", "sparql", f"DESCRIBE <{x}>",
           ("subj", "pred", "obj"), x),
        Op("shacl", "shacl", [
            {"shape_id": "Instance", "target_subjects_of": ns + "age",
             "properties": [
                 {"path": gen.LABEL, "min_count": 1},
                 {"path": ns + "age", "max_count": 1,
                  "datatype": XSD_INT}]},
            {"shape_id": "Leaf", "target_class": c1,
             "properties": [{"path": email, "min_count": 1}]}], (), c1),
        Op("linking", "linking", tuple(sorted(rng.sample(
            [d.doc_id for d in corpus.mention_docs], 12))), (), None),
        Op("curate", "curate", None),
        Op("dedup", "dedup", None),
    ]
    return ops


def _norm(s: str) -> str:
    return re.sub(r"[^a-z0-9]+", " ", s.strip(" ").lower())


def _grams(s: str) -> set:
    s = f"  {s} "
    return {s[i:i + 3] for i in range(len(s) - 2)} if len(s) >= 3 else {s}


def _jaccard(a: str, b: str) -> float:
    ga, gb = _grams(a or ""), _grams(b or "")
    inter = len(ga & gb)
    return inter / (len(ga) + len(gb) - inter) if inter else 0.0


def _block(s: str) -> str:
    return s[:1] + str(len(s) // 4)


class Oracle:
    """Answers from the generator's model of the graph."""

    def __init__(self, corpus: gen.QueryCorpus, curation: dict):
        self.c = corpus
        self.curation = curation
        self.graph = corpus.triples | corpus.entailed
        self.by_sp: dict = {}
        self.by_po: dict = {}
        self.by_s: dict = {}
        for s, p, o, k in self.graph:
            self.by_s.setdefault(s, []).append((p, o, k))
            self.by_sp.setdefault((s, p), []).append(o)
            self.by_po.setdefault((p, o), []).append(s)
        self.ns = corpus.ns
        self.texts = {d.doc_id: [(i, t) for i, (kind, t, _m)
                                 in enumerate(d.spans) if kind == "text"]
                      for d in corpus.mention_docs}

    def _typed(self, c):
        return self.by_po.get((gen.TYPE, c), [])

    def _reach(self, x, p):
        seen, todo = set(), list(self.by_sp.get((x, p), []))
        while todo:
            n = todo.pop()
            if n not in seen:
                seen.add(n)
                todo += self.by_sp.get((n, p), [])
        return seen

    def answer(self, op: Op) -> list[tuple]:
        ns, k = self.ns, op.key
        knows, email = ns + "knows", ns + "email"
        if op.kind == "bgp":
            return sorted((x, lab) for x in self._typed(k)
                          for lab in self.by_sp.get((x, gen.LABEL), []))
        if op.kind == "path_plus":
            return sorted((y,) for y in self._reach(k, knows))
        if op.kind == "path_star":
            return sorted((y,) for y in self._reach(k, knows) | {k})
        if op.kind == "alt_inverse":
            return sorted([(y,) for y in self.by_po.get((knows, k), [])] +
                          [(y,) for y in self.by_sp.get((k, ns + "memberOf"),
                                                        [])])
        if op.kind == "optional":
            return sorted((x, e) for x in self._typed(k)
                          for e in (self.by_sp.get((x, email)) or [None]))
        if op.kind == "union":
            return sorted((x,) for c in k for x in self._typed(c))
        if op.kind == "minus":
            return sorted((x,) for x in self._typed(k)
                          if not self.by_sp.get((x, email)))
        if op.kind == "aggregate":
            n = Counter(o for s, p, o, _k in self.graph if p == gen.TYPE)
            return sorted(n.items())
        if op.kind == "construct":
            return sorted({(y, ns + "knownBy", x) for x in self._typed(k)
                           for y in self.by_sp.get((x, knows), [])})
        if op.kind == "describe":
            return sorted((p_s, p, o) for p_s, p, o, _k in self.graph
                          if p_s == k)
        if op.kind == "shacl":
            return self._shacl(k)
        return self._linking(op.arg)

    def _shacl(self, leaf) -> list[tuple]:
        """sh:minCount / sh:maxCount / sh:datatype; a plain literal is
        xsd:string, so the string ages violate the integer datatype."""
        ns, age = self.ns, self.ns + "age"
        out = []
        for x in sorted(self.by_po_pred(age)):
            if not self.by_sp.get((x, gen.LABEL)):
                out.append((x, gen.LABEL, "minCount:1"))
            ages = [k for p, _o, k in self.by_s[x] if p == age]
            if len(ages) > 1:
                out.append((x, age, "maxCount:1"))
            out += [(x, age, f"datatype:{XSD_INT}") for k in ages
                    if k != "int"]
        for x in self._typed(leaf):
            if not self.by_sp.get((x, ns + "email")):
                out.append((x, ns + "email", "minCount:1"))
        return sorted(out)

    def by_po_pred(self, p) -> set:
        return {s for (s, p2) in self.by_sp if p2 == p}

    def check_curation(self, op: Op, got: dict) -> list[str]:
        rows = gen.read_parquet_rows(got["out"])
        exp = self.curation
        if op.layer == "curate":
            errs = [] if got["funnel"] == exp["funnel"] else [
                f"curate funnel {got['funnel']} != {exp['funnel']}"]
            have = {r["doc_id"]: (r["lang"], r["n_tok"], r["shard_id"])
                    for r in rows}
            bad = [d for d in set(have) | set(exp["shards"])
                   if have.get(d) != exp["shards"].get(d)]
            return errs + ([f"curate shards: {len(bad)} docs differ"]
                           if bad else [])
        have = {r["doc_id"]: r["cluster_id"] for r in rows}
        bad = sorted(d for d in set(have) | set(exp["clusters"])
                     if have.get(d) != exp["clusters"].get(d))
        return [f"dedup clusters: {len(bad)} docs differ, e.g. {bad[:3]}"] \
            if bad else []

    def mentions(self, doc_ids) -> set:
        out = set()
        for d in doc_ids:
            for idx, text in self.texts[d]:
                toks = text.strip(" ").split()
                for n in (1, 2, 3):
                    for i in range(max(len(toks) - n, 0) + 1):
                        if len(toks) >= n:
                            m = " ".join(toks[i:i + n])
                            if len(m) >= 3:
                                out.add((d, idx, m))
        return out

    def _dictionary(self) -> list[tuple]:
        if not hasattr(self, "_dic"):
            dic = set()
            for c in self.c.classes:
                name = c.rsplit("/", 1)[1]
                dic.add((gen.fabric_id(c), _norm(name)))
            self._dic = sorted(d for d in dic if d[1] != "")
        return self._dic

    def _linking(self, doc_ids) -> list[tuple]:
        dic = self._dictionary()
        by_label: dict = {}
        for eid, lab in dic:
            by_label.setdefault(lab, []).append(eid)
        rows, unlinked = [], []
        for d, idx, m in self.mentions(doc_ids):
            nm = _norm(m)
            hits = by_label.get(nm)
            if hits:
                rows += [(d, idx, m, eid, "exact") for eid in hits]
            else:
                unlinked.append((d, idx, m, nm))
        winners = {}
        for nm in {u[3] for u in unlinked}:
            cands = [(-_jaccard(nm, lab), eid) for eid, lab in dic
                     if _block(lab) == _block(nm)]
            cands = [c for c in cands if -c[0] >= 0.5]
            if cands:
                winners[nm] = min(cands)[1]
        rows += [(d, idx, m, winners[nm], "fuzzy")
                 for d, idx, m, nm in unlinked if nm in winners]
        return sorted(rows)
