"""Stage B2: OWL class-expression resolution (J3) — iterative DataFrame loop.

Spark mapping of the reference ClassResolver
(reference: src/formats/rdf/class_resolver.py:44-209): resolve domain/range
nodes to concrete class URIs. Direct URIRef → itself; blank node →
owl:unionOf / owl:intersectionOf / owl:complementOf / owl:oneOf whose RDF
list (rdf:first / rdf:rest) is walked, cycle-safe, depth-capped at 10
(class_resolver.py:42).

Scale shape: the *expression subgraph* (triples whose predicate is one of
the six expression predicates) is tiny relative to the corpus — it is
filtered once, cached, and every round joins the (small, broadcast) frontier
against it. ≤10 rounds; per-round dropDuplicates + anti-join against the
visited set is the distributed cycle guard; localCheckpoint truncates
lineage (SURVEY §4 device 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import (OWL_COMPLEMENT_OF, OWL_INTERSECTION_OF, OWL_ONE_OF,
                OWL_UNION_OF, RDFS_DOMAIN, RDFS_RANGE, RDF_FIRST, RDF_NIL,
                RDF_REST)

_EXPR_PREDS = [OWL_UNION_OF, OWL_INTERSECTION_OF, OWL_COMPLEMENT_OF,
               OWL_ONE_OF, RDF_FIRST, RDF_REST]

MAX_DEPTH = 10  # reference ClassResolver.DEFAULT_MAX_DEPTH


def expression_subgraph(triples: DataFrame) -> DataFrame:
    """Materialized slice of the graph used by expression resolution.

    Tiny relative to the corpus (only the six expression predicates);
    localCheckpoint here so every resolver call and loop round joins against
    the materialized slice instead of re-scanning triples.
    """
    return (triples
            .where(F.col("pred").isin(_EXPR_PREDS))
            .select("subj", "pred", "obj", "obj_kind")
            .dropDuplicates(["subj", "pred", "obj"])
            .localCheckpoint(eager=False))


def resolve_class_targets(roots: DataFrame, expr: DataFrame,
                          max_depth: int = MAX_DEPTH) -> DataFrame:
    """roots(*keys, node) → (*keys, class_uri), order-insensitive.

    ``node`` values that are IRIs resolve to themselves; bnodes are expanded
    through the expression subgraph. Multiple roots resolve concurrently in
    one loop (all properties' domains/ranges at once — not per-property).
    Any column other than ``node`` is an opaque key carried through
    unchanged — callers can fuse several logical resolutions (data-property
    domains, object-property ranges, datatype unions) into ONE loop by
    tagging rows with a ``role`` column: one frontier, one driver action per
    round, instead of one loop per call site.

    Fast path: direct URIRef targets (the overwhelmingly common case) never
    enter the iterative loop — only bnode expression roots do.
    """
    keys = [c for c in roots.columns if c != "node"]
    # split BEFORE deduplicating: the frontier-count driver action below only
    # pays the (usually empty) bnode dedup shuffle; the direct-root dedup
    # lands lazily in whichever downstream job consumes the results
    direct = (roots.where(~F.col("node").startswith("_:"))
              .select(*keys, F.col("node").alias("class_uri"))
              .dropDuplicates())
    bnode_roots = roots.where(F.col("node").startswith("_:")) \
        .select(*keys, "node").dropDuplicates()

    # single tagged frontier ('n' = class-expression node, 'l' = RDF list
    # node): ONE expr join and ONE count per round, vs the old 2 joins +
    # 5 jobs per round. Under AQE, localCheckpoint(eager=False) itself
    # runs the shuffle and broadcast stages of its input as jobs of their
    # own; the count runs only the final stage, which fills the checkpoint.
    frontier = (bnode_roots
                .select(*keys, F.lit("n").alias("tag"), "node")
                .localCheckpoint(eager=False))
    n_frontier = frontier.count()
    if n_frontier == 0:
        return direct

    # visited is a plain union of checkpointed frontiers: left_anti needs
    # no dedup, and each constituent is already materialized
    visited = frontier
    results_parts = [direct]

    def expand(frontier: DataFrame) -> DataFrame:
        """One expansion step: frontier → next frontier (lazy)."""
        expandable = frontier.where(
            (F.col("tag") == "l") | F.col("node").startswith("_:"))
        joined = expandable.join(F.broadcast(expr).hint("broadcast"),
                                 expandable.node == expr.subj)
        # routing: node --union/intersection/oneOf--> list head;
        #          node --complementOf--> node;
        #          list --first--> node;  list --rest (≠nil)--> list
        is_head = (F.col("tag") == "n") & F.col("pred").isin(
            [OWL_UNION_OF, OWL_INTERSECTION_OF, OWL_ONE_OF])
        is_comp = (F.col("tag") == "n") & (F.col("pred") == OWL_COMPLEMENT_OF)
        is_first = (F.col("tag") == "l") & (F.col("pred") == RDF_FIRST)
        is_rest = ((F.col("tag") == "l") & (F.col("pred") == RDF_REST) &
                   (F.col("obj") != RDF_NIL))
        return (joined
                .where(is_head | is_comp | is_first | is_rest)
                .select(*keys,
                        F.when(is_comp | is_first, F.lit("n"))
                        .otherwise(F.lit("l")).alias("tag"),
                        F.col("obj").alias("node"))
                .dropDuplicates())

    # TWO expansion steps per count: the first step is not checkpointed
    # (lineage depth between checkpoints is bounded at 2 broadcast joins,
    # and its recompute cost is one schema-bounded broadcast join), only the
    # second is checkpointed + counted. A single convergence check covers
    # both steps — an empty first frontier just makes the second join a
    # no-op in the same round. Halves the round count (and the per-round
    # checkpoint and count) of the dominant list-walk chains
    # (rdf:first/rdf:rest alternation means real inputs need ~2 steps per
    # list element anyway).
    for _ in range((max_depth + 1) // 2):
        step1 = (expand(frontier)
                 .join(visited, keys + ["tag", "node"], "left_anti"))
        visited1 = visited.unionByName(step1)
        step2 = (expand(step1)
                 .join(visited1, keys + ["tag", "node"], "left_anti")
                 .localCheckpoint(eager=False))
        # harvest resolved IRIs from BOTH step frontiers
        for f in (step1, step2):
            results_parts.append(
                f.where((F.col("tag") == "n") &
                        ~F.col("node").startswith("_:"))
                .select(*keys, F.col("node").alias("class_uri")))
        n_frontier = step2.count()
        if n_frontier == 0:
            break
        visited = visited1.unionByName(step2)
        frontier = step2

    out = results_parts[0]
    for part in results_parts[1:]:
        out = out.unionByName(part)
    return out.dropDuplicates()


def resolve_graph_roots(triples: DataFrame, expr: DataFrame,
                        dp_bnode_ranges: DataFrame | None = None,
                        max_depth: int = MAX_DEPTH) -> DataFrame:
    """One fused resolution pass for the whole Stage-B pipeline.

    Resolves, in a SINGLE iterative loop (so one frontier-count driver
    action per round instead of four separate loops):

    - role 'dom': every rdfs:domain object in the corpus
    - role 'rng': every rdfs:range object
    - role 'dpr': the pinned-first blank-node range per data property
      (datatype-union roots), when ``dp_bnode_ranges(prop_uri, range_obj)``
      is given

    Roots are an over-approximation (all domain/range triples, not just the
    per-extractor property subsets) — consumers post-filter with left_semi
    joins against their property sets, which yields results identical to
    per-extractor resolution while paying the expression-walk once.

    → (role, root_key, class_uri), lazily checkpointed so the several
    downstream consumers read one materialization instead of re-deriving
    the union plan.
    """
    def _pred_roots(pred: str, role: str) -> DataFrame:
        return (triples.where(F.col("pred") == pred)
                .select(F.lit(role).alias("role"),
                        F.col("subj").alias("root_key"),
                        F.col("obj").alias("node")))

    roots = _pred_roots(RDFS_DOMAIN, "dom") \
        .unionByName(_pred_roots(RDFS_RANGE, "rng"))
    if dp_bnode_ranges is not None:
        roots = roots.unionByName(
            dp_bnode_ranges.select(F.lit("dpr").alias("role"),
                                   F.col("prop_uri").alias("root_key"),
                                   F.col("range_obj").alias("node")))
    resolved = resolve_class_targets(roots, expr, max_depth=max_depth)
    return resolved.localCheckpoint(eager=False)
