"""Regenerate SHUFFLES.md — a per-operator physical-plan accounting table.

For every registered batch operator, build the plan at the oracle tier and
count the scale-relevant node types:

* ``Exchange hashpartitioning/rangepartitioning`` — real shuffles (the
  100 TB cost centers)
* ``BroadcastExchange`` — dimension/cutpoint broadcasts (cheap by design)
* Python boundary nodes (``BatchEvalPython`` / ``ArrowEvalPython`` /
  ``FlatMapGroupsInPandas`` / ``MapInPandas``) — rows that intentionally
  cross into Arrow-batched Python
* ``CartesianProduct`` — must stay zero everywhere

Usage: ``python tools/shuffle_audit.py``  (≈2 min on local[32])
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Bounded-grain justifications for every op at >=10 deduped exchanges
# (r6 verdict task #4: each such row must either drop or carry one).
# Counts are the static plan's exchanges — cached-stage builds count once,
# and an uncached subtree counts once per reference even where AQE reuses
# its exchange at runtime; none of these re-runs a corpus-sized stage per
# reference.
_NOTES = {
    "llm_curation_funnel": "r13 collapse: text attrs on one rep per "
    "(text,source) group; uncached stage frames repeat per reference, AQE "
    "reuses those exchanges at runtime (sf0.01: 17 shuffle stages, 8 "
    "reused); only the md5(text) group-by is corpus-sized",
    "llm_data_scaling_curve": "r13 collapse: rep tokenize + (group,cut) "
    "multiplicity join; exchanges are group/vocab-grain model aggs, and the "
    "uncached count frame repeats per reference, AQE reuses those "
    "exchanges at runtime (sf0.01: 17 shuffle stages, 6 reused)",
    "llm_ngram_novelty": "r13 collapse: shingles of one rep per text; the "
    "uncached group/rep-shingle frames repeat per reference, AQE reuses "
    "those exchanges at runtime (sf0.01: 9 shuffle stages, 5 reused)",
    "llm_semdedup_sqrtn": "cached collapse + assignment stages; exchanges "
    "are the distinct cluster-grain aggs and LSH-bounded verify joins",
    "llm_containment_banded": "uncached: one query over banding's frames "
    "(_minhash_frames), so the initial plan repeats the reps/shingle "
    "subtree per reference as banding's does; AQE reuses those exchanges "
    "at runtime (sf0.01: 5 shuffle stages run, 3 reused)",
    "llm_idf_weighted_jaccard": "uncached shingle/idf/wsum frames repeat "
    "per reference in the static plan; AQE reuses those exchanges at "
    "runtime (sf0.01: 9 shuffle stages run, 4 reused); pair stage is "
    "source-blocked",
    "llm_containment_dedup": "uncached shingle frame read 3x (sizes, both "
    "pair sides); AQE reuses the repeated exchanges at runtime (sf0.01: 5 "
    "shuffle stages run, 1 reused); pair join is source-blocked",
    "llm_chunk_overlap_dedup_capped": "uncached chunk frame repeats under "
    "freq, kept, dropped and both pair sides; AQE reuses those exchanges "
    "at runtime (sf0.01: 5 shuffle stages run, 4 reused)",
    "llm_template_boilerplate_detect": "uncached group and rep-shingle "
    "frames read twice each; exchanges are the md5(text) group-by and "
    "rep-grain stagelets (sf0.01: 10 shuffle stages run, 0 reused)",
    "ml_naive_bayes_langid": "cached token stage; exchanges are the "
    "model-building aggs (lang x vocab grain) + one doc-grain scoring agg",
    "agg_market_basket_lift": "one uncached query: order-grain brand "
    "sets, pairs from two posexplode generators (<=7 items/order), then a "
    "window over the <=1+B(B+1)/2-row brand-pair grain",
    "ts_hurst_rs": "oracle text: the events day rollup repeats per CTE "
    "reference in the static plan, AQE runs its exchange once and reuses "
    "it; every downstream stage runs on <=31 rows",
    "graph_common_neighbors": "uncached symmetric edge frame (_graph) read "
    "once into per-vertex neighbor sets, read 3x; AQE reuses their "
    "exchanges at runtime (sf0.1: 4 exchanges run, 3 reused); wedge pairs "
    "are degree^2-bounded",
    "graph_assortativity": "uncached symmetric edge frame (_graph) read 3x; "
    "AQE reuses its exchanges at runtime (sf0.1: 4 exchanges run, 4 reused)",
    "graph_clustering_coefficient": "uncached canonical edge frame (_graph) "
    "read 5x; AQE reuses its exchanges at runtime (sf0.1: 3 exchanges run, "
    "1 reused)",
    "graph_jaccard_link_prediction": "uncached edge frames (_graph) read 5x; "
    "AQE reuses their exchanges at runtime (sf0.1: 4 exchanges run, 7 "
    "reused); wedge join is degree^2-bounded",
    "llm_minhash_jaccard_estimate": "uncached: banding's frames plus two "
    "signature joins; the initial plan repeats the reps/shingle/signature "
    "subtrees per reference, AQE reuses those exchanges at runtime "
    "(sf0.01: 6 shuffle stages run, 5 reused); joins are "
    "LSH-candidate-bounded",
    "graph_two_hop_reach": "uncached symmetric edge frame (_graph) read "
    "once into per-vertex neighbor sets and self-joined; AQE reuses their "
    "exchanges at runtime (sf0.1: 3 exchanges run, 2 reused); live stages "
    "are on the vertex grain",
    "llm_minhash_banding": "uncached: the initial plan repeats the "
    "reps/shingle subtree per reference (candidate build, both verify "
    "sides); AQE reuses those exchanges at runtime (sf0.01: 5 shuffle "
    "stages run, 3 reused)",
    "llm_lsh_tuning_curve": "composes the uncached banding pipeline (see "
    "its row); the curve itself is 6-row arithmetic on the pair set",
    "llm_dup_partner_degree_dist": "composes the uncached banding pipeline "
    "once per pair endpoint; AQE reuses the repeated exchanges (sf0.01: 9 "
    "shuffle stages run, 4 reused); degree stage is one union + histogram "
    "agg on the pair set",
    "llm_shingle_size_sensitivity": "three shingle-size arms over the "
    "collapsed reps; each arm's uncached shingle and count frames repeat "
    "per reference, AQE reuses them at runtime (sf0.01: 15 shuffle stages "
    "run, 3 reused)",
    "llm_tfidf_cosine_pairs": "cached tf/weight stages; exchanges are the "
    "norm/pair/idf stagelets, pair join source-blocked",
    "str_trigram_similarity": "collapsed-rep trigram join; exchanges are "
    "the sizes/shared/rank stagelets on the bounded rep set",
    "llm_perplexity_filter": "uncached: one explode over every token "
    "position of the rep texts feeds two windows that share one exchange "
    "on the first token; AQE reuses the group-by exchanges at runtime "
    "(sf0.01: 14 shuffle stages, 2 reused)",
}


_PY_EXECS = {
    "BatchEvalPythonExec",
    "ArrowEvalPythonExec",
    "FlatMapGroupsInPandasExec",
    "MapInPandasExec",
    "FlatMapCoGroupsInPandasExec",
}


def _count_plan_tree(spark, df) -> tuple[int, int, int, bool]:
    """(shuffles, broadcasts, python-boundaries, cartesian) of an op's plan,
    counted by walking the JVM SparkPlan TREE instead of its toString.

    Round-11 rewrite: once a cached stage has EXECUTED, toString prints it
    as AQE '== Final Plan ==' sections at arbitrary indentation, so the
    old text parser (indent-scoped InMemoryRelation block dedup) re-counted
    chained cached builds once per printed context — llm_idf_weighted_
    jaccard showed 112 'shuffles' for 12 real ones. The tree walk is exact:
    AQE wrappers recurse via initialPlan() (the static post-EnsureRequirements
    shape — exchanges present, no execution triggered; inputPlan() would
    predate exchange insertion), query stages via plan(), ReusedExchange subtrees are
    skipped (they re-read a counted exchange), and each InMemoryRelation's
    build subtree is counted exactly once per op (keyed by the JVM
    identity of its cache builder)."""
    ident = spark._jvm.java.lang.System.identityHashCode
    shuffles = bcasts = py = 0
    cartesian = False
    seen_caches: set[int] = set()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        if cls.endswith("QueryStageExec") or cls.startswith("ResultQueryStage"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        if cls == "InMemoryTableScanExec":
            rel = node.relation()
            key = ident(rel.cacheBuilder())
            if key not in seen_caches:
                seen_caches.add(key)
                stack.append(rel.cacheBuilder().cachedPlan())
            continue
        if cls == "ShuffleExchangeExec":
            part = node.outputPartitioning().getClass().getSimpleName()
            if part in ("HashPartitioning", "RangePartitioning"):
                shuffles += 1
        elif cls == "BroadcastExchangeExec":
            bcasts += 1
        elif cls in _PY_EXECS:
            py += 1
        elif cls == "CartesianProductExec":
            cartesian = True
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return shuffles, bcasts, py, cartesian


def main() -> None:
    spark = build_session("shuffle_audit", shuffle_partitions=16)
    rows = []
    errors = []
    for name, fn in sorted(all_queries().items()):
        if name.startswith("stream_"):
            continue  # streaming plans asserted in their own tests
        try:
            df = fn(spark, SF_DIR)
            sh, bc, py, cart = _count_plan_tree(spark, df)
        except Exception as exc:  # pragma: no cover - audit tool
            errors.append(f"{name}: {exc}")
            continue
        rows.append((name, sh, bc, py, cart))
    total_shuffles = sum(r[1] for r in rows)
    heavy = [r for r in rows if r[1] >= 4]
    with open(os.path.join(REPO, "SHUFFLES.md"), "w") as f:
        f.write(
            "# SHUFFLES — per-operator physical-plan accounting\n\n"
            f"Auto-generated by tools/shuffle_audit.py at {os.path.basename(SF_DIR)} "
            "(plans are data-size-dependent only through AQE thresholds; the\n"
            "SHAPE — what shuffles, what broadcasts, what crosses into Python —\n"
            "is the 100 TB contract this table pins).\n\n"
            f"Batch operators audited: **{len(rows)}** · total shuffle exchanges: "
            f"**{total_shuffles}** (mean {total_shuffles / max(len(rows), 1):.2f}/op) · "
            f"cartesian products: **{sum(1 for r in rows if r[4])}** · "
            f"ops with ≥4 shuffles: **{len(heavy)}**\n\n"
            "| operator | shuffles | broadcasts | python-boundary | cartesian | note (>=10 shuffles) |\n"
            "|---|---|---|---|---|---|\n"
        )
        for name, sh, bc, py, cart in rows:
            note = _NOTES.get(name, "") if sh >= 10 else ""
            f.write(
                f"| `{name}` | {sh} | {bc} | {py} | "
                f"{'YES' if cart else ''} | {note} |\n"
            )
        if errors:
            f.write("\n## Build errors\n\n")
            for e in errors:
                f.write(f"- {e}\n")
    print(f"wrote SHUFFLES.md: {len(rows)} ops, {total_shuffles} shuffles, "
          f"{len(errors)} errors")
    spark.stop()


if __name__ == "__main__":
    main()
