"""Broadcast-boundedness lint (r14 verdict task #2).

Round 14 found ``tpch_q02`` force-broadcasting its |parts|-scaled best-cost
aggregate — cluster-fatal at sf100 (~20 M rows through the driver) — and it
had survived 13 rounds because broadcast boundedness was a one-off manual
audit, not a gate. This tool makes the rule standing and mechanical:

**Rule (BASELINE.md round-14 close):** a FORCED broadcast (``F.broadcast`` /
``hint("broadcast")`` — which overrides Spark's size threshold at ANY scale)
is legitimate only if its build side is

* ``domain``      — bounded by a domain constant at any corpus size
                    (nation=25, region=5, priority=5, lang set, …);
* ``cutpoint``    — a K-row quantile/threshold/centroid table, K fixed by
                    the op (ntile cutpoints, IVF centroids, calibration
                    marks, …);
* ``topk``        — an explicit LIMIT/top-k result, K fixed by the op;
* ``selectivity`` — corpus-proportional but through a declared highly
                    selective predicate; tolerated ONLY with a declared
                    source table + max fraction, both machine-checked.

Anything corpus-scaled without such a bound is forbidden — that is exactly
the old tpch_q02 shape (AQE-free forced broadcast of a per-part aggregate;
honest tagging gives fraction ≈ 0.2 of ``part``, far above the 0.05 cap, so
the lint reproduces the find mechanically — see ``--demo-q02``).

Two halves:

* **static** (``sites()`` + ``SITE_TAGS``, asserted in
  ``tests/test_plans.py``): every forced-broadcast call site in the package
  must carry a classification tag here; adding a new ``F.broadcast`` without
  tagging it fails the suite, removing one leaves a stale tag that also
  fails. No site may be tagged ``corpus``.
* **dynamic** (``--measure``): for every registered batch op, build the plan
  with ``autoBroadcastJoinThreshold=-1`` (kills every stats-chosen
  broadcast; only FORCED ones survive), execute the survivors under the noop
  sink at sf0.001 AND sf0.01, read each BroadcastExchange's numOutputRows
  metric, and apply the tag policy:
    - domain/cutpoint/topk ops: max broadcast rows must be FLAT across the
      10x SF step (growth < ``GROWTH_CAP``) — a growing "domain" broadcast
      is a misclassification;
    - selectivity ops: rows must stay under ``fraction x |declared table|``
      at BOTH tiers.
  Writes BROADCASTS.md; exits non-zero on any violation.

Usage:
    python tools/broadcast_lint.py --static     # AST tag completeness only
    python tools/broadcast_lint.py --measure    # full dynamic audit (~10 min)
    python tools/broadcast_lint.py --demo-q02   # prove the lint catches the
                                                # pre-cf202d6 tpch_q02 shape
"""

from __future__ import annotations

import ast
import os
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "highspeedrailwaybigdatasystem_spark"

SF_SMALL = "/root/testdata/sf0.001"
SF_LARGE = "/root/testdata/sf0.01"

#: growth of max forced-broadcast rows across the 10x SF step above which a
#: domain/cutpoint/topk-tagged op is declared misclassified. Domain grains
#: are constant; 3x tolerates sampling noise in tiny grains (a 2-row group
#: table growing to 5 is the full domain appearing, not corpus growth).
GROWTH_CAP = 3.0
#: ...but growth is only meaningful above this floor: a 25-row nation
#: broadcast cannot "grow corpus-scaled".
GROWTH_FLOOR_ROWS = 500
#: max declared selectivity fraction — above this the predicate is not
#: selective and the site is corpus-scaled in disguise (the old tpch_q02
#: aggregate was ~0.2 of `part`).
MAX_FRACTION = 0.05


# ---------------------------------------------------------------------------
# static half: AST site scan + tag registry
# ---------------------------------------------------------------------------

def sites() -> list[tuple[str, str, int, int]]:
    """Every forced-broadcast call site in the package:
    (relpath, enclosing-function qualname, index-within-function, lineno).

    Matches ``F.broadcast(...)`` / ``broadcast(...)`` calls,
    ``.hint("broadcast")``, AND ``/*+ BROADCAST(alias) */`` hints inside
    SQL string literals (keyed under function name ``sql:<qualname>`` —
    these force exactly like the DataFrame form and bit tpch_q02 through
    its oracle-shared hint string). Index is the site's ordinal among the
    function's sites in source order, so tags survive line-number churn.
    """
    import re

    sql_hint = re.compile(r"BROADCAST\s*\(\s*([A-Za-z_][A-Za-z0-9_]*)\s*\)")
    out = []
    for py in sorted(PKG.rglob("*.py")):
        rel = str(py.relative_to(REPO))
        tree = ast.parse(py.read_text())

        def walk(node, qual):
            for child in ast.iter_child_nodes(node):
                q = qual
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    q = f"{qual}.{child.name}" if qual else child.name
                    # skip the docstring: prose mentioning BROADCAST( is
                    # not a site
                    body = child.body
                    if (
                        body
                        and isinstance(body[0], ast.Expr)
                        and isinstance(body[0].value, ast.Constant)
                        and isinstance(body[0].value.value, str)
                    ):
                        body = body[1:]
                    for sub in body:
                        walk_one(sub, q)
                    continue
                walk_one(child, q)

        def walk_one(child, q):
            if isinstance(child, ast.Call):
                fn = child.func
                is_bcast = (
                    isinstance(fn, ast.Attribute) and fn.attr == "broadcast"
                ) or (isinstance(fn, ast.Name) and fn.id == "broadcast")
                is_hint = (
                    isinstance(fn, ast.Attribute)
                    and fn.attr == "hint"
                    and child.args
                    and isinstance(child.args[0], ast.Constant)
                    and child.args[0].value == "broadcast"
                )
                if is_bcast or is_hint:
                    out.append((rel, q or "<module>", child.lineno))
            if isinstance(child, ast.Constant) and isinstance(child.value, str):
                for _m in sql_hint.finditer(child.value):
                    out.append((rel, f"sql:{q or '<module>'}", child.lineno))
            walk(child, q)

        walk(tree, "")
    # re-key lineno -> ordinal within (file, function)
    keyed: list[tuple[str, str, int, int]] = []
    seen: dict[tuple[str, str], int] = {}
    for rel, qual, lineno in out:
        idx = seen.get((rel, qual), 0)
        seen[(rel, qual)] = idx + 1
        keyed.append((rel, qual, idx, lineno))
    return keyed


_P = "highspeedrailwaybigdatasystem_spark"

#: (relpath, function, ordinal) -> (class, justification). Every site found
#: by ``sites()`` must appear here; tests/test_plans.py enforces exact
#: equality of key sets and forbids class "corpus".
SITE_TAGS: dict[tuple[str, str, int], tuple[str, str]] = {
    (f"{_P}/functions/llm_dedup.py", "_bloom_dedup_impl", 0): (
        "cutpoint", "bloom word table: <= m_bits/64 = 2048 rows, m_bits "
        "fixed by the op regardless of corpus size"),
    (f"{_P}/functions/llm_ann.py", "llm_ann_lsh", 0): (
        "topk", "single probe embedding (vec_id == 0, 1 row)"),
    (f"{_P}/functions/llm_ann.py", "llm_ann_recall_eval", 0): (
        "topk", "probe set bounded by construction: vec_id % 200 == 0 "
        "AND vec_id < 12800 -> <= 64 rows at ANY corpus size"),
    (f"{_P}/functions/llm_ann.py", "llm_ann_recall_eval", 1): (
        "cutpoint", "16 IVF centroids (vec_id < 16)"),
    (f"{_P}/functions/llm_text.py", "llm_tfidf_keywords", 0): (
        "cutpoint", "per-token idf table over the doc-frequency-capped "
        "vocab (bounded by the min_df cut)"),
    (f"{_P}/functions/llm_ann.py", "llm_ivf_ann", 0): (
        "cutpoint", "IVF centroids (vec_id < 8, K fixed)"),
    (f"{_P}/functions/llm_ann.py", "llm_ivf_ann", 1): (
        "topk", "bounded probe set (fixed probe ids)"),
    (f"{_P}/functions/llm_ann.py", "llm_ivf_ann", 2): (
        "cutpoint", "nprobe posting-list cell ids per probe"),
    (f"{_P}/functions/llm_ann.py", "llm_ivf_index_persist", 0): (
        "cutpoint", "IVF centroids (vec_id < 16, K fixed)"),
    (f"{_P}/functions/llm_ann.py", "llm_ivf_index_persist", 1): (
        "domain", "single probe vector (1 row)"),
    (f"{_P}/functions/llm_mix.py", "llm_source_mixture", 0): (
        "domain", "corpus-total scalar (1 row)"),
    (f"{_P}/functions/llm_mix.py", "llm_curriculum_buckets", 0): (
        "cutpoint", "approx quantile cutpoints (1 row of 3 doubles)"),
    (f"{_P}/functions/llm_text.py", "llm_perplexity_proxy", 0): (
        "cutpoint", "unigram LM: vocab-bounded token freqs above min count"),
    (f"{_P}/functions/llm_text.py", "llm_perplexity_proxy", 1): (
        "domain", "corpus token-total scalar (1 row)"),
    (f"{_P}/functions/llm_mix.py", "llm_kl_divergence_split", 0): (
        "domain", "corpus-total scalar (1 row)"),
    (f"{_P}/functions/llm_mix.py", "llm_oversample_minority", 0): (
        "domain", "max class count scalar (1 row)"),
    (f"{_P}/functions/llm_mix.py", "llm_oversample_minority", 1): (
        "domain", "per-language oversample factors (|langs| rows)"),
    (f"{_P}/functions/llm_mm.py", "mm_embed_sim_stub", 0): (
        "topk", "single probe embedding (doc_id == 0, 1 row)"),
    (f"{_P}/operators/aggregates.py", "agg_rollup", 0): (
        "domain", "nation dim (25 rows at any SF)"),
    (f"{_P}/operators/aggregates.py", "agg_rollup", 1): (
        "domain", "region dim (5 rows at any SF)"),
    (f"{_P}/operators/aggregates.py", "agg_collect", 0): (
        "domain", "region dim (5 rows)"),
    (f"{_P}/operators/aggregates.py", "agg_count_min_sketch", 0): (
        "cutpoint", "CMS grid: d x width cells, both fixed by the sketch"),
    (f"{_P}/operators/etl.py", "join_temporal_scd2", 0): (
        "cutpoint", "SCD2 dim sliced to business keys < 100: ~10 versions "
        "per key in TPC-H -> ~1000 rows flat at any SF"),
    (f"{_P}/operators/etl.py", "etl_gdpr_delete_audit", 0): (
        "selectivity", "erasure list: 1/16 md5-sample of DISTINCT users "
        "(users << events; see SELECTIVITY_BOUNDS)"),
    (f"{_P}/operators/etl.py", "etl_missing_partition_detect", 0): (
        "cutpoint", "literal 30-day date spine (30 rows)"),
    (f"{_P}/operators/joins.py", "join_broadcast", 0): (
        "selectivity", "part filtered to p_size = 1 (~2%; the r15 lint "
        "measurement caught the original full-part broadcast)"),
    (f"{_P}/operators/joins.py", "join_theta_range", 0): (
        "cutpoint", "orders sliced to o_orderkey % 1000 == 0 AND < 600000 "
        "-> <= 600 rows at ANY amplification (fixed keyspace slice)"),
    (f"{_P}/operators/timeseries.py", "ts_rfm_segmentation", 0): (
        "cutpoint", "RFM quantile cutpoints (1 row of 9 doubles)"),
    (f"{_P}/operators/tpch.py", "tpch_q02", 0): (
        "domain", "nation dim (25 rows)"),
    (f"{_P}/operators/tpch.py", "tpch_q02", 1): (
        "domain", "region dim filtered to EUROPE (1 row)"),
    (f"{_P}/operators/tpch.py", "tpch_q07", 0): (
        "domain", "nation dim filtered to 2 names"),
    (f"{_P}/operators/tpch.py", "tpch_q07", 1): (
        "domain", "nation dim filtered to 2 names"),
    (f"{_P}/operators/tpch.py", "tpch_q08", 0): (
        "domain", "region dim (5 rows)"),
    (f"{_P}/operators/tpch.py", "tpch_q08", 1): (
        "domain", "nation dim (25 rows)"),
    (f"{_P}/operators/tpch.py", "tpch_q08", 2): (
        "domain", "nation dim (25 rows)"),
    (f"{_P}/operators/tpch.py", "tpch_q10", 0): (
        "domain", "nation dim (25 rows)"),
    (f"{_P}/operators/tpch.py", "tpch_q15", 0): (
        "topk", "argmax-revenue supplier rows (ties only; ~1 row)"),
    (f"{_P}/operators/windows.py", "_range_prefix", 0): (
        "cutpoint", "per-range-partition offsets (#shuffle-partitions rows)"),
    (f"{_P}/operators/windows.py", "win_ntile_cutpoint", 0): (
        "cutpoint", "per-segment quantile cutpoints (|segments| rows)"),
    (f"{_P}/streaming/streams.py", "stream_static_join", 0): (
        "domain", "nation dim (25 rows)"),
    (f"{_P}/streaming/streams.py", "stream_static_anti_join", 0): (
        "selectivity", "blocklist: bounded sample of users"),
    # --- SQL-string /*+ BROADCAST(x) */ hint sites ---
    (f"{_P}/functions/llm_ann.py", "sql:llm_hard_negative_mining", 0): (
        "topk", "probe rows (fixed probe set)"),
    (f"{_P}/functions/llm_mix.py", "sql:llm_importance_resample", 0): (
        "domain", "per-language marginals (|langs| rows)"),
    (f"{_P}/functions/llm_mix.py", "sql:llm_importance_resample", 1): (
        "domain", "per-language keep probabilities (|langs| rows)"),
    (f"{_P}/functions/llm_ann.py", "sql:llm_mmr_diverse_topk", 0): (
        "topk", "single probe embedding"),
    (f"{_P}/functions/llm_mix.py", "sql:llm_rag_context_pack", 0): (
        "topk", "single probe embedding"),
    (f"{_P}/functions/llm_ann.py", "sql:llm_semdedup_sqrtn", 0): (
        "cutpoint", "sqrt(n) centroids: sublinear by design (1e5 rows at "
        "n=1e10); growth across a 10x step is sqrt(10)=3.2x but absolute "
        "size stays far under the floor at gate tiers"),
    (f"{_P}/functions/llm_ann.py", "sql:llm_sim_topk", 0): (
        "topk", "single probe embedding"),
    (f"{_P}/operators/aggregates.py", "sql:sql_hints", 0): (
        "domain", "nation dim (25 rows) — the op's surface IS the hint"),
    (f"{_P}/operators/joins.py", "sql:join_multiway", 0): (
        "domain", "nation dim (25 rows)"),
    (f"{_P}/operators/joins.py", "sql:join_multiway", 1): (
        "domain", "region dim (5 rows)"),
    (f"{_P}/operators/ml.py", "sql:ml_silhouette_simplified", 0): (
        "cutpoint", "cluster centroids (K fixed)"),
    (f"{_P}/operators/tpch.py", "sql:tpch_q05", 0): (
        "domain", "nation dim (25 rows)"),
    (f"{_P}/operators/tpch.py", "sql:tpch_q05", 1): (
        "domain", "region dim (5 rows)"),
    (f"{_P}/operators/tpch.py", "sql:tpch_q09", 0): (
        "domain", "nation dim (25 rows)"),
}

#: selectivity-tagged OPS measured dynamically: op -> (table, max fraction).
#: rows(broadcast) <= fraction x rows(table) must hold at BOTH tiers.
SELECTIVITY_BOUNDS: dict[str, tuple[str, float]] = {
    "etl_gdpr_delete_audit": ("events", 0.01),
    # p_size = 1 is ~2% of part; 0.05 leaves room for small-SF sampling
    # noise (7/200 = 3.5% at sf0.001) while still failing anything
    # corpus-scaled (the pre-r15 full-part broadcast measured 1.0).
    "join_broadcast": ("part", 0.05),
}

#: Ops whose growing broadcast is REQUIRED by the physical plan, not
#: forced by a hint, with the op's documented justification. The only
#: current member: Spark implements null-aware anti join (NOT IN with a
#: nullable subquery) exclusively as BroadcastNestedLoopJoin — there is no
#: shuffled alternative — and join_null_aware_anti EXISTS to exhibit
#: precisely that hazard (its docstring directs production users to the
#: null-free rewrite, and etl_late_arriving_dim was moved to NOT EXISTS
#: when this lint first measured the class). Each entry is re-audited
#: every round by the BROADCASTS.md row it still produces.
REQUIRED_BROADCAST_EXCEPTIONS: dict[str, str] = {
    "join_null_aware_anti": (
        "null-aware anti join is BNLJ-only in Spark; the op is the "
        "documented exhibit of this hazard (three-valued NOT IN)"
    ),
}


def check_static() -> list[str]:
    problems = []
    found = {(rel, fn, idx): lineno for rel, fn, idx, lineno in sites()}
    for key, lineno in sorted(found.items()):
        if key not in SITE_TAGS:
            problems.append(
                f"UNTAGGED forced broadcast at {key[0]}:{lineno} in {key[1]} "
                f"(ordinal {key[2]}) — classify it in tools/broadcast_lint.py "
                "SITE_TAGS or remove the hint"
            )
    for key in sorted(SITE_TAGS):
        if key not in found:
            problems.append(f"STALE tag {key} — site no longer in source")
        else:
            cls = SITE_TAGS[key][0]
            if cls not in ("domain", "cutpoint", "topk", "selectivity"):
                problems.append(f"FORBIDDEN class {cls!r} at {key}")
    return problems


# ---------------------------------------------------------------------------
# dynamic half
# ---------------------------------------------------------------------------

def _forced_broadcast_rows(spark, df) -> list[int]:
    """Execute df and return numOutputRows of every BroadcastExchange in
    the executed plan (threshold=-1 upstream means every one of these was
    FORCED by a hint). Execution must go through the df's OWN
    QueryExecution — a noop write or .count() spawns a separate one whose
    metrics never reach this plan tree — so collect() it is (bounded: the
    registered surface's outputs at sf0.01 are all driver-safe; the
    mirror collects every one of them each round)."""
    df.collect()
    rows: list[int] = []
    seen_caches: set[int] = set()
    ident = spark._jvm.java.lang.System.identityHashCode
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
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
        if cls == "BroadcastExchangeExec":
            rows.append(int(node.metrics().apply("numOutputRows").value()))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return rows


def _table_rows(sf_dir: str, table: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(f"{sf_dir}/{table}.parquet").metadata.num_rows


def measure(demo_fn=None, only: list[str] | None = None) -> int:
    from highspeedrailwaybigdatasystem_spark.registry import all_queries
    from highspeedrailwaybigdatasystem_spark.session import build_session

    spark = build_session("broadcast_lint", shuffle_partitions=16)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    qs = dict(all_queries())
    if demo_fn is not None:
        qs = {"DEMO_tpch_q02_pre_fix": demo_fn}
    if only:
        qs = {n: qs[n] for n in only}
    results: dict[str, dict[str, list[int]]] = {}
    errors: list[str] = []
    for name, fn in sorted(qs.items()):
        if name.startswith("stream_"):
            continue
        fn = getattr(fn, "__wrapped__", fn)
        per_sf: dict[str, list[int]] = {}
        for sf in (SF_SMALL, SF_LARGE):
            try:
                spark.catalog.clearCache()
                df = fn(spark, sf)
                r = _forced_broadcast_rows(spark, df)
            except Exception as exc:
                errors.append(f"{name}@{os.path.basename(sf)}: {exc}")
                r = []
            if r:
                per_sf[os.path.basename(sf)] = sorted(r)
        if per_sf:
            results[name] = per_sf

    violations: list[str] = []
    lines = []
    for name, per_sf in sorted(results.items()):
        small = per_sf.get("sf0.001", [])
        large = per_sf.get("sf0.01", [])
        mx_s, mx_l = max(small, default=0), max(large, default=0)
        verdict = "ok"
        base = name.removeprefix("DEMO_").split("_pre_fix")[0]
        is_exception = name in REQUIRED_BROADCAST_EXCEPTIONS
        if is_exception:
            verdict = (
                "exception (documented): "
                + REQUIRED_BROADCAST_EXCEPTIONS[name]
            )
        elif name.startswith("DEMO_") or base in SELECTIVITY_BOUNDS or name in SELECTIVITY_BOUNDS:
            table, frac = SELECTIVITY_BOUNDS.get(
                name, SELECTIVITY_BOUNDS.get(base, ("part", MAX_FRACTION))
            )
            if frac > MAX_FRACTION:
                verdict = f"VIOLATION declared fraction {frac} > {MAX_FRACTION}"
            else:
                for sf, mx in (("sf0.001", mx_s), ("sf0.01", mx_l)):
                    cap = frac * _table_rows(f"/root/testdata/{sf}", table)
                    if mx > cap:
                        verdict = (
                            f"VIOLATION {mx} rows > {frac} x |{table}| "
                            f"= {cap:.0f} at {sf} — corpus-scaled in disguise"
                        )
        elif mx_l >= GROWTH_FLOOR_ROWS and mx_l > GROWTH_CAP * max(mx_s, 1):
            verdict = (
                f"VIOLATION max broadcast rows grew {mx_s} -> {mx_l} "
                f"across a 10x SF step — not domain/cutpoint/topk-bounded"
            )
        if verdict != "ok" and not is_exception:
            violations.append(f"{name}: {verdict}")
        lines.append(
            f"| `{name}` | {small} | {large} | {verdict} |"
        )

    if demo_fn is None and not only:
        with open(REPO / "BROADCASTS.md", "w") as f:
            f.write(
                "# BROADCASTS — forced-broadcast boundedness audit\n\n"
                "Auto-generated by `tools/broadcast_lint.py --measure`. Every\n"
                "row is an op whose plan still contains a BroadcastExchange\n"
                "with `autoBroadcastJoinThreshold=-1` — i.e. a FORCED\n"
                "broadcast that would fire at 100 TB regardless of size.\n"
                "numOutputRows measured at two tiers; policy in the tool\n"
                "docstring (domain grains must be flat across the 10x step;\n"
                "selectivity grains must honor their declared fraction).\n\n"
                "| op | bcast rows sf0.001 | bcast rows sf0.01 | verdict |\n"
                "|---|---|---|---|\n"
            )
            for ln in lines:
                f.write(ln + "\n")
            if errors:
                f.write("\n## Errors\n\n")
                for e in errors:
                    f.write(f"- {e}\n")
        print(f"wrote BROADCASTS.md: {len(results)} forced-broadcast ops")
    else:
        for ln in lines:
            print(ln)
    for v in violations:
        print("FAIL", v)
    for e in errors:
        print("ERR ", e)
    spark.stop()
    return 1 if violations else 0


def _demo_q02(spark, sf_dir: str):
    """The pre-cf202d6 tpch_q02 inner shape: min-cost-per-part aggregate,
    FORCE-broadcast back onto the supplier/part join. |parts|-scaled —
    the exact cluster-fatal pattern round 14 caught by hand."""
    from pyspark.sql import functions as F

    from highspeedrailwaybigdatasystem_spark.operators._util import t

    # the corpus has no partsupp; emulate it with lineitem supplier costs
    ps = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
        F.col("l_extendedprice").alias("ps_supplycost"),
    )
    best = ps.groupBy("ps_partkey").agg(
        F.min("ps_supplycost").alias("min_cost")
    ).withColumnRenamed("ps_partkey", "b_partkey")
    return ps.join(
        F.broadcast(best),
        (F.col("ps_partkey") == F.col("b_partkey"))
        & (F.col("ps_supplycost") == F.col("min_cost")),
    ).select("ps_partkey", "ps_suppkey", "min_cost")


def main() -> None:
    import argparse

    p = argparse.ArgumentParser()
    p.add_argument("--static", action="store_true")
    p.add_argument("--measure", action="store_true")
    p.add_argument("--demo-q02", action="store_true")
    p.add_argument(
        "--ops", nargs="*", default=None,
        help="with --measure: spot-measure only these ops (prints rows, "
        "does NOT rewrite BROADCASTS.md — full runs only)",
    )
    args = p.parse_args()
    rc = 0
    if args.static or not (args.measure or args.demo_q02):
        problems = check_static()
        for pr in problems:
            print("FAIL", pr)
        print(f"static: {len(sites())} sites, {len(problems)} problems")
        rc |= 1 if problems else 0
    if args.measure:
        rc |= measure(only=args.ops)
    if args.demo_q02:
        demo_rc = measure(demo_fn=_demo_q02)
        if demo_rc:
            print("demo: lint correctly FLAGS the pre-fix tpch_q02 shape")
            rc |= 0
        else:
            print("demo: lint FAILED to flag the pre-fix shape")
            rc |= 1
    raise SystemExit(rc)


if __name__ == "__main__":
    main()
