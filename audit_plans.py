"""Full-registry physical-plan audit: build every declared query's plan
at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) and flag scale-killers —
the checks the per-round review runs by hand, as a repeatable tool.

Flags per query (plan-string scan, no execution):
- ``cartesian``      CartesianProduct / BroadcastNestedLoopJoin nodes
- ``python_row``     BatchEvalPython (row-at-a-time Python UDF — the
                     Arrow paths ArrowEvalPython / FlatMapGroupsInPandas
                     / MapInArrow are fine and not flagged)
- ``unpruned_scan``  a parquet scan whose ReadSchema carries every
                     column of a wide table (>= 8 columns read)
- ``forced_bcast``   a broadcast hint on an sf-scaling table (scan of
                     lineitem/orders/customer/part/supplier/events/
                     documents/embeddings under a BroadcastExchange
                     that came from a hint — heuristic: ResolvedHint in
                     the optimized plan)
- ``global_window``  a Window node with an EMPTY partition spec: Spark moves
ALL
                     rows to one partition for it, the one scale-killer
                     class the other flags cannot see. WindowExec
                     prints ``Window [exprs], [partSpec], [orderSpec]``
                     with EMPTY specs omitted, so group-count alone is
                     ambiguous (partitioned-unordered also prints two
                     groups): a node is global when it has one group
                     (whole-table agg window) or two groups whose
                     SECOND is an order spec (its sort items carry
                     ``ASC/DESC NULLS`` tokens; a partition spec is a
                     plain column list and never does).

Known-and-documented exceptions are listed in ALLOW (each with the
reason the plan is intentional); anything else non-empty exits 1.

Usage: ``python audit_plans.py [query ...]`` — no args audits all.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rusty_timeseries_db_spark import queries as _q
from rusty_timeseries_db_spark.session import get_spark

#: query -> {flag: reason} — the documented intentional plans.
ALLOW: dict[str, dict[str, str]] = {
    "q_join_cross": {
        "cartesian": "the declared guarded 5x5 cross-join query itself"
    },
    "q_dense_grid": {
        "cartesian": "dims-only densification grid (series x days, both tiny)"
    },
    "q_similarity_bruteforce": {
        "cartesian": "documented broadcast brute-force ANN baseline "
        "(breaks even vs bucketed at corpus scale, SCALE.md)"
    },
    "q_chi_square_scan": {
        "cartesian": "the contingency GRID is distinct(a) x "
        "distinct(b) — two dimension-sized marginal tables (guarded "
        "by max_cells=10k in the operator); the data-scale work is "
        "the counts aggregate, never the grid"
    },
    "q_hybrid_rrf": {
        "cartesian": "the dense leg IS cosine_topk's documented "
        "broadcast brute-force baseline (1-row query batch x corpus; "
        "same allowance as q_similarity_bruteforce) — swap in the "
        "IVF index for the dense list at corpus scale, the fusion "
        "is retriever-agnostic",
        "global_window": "rrf_fuse's per-list rank runs over TOP-K "
        "CANDIDATE LISTS only (<= |rankings|*k rows by the operator's "
        "documented scale contract, retrieval.py rrf_fuse) — the "
        "distributed work happened inside the retrievers",
    },
    "q_rbo_lexical_dense": {
        "cartesian": "two bounded shapes: cosine_topk's broadcast "
        "brute-force baseline (the q_similarity_bruteforce "
        "allowance) and the depth-spine range join over the <=k "
        "joined ranks",
        "global_window": "the rank windows run over the two TOP-K "
        "CANDIDATE LISTS only (<= k rows each — the q_hybrid_rrf "
        "allowance); the corpus-scale work is inside the retrievers",
    },
    "q_psi_drift": {
        "cartesian": "the bin grid is event-types x 10 fixed bands x "
        "2 periods — dims-only (the q_chi_square_scan grid "
        "allowance); the data-scale work is the banded count"
    },
    "q_word_dispersion": {
        "cartesian": "the DP grid is top-20 words x distinct sources "
        "— two DIMENSION-sized sets (the q_chi_square_scan grid "
        "allowance); the data-scale work is the (source, word) count"
    },
    "q_theta_audience_overlap": {
        "cartesian": "the segment-pair grid is distinct(event_type) "
        "x distinct(event_type) over one-sketch-per-SEGMENT rows — "
        "dims-only (the q_chi_square_scan grid allowance); the "
        "data-scale work is the theta_sketch_agg, and every overlap "
        "is computed from sketch bytes, never from raw events"
    },
    "q_rollup_theta_overlap": {
        "cartesian": "segment_overlap_estimate's pair grid is "
        "dims-only over one-merged-sketch-per-SEGMENT rows (the "
        "q_theta_audience_overlap allowance); the data-scale work is "
        "the rollup's theta_sketch_agg cells"
    },
    "q_theta_overlap_kway": {
        "cartesian": "the k-way combination grid is C(segments, 3) "
        "over one-sketch-per-SEGMENT rows — dims-only (the "
        "q_theta_audience_overlap allowance, one more chained "
        "theta_intersection); the data-scale work is the "
        "theta_sketch_agg, every intersection from sketch bytes"
    },
    "q_rfm_segmentation": {
        "global_window": "the three NTILE(5) windows run over the "
        "REDUCED per-user aggregate (one row per user, the "
        "q_running_distinct stance), never raw events; exact global "
        "quintiles are the oracle-checkable form — the documented "
        "100 TB swap is approx-percentile thresholds certified "
        "against this query (doc string)"
    },
    "q_hybrid_index_rrf": {
        "cartesian": "query_tfidf's 1-row query-norm broadcast "
        "crossJoin (the q_tfidf_index attach-scalar allowance)",
        "global_window": "rrf_fuse's per-list rank runs over TOP-K "
        "CANDIDATE LISTS only (<= |rankings|*k rows, the documented "
        "q_hybrid_rrf allowance) — the distributed work happened "
        "inside the two index scorers",
    },
    "q_tfidf_index": {
        "cartesian": "the 1-row query-norm aggregate (sqrt of <= "
        "|terms| idf squares) attaches to the pruned candidates via "
        "a single-row broadcast crossJoin — the attach-scalar shape; "
        "the data-scale work is the shard-pruned postings scan"
    },
    "q_running_distinct": {
        "global_window": "the running distinct-count series is ONE "
        "row per day by construction (the window input is the "
        "per-day aggregate, bounded by the calendar, not the data)"
    },
    "q_qualify_nested": {
        "global_window": "the outer QUALIFY rank() OVER (ORDER BY ...) "
        "ranks the GROUP BY user_id aggregate of a user_id < 50 "
        "filter — <= 50 rows reach the unpartitioned window by "
        "construction; the data-scale work is the inner per-user "
        "QUALIFY, which is partitioned"
    },
    "q_embedding_neardup_exact": {
        "cartesian": "exact all-pairs oracle baseline for the LSH "
        "recall tests (excluded from bench; QUERIES.md rationale)"
    },
    "q_embedding_knn_classify": {
        "cartesian": "broadcast query-batch x corpus scan — the "
        "documented brute-force kNN shape (queries are the small side)"
    },
    "q_semantic_dedup": {
        "cartesian": "assign_nearest's vectors x 8 seed-centroid "
        "broadcast (same KB-scale shape as q_kmeans_step); the "
        "pairwise step itself is a cluster-keyed equi-join"
    },
    "q_kmeans_step": {
        "cartesian": "vectors x k centroids broadcast (k rows of dim "
        "doubles — KB-scale by construction; operators/clustering.py "
        "assign_nearest docstring)"
    },
    "q_similarity_ivf": {
        "cartesian": "probe-list x centroid distance uses a broadcast "
        "nested loop over the TINY centroid table only"
    },
    "q_similarity_lsh": {
        "cartesian": "hyperplane projection broadcasts the constant "
        "plane matrix (rows = n_planes, not data)"
    },
    "q_interval_overlap_join": {
        "cartesian": "3 fixed maintenance windows broadcast against "
        "events — the range join's small side is constant-size"
    },
    "q_join_range_bands": {
        "cartesian": "band dimension is constant-size (4 rows) "
        "broadcast; the range condition is the query"
    },
    "q_scd2_merge": {
        "cartesian": "broadcast of the tiny update batch against "
        "current dimension rows"
    },
    "q_python_udtf": {
        "python_row": "the D6 surface IS the Python UDTF — "
        "row-at-a-time by definition, documented slow path"
    },
    "q_udf_sql_registered": {
        "python_row": "the D6 surface IS the SQL-registered Python "
        "UDF — row-at-a-time by definition, documented slow path"
    },
}

_SCALING = (
    "lineitem", "orders", "customer", "part", "supplier", "events",
    "documents", "embeddings",
)


def _top_level_groups(s: str) -> list[str]:
    """The top-level ``[...]`` group contents of a plan-node argument
    list (nested brackets don't count — window expressions contain
    plenty)."""
    depth = 0
    groups: list[str] = []
    start = -1
    for i, ch in enumerate(s):
        if ch == "[":
            if depth == 0:
                start = i + 1
            depth += 1
        elif ch == "]":
            depth = max(depth - 1, 0)
            if depth == 0 and start >= 0:
                groups.append(s[start:i])
                start = -1
    return groups


_ORDER_SPEC_RE = re.compile(r"\b(ASC|DESC) NULLS (FIRST|LAST)\b")


def _is_global_window(node: str) -> bool:
    """True when a ``Window ...`` plan node has an empty partition
    spec (see the module docstring for the print-form ambiguity)."""
    groups = _top_level_groups(node)
    if len(groups) <= 1:
        return True  # exprs only: unpartitioned, unordered
    if len(groups) == 2:
        return bool(_ORDER_SPEC_RE.search(groups[1]))
    return False


def audit_one(spark, name, fn, sf_dir) -> dict[str, str]:
    df = fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    optimized = qe.optimizedPlan().toString()
    flags: dict[str, str] = {}
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        flags["cartesian"] = "cartesian/nested-loop node present"
    if "BatchEvalPython" in plan:
        flags["python_row"] = "row-at-a-time Python UDF in plan"
    for line in plan.splitlines():
        m = re.search(r"ReadSchema: struct<([^>]*)>\s*$", line)
        if m and m.group(1).count(",") + 1 >= 8:
            flags["unpruned_scan"] = (
                f"scan reads {m.group(1).count(',') + 1} columns"
            )
    for line in plan.splitlines():
        node = line.strip().lstrip("+-*: ").strip()
        if node.startswith("Window ") and _is_global_window(node):
            flags["global_window"] = (
                "Window with empty partition spec — all rows move to "
                "ONE partition"
            )
    if "ResolvedHint" in optimized:
        for t in _SCALING:
            if re.search(rf"ResolvedHint[^\n]*\n[^\n]*{t}", optimized):
                flags["forced_bcast"] = f"broadcast hint near scaling table {t}"
    return flags


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="rtsdb-spark-audit")
    spark.sparkContext.setLogLevel("ERROR")
    # full ReadSchema strings — the default 100-char metadata cap
    # truncates schemas mid-field and makes column counting garbage
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    fns = _q.all_queries()
    names = sys.argv[1:] or list(fns)
    report: dict[str, dict] = {}
    unexpected = 0
    for name in names:
        try:
            flags = audit_one(spark, name, fns[name], sf_dir)
        except Exception as e:  # a query that cannot even plan is a failure
            flags = {"error": f"{type(e).__name__}: {e}"[:200]}
        allowed = ALLOW.get(name, {})
        bad = {k: v for k, v in flags.items() if k not in allowed}
        if bad:
            unexpected += 1
            print(f"| FLAG {name} {bad}", file=sys.stderr)
        report[name] = {"flags": flags, "allowed": list(allowed)}
    n_flagged = sum(1 for r in report.values() if r["flags"])
    print(
        json.dumps(
            {
                "audited": len(names),
                "flagged": n_flagged,
                "unexpected": unexpected,
                "sf_dir": sf_dir,
            }
        )
    )
    sys.exit(1 if unexpected else 0)


if __name__ == "__main__":
    main()
