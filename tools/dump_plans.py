"""Dump `explain("formatted")` physical plans.

With no query names, regenerate docs/PLANS.md: snapshots of the
plan-shape-critical `__spark_entry__` queries at sf0.01, with the
property each plan must exhibit.

With query names, write `<out>/<query>_<tag>.txt` for each named
`bench.build_queries` query — before/after plan evidence for a change.
Expression ids (`#123`), exchange plan ids and temp-directory names
differ from run to run; they are masked, so two dumps diff cleanly.

Usage: python tools/dump_plans.py
       python tools/dump_plans.py --out DIR --tag TAG QUERY [QUERY ...]

Tables are read from $SPARK_GRAFT_SF_DIR, else from the sf0.01 tables of
TESTDATA.md (`testdata/sf0.01` beside the checkout).
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys
import tempfile
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402
from assignment_etl_spark.caching import release_scoped_caches  # noqa: E402
from assignment_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
    os.path.dirname(ROOT), "testdata", "sf0.01"
)
RUN_IDS = [
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\s\]]+"), "<tmp>"),
]

SHOWCASE = {
    "pricing_summary": (
        "filter pushed to parquet (PushedFilters on l_shipdate), 7-column "
        "ReadSchema (pruning), partial+final HashAggregate, whole-stage codegen"
    ),
    "revenue_by_region": (
        "three BroadcastHashJoins (no SortMergeJoin, no shuffle for the "
        "joins), single Exchange for the final aggregation"
    ),
    "top_users_by_events": "TakeOrderedAndProject (no global Sort)",
    "top_orders_per_customer": "single Exchange + Window (rank) + Filter",
    "histogram_extendedprice": "bucket arithmetic inline in codegen, one Exchange over ≤30 keys",
    "unit_normalization": (
        "the staged F1 chain: regex primitives in their own Project, decision "
        "chain compiled (no interpreted fallback)"
    ),
    "weight_normalization": (
        "staged F2: base pass projected as named columns (no 64 KB codegen "
        "overrun), single partial+final aggregation over the reason keys"
    ),
    "skewed_agg_salted": (
        "TWO aggregation exchanges — (keys, salt) partial then keys merge — "
        "the salted two-phase shape; AQE coalesces the small stages"
    ),
    "hash_split_documents": (
        "split assignment is pure projection (no shuffle before the final "
        "count aggregation; no rand(), no sampling state)"
    ),
    "gopher_quality_flags": (
        "all flags from ONE documents scan — a single narrow Project feeding "
        "one partial+final aggregation on lang"
    ),
    "sole_returning_supplier": (
        "Q21 shape: LeftSemi then LeftAnti hash joins on the orderkey equi "
        "key with the suppkey inequality as join residual — never a nested "
        "loop; dims broadcast"
    ),
    "order_count_distribution": (
        "Q13 shape: the priority filter lives INSIDE the left-join "
        "condition (no post-join Filter node dropping 0-count customers); "
        "two aggregations, the second over a tiny key space"
    ),
    "segment_order_stats": (
        "NO Expand node: orders pre-aggregated per custkey BEFORE the "
        "customer join, countDistinct rewritten away"
    ),
    "scd2_point_in_time": (
        "point-in-time lookup as union + single Window per key — no "
        "BroadcastNestedLoopJoin / no interval theta join"
    ),
    "shuffle_head": "TakeOrderedAndProject over the salted hash (no global Sort for the probe)",
}


def explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def write_showcase(spark, sf_dir: str) -> None:
    qs = entry.queries()
    out = [
        "# PLANS — executed-plan snapshots (generated by tools/dump_plans.py)",
        "",
        "Physical plans at sf0.01 for the plan-shape-critical queries; the",
        "stated property of each is what the tests in tests/test_analytics.py",
        "and the SCALE.md design notes rely on.",
        "",
    ]
    for name, expectation in SHOWCASE.items():
        out += [
            f"## {name}",
            "",
            f"**Required shape:** {expectation}",
            "",
            "```",
            explain(qs[name](spark, sf_dir)).strip(),
            "```",
            "",
        ]
    with open(os.path.join(ROOT, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote docs/PLANS.md ({len(SHOWCASE)} plans)")


def write_queries(spark, sf_dir: str, out_dir: str, tag: str, names: list[str]) -> None:
    import bench

    queries = bench.build_queries(spark)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        text = explain(queries[name](spark, sf_dir))
        for pattern, mask in RUN_IDS:
            text = pattern.sub(mask, text)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text)} chars)", flush=True)
        release_scoped_caches()
        spark.catalog.clearCache()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="bench.build_queries names")
    ap.add_argument("--out", help="directory for <query>_<tag>.txt")
    ap.add_argument("--tag", help="file-name suffix, e.g. before/after")
    args = ap.parse_args()
    if args.queries and not (args.out and args.tag):
        ap.error("query names need --out and --tag")
    if args.queries:
        spark = get_spark("dump-plans")
        spark.sparkContext.setLogLevel("ERROR")
        write_queries(spark, SF_DIR, args.out, args.tag, args.queries)
    else:
        spark = get_spark("plans", shuffle_partitions=8)
        spark.sparkContext.setLogLevel("ERROR")
        write_showcase(spark, SF_DIR)


if __name__ == "__main__":
    main()
