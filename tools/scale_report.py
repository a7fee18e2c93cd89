#!/usr/bin/env python
"""Generate the plan-evidence table embedded in SCALE.md.

For every registered query this builds the DataFrame at sf0.01 and
extracts physical-plan facts through duckdb_pst_spark.plans.introspect:
shuffle count, join strategies, top-n physical operator, whole-stage
codegen coverage, and scan pushdown evidence. The table is what the
narrative claims in SCALE.md are checked against (and the plan-shape
tests gate a subset in CI).

Usage: python tools/scale_report.py [sf_dir] > /tmp/scale_table.md
"""

from __future__ import annotations

import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

from duckdb_pst_spark.plans import introspect as I  # noqa: E402
from duckdb_pst_spark.registry import load_all  # noqa: E402
from duckdb_pst_spark.session import get_spark  # noqa: E402

# Queries whose builder executes jobs eagerly (fixpoint loops, streaming
# replay, media pipelines) — the *final* plan is real but stage-by-stage
# shuffle counts don't summarize them; mark them ITER/STREAM instead.
EAGER = {
    "q_recursive_descendants": "ITER",
    "q_recursive_ancestors": "ITER",
    "q_dedup_cluster": "ITER",
    "q_dedup_cluster_star": "ITER",
    "q_cluster_size_histogram": "ITER",
    "q_kmeans_iter": "ITER",
    "q_knn_ivf_trained": "ITER",
    "q_dedup_semantic_scaled": "ITER",
    "q_stream_window_counts": "STREAM",
    "q_stream_stateful_sessions": "STREAM",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("scale-report")
    spark.sparkContext.setLogLevel("ERROR")
    print("| query | shuffles | bcast joins | smj | top-n | codegen | scan pushdown |")
    print("|---|---|---|---|---|---|---|")
    only = os.environ.get("SPARK_GRAFT_REPORT_QUERIES")
    wanted = {q.strip() for q in only.split(",")} if only else None
    for name, spec in sorted(load_all().items()):
        if wanted is not None and name not in wanted:
            continue
        if name in EAGER:
            print(f"| `{name}` | {EAGER[name]} | — | — | — | — | — |")
            continue
        try:
            df = spec.builder(spark, sf_dir)
            sh = I.shuffle_count(df)
            bj = I.broadcast_join_count(df)
            smj = I.sort_merge_join_count(df)
            topn = "yes" if I.has_take_ordered(df) else ""
            cg = f"{I.codegen_fraction(df):.0%}"
            pf = I.pushed_filters(df)
            push = "filters" if any(p not in ("[]", "") for p in pf) else ""
            ags = I.pushed_aggregates(df)
            if ags:
                push = (push + "+agg") if push else "agg"
            print(f"| `{name}` | {sh} | {bj} | {smj} | {topn} | {cg} | {push} |")
        except Exception as exc:  # pragma: no cover
            print(f"| `{name}` | ERROR {type(exc).__name__} | | | | | |")
    spark.stop()


if __name__ == "__main__":
    main()
