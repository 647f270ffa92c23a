"""Round-14 optimization measurement harness.

For each named query (default: the bench top-cost set), builds the
DataFrame, captures the formatted physical plan, and times the
computation with the noop sink (guide section 1.4 — eagerly computes
every column of every row, no sink cost, full plan in the SQL tab).
Jobs are labelled (guide section 1.5).

Usage:
    python scripts/opt_measure.py [--plans-dir plans/latest] [--tag before]
        [--reps 2] [q_name ...]

Writes plans to <plans-dir>/<query>_<tag>.txt and prints one line per
query: name, best noop seconds, Exchange count, join strategies,
BatchEvalPython/ArrowEvalPython presence.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_s3_etl_spark.plans.registry import all_queries  # noqa: E402
from kafka_s3_etl_spark.session import build_session  # noqa: E402

DEFAULT_QUERIES = [
    "q_simjoin_prefix",
    "q_label_propagation",
    "q_label_propagation_capped",
    "q_label_propagation_kstep",
    "q_dedup_simhash_exact",
    "q_jaccard_neighbors",
    "q_graph_pagerank_exact",
    "q_graph_triangles_capped",
    "q_dedup_embedding_clusters",
    "q_dedup_clusters_exact",
    "q_split_leakage_audit",
    "q_split_leakage_safe",
    "q_graph_bfs_kstep",
    "q_containment_join_capped",
    "q_dedup_image_clusters",
    "q_dedup_precision_audit",
    "q_dedup_fuzzy_exact",
    "q_sim_pq_pinned",
    "q_winnow_clusters",
    "q_graph_pagerank",
    "q_bpe_merges",
    "q_dedup_audio_hash",
    "q_graph_triangles",
    "q_kcore_peeled",
    "q_sim_pq",
    "q_sim_ivfpq_pinned",
    "q_sim_ivfpq",
    "q_frequent_pairs",
    "q_dedup_substring_spans",
    "q_markov_kstep",
    "q_assoc_rules",
    "q_sim_ann_lsh",
    "q_dedup_frame_phash",
    "q_curation_pipeline",
    "q_kcore",
]


_PY_NODES = (
    "BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas"
    "|FlatMapGroupsInPandas|PythonMapInArrow"
)


def plan_stats(plan: str) -> str:
    """One-line physical-node summary of an ``explain('formatted')``
    string. Counts anchor on the numbered details entries
    (``(n) NodeName``): the formatted explain prints every node twice."""

    def count(node: str) -> int:
        return len(re.findall(rf"\(\d+\) {node}\b", plan))

    joins = set(re.findall(r"\(\d+\) (\w*(?:HashJoin|MergeJoin|NestedLoopJoin))", plan))
    py = set(re.findall(rf"\(\d+\) ({_PY_NODES})", plan))
    return (
        f"Exchange={count('Exchange')} Reused={count('ReusedExchange')}"
        f" scans={count('Scan parquet')}+{count('Scan ExistingRDD')}rdd"
        f" joins={','.join(sorted(joins)) or '-'}"
        f" py={','.join(sorted(py)) or '-'}"
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-dir", default="plans/latest")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = args.queries or DEFAULT_QUERIES
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(here, args.plans_dir)
    os.makedirs(plans_dir, exist_ok=True)

    spark = build_session(app_name="opt_measure_r14")
    catalog = all_queries()
    # Warm: parquet footers + codegen paths, same spirit as bench.py.
    catalog["q_scan_project"].fn(spark, sf_dir).count()

    results = {}
    for name in names:
        if name not in catalog:
            print(f"{name}: NOT IN CATALOG", flush=True)
            continue
        q = catalog[name]
        df = q.fn(spark, sf_dir)
        plan = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        if not args.no_plan:
            with open(
                os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        best = float("inf")
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name} [{args.tag}] rep{rep}")
            t0 = time.perf_counter()
            # Rebuild per rep so driver-side build cost is included,
            # matching bench.py's timed region (build + action).
            d = q.fn(spark, sf_dir)
            d.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
        results[name] = best
        print(f"{name}: {best:.3f}s  {plan_stats(plan)}", flush=True)
    total = sum(results.values())
    print(f"TOTAL {len(results)} queries: {total:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
