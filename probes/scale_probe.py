"""Scale-exponent probe for the dedup/ANN headliners (round-6 item #4).

The sf-scaled oracle gate proves correctness; this probe measures how the
six dedup/ANN headline plans' wall time GROWS with corpus size — the
quantity that decides whether a plan survives a 100x scale-up. It builds
mutated-replica corpora at 1x/3x/10x of sf0.1 under /tmp, times each query
at each scale (best of N noop-write runs),
and fits the exponent b in  t ~ scale^b  by least squares over log-log.

Two replication modes, because they measure different things:

- ``disjoint`` (the exponent probe): replica k>0 rewrites every token with
  a ``_k`` suffix, so replicas share no shingles/names with the original.
  Dup-group structure is CONSTANT across scales, so the fitted exponent
  measures plan cost (scan + shuffle + join width), not output growth.
  This is the number the scale-posture table quotes: banded/capped plans
  must come out ~1 (<= ~1.2); superlinearity here is a plan defect.

- ``neardup`` (the quadratic baseline, exact-Jaccard only): replica k
  appends a short suffix, so every replica IS a near-dup of its original
  and dup-group size grows linearly with scale. Any correct all-pairs
  emitter has quadratic OUTPUT on this workload — the measured ~2 exponent
  documents why ``neardup_jaccard_pairs`` is the oracle baseline and the
  capped/cluster consumers are the ship plans, it does not indict the
  plan.

Embeddings replicate with vec_id offsets >= N_QUERY_VECS, so the probe/
query-vector set stays FIXED while the searched corpus scales — the
daily-serving shape. Supplier names replicate with an ``_kk`` suffix
(edit distance >= 2 across replicas) so the ed-1 graph gains no
cross-replica edges and fuzzy_name_pairs' output stays per-replica.

Usage:  python probes/scale_probe.py [--mode disjoint|neardup|both]
Writes probes/results/scale_probe.json and prints one summary line per
query; rerunnable (scale dirs are rebuilt only if absent).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from parallel_mapreduce_spark.registry import QUERIES, _load_all
from parallel_mapreduce_spark.session import get_spark

SRC = "/root/testdata/sf0.1"
ROOT = "/tmp/pmr_scale_probe"
SCALES = (1, 3, 10)
RUNS = 2
ID_STRIDE = 10_000_000  # replica k offsets ids by k*stride: no collisions

DISJOINT_QUERIES = (
    "neardup_jaccard_pairs",
    "neardup_jaccard_pairs_capped",
    "minhash_lsh_candidates",
    "fuzzy_name_pairs",
    "cosine_topk",
    "ann_sq_topk",
    # round 7: the LR classifier is per-doc features + O(1)-size gradient
    # rows — expect ~1. SemDeDup (round-8 fix): K is now DERIVED from the
    # corpus count (max(8, ceil(N/TARGET_CLUSTER))), so cluster size
    # holds ~constant under replication and within-cluster pair work is
    # ~N*TARGET — expect ~linear wall (the round-7 fixed-K variant
    # measured 1.56 here; that number is preserved in git history as the
    # documented hazard this fix closes). Output rows now grow with K.
    "quality_classifier_lr2",
    "semdedup_cluster_report",
    # round 7 (session 2): segment-level dedup — token rewrite makes
    # replica segments disjoint, so dup structure is constant and rows
    # grow linearly (b_rows = 1.0 expected); the wall exponent measures
    # the digest-agg + reassembly plan. source_cap_sample's output is
    # |sources| rows at every scale; its wall cost is the two-phase
    # ranking over a linearly growing input.
    "segment_dedup_reassemble",
    "source_cap_sample",
    # PQ trains/encodes over the whole corpus (compression leg: expect
    # ~linear wall, constant Q*K output); IVF-PQ adds cell pruning on
    # top, so its scoring join touches only probed cells' members.
    "ann_pq_adc_topk",
    "ann_ivfpq_topk",
    # round 7 (session 3): the overlap matrix's fan-out is bounded by
    # |sources|^2 per shingle and sources stay 20 under replication, so
    # the (source, shingle) distinct grows linearly and the pair grid is
    # 190 rows at every scale — expect b_time ~ 1, b_rows = 0. BPE's
    # token rewrite grows the vocabulary linearly with replicas; the
    # corpus is touched once and the 3 merge rounds run on the
    # vocab-bounded frame, so expect ~1 with a constant 3-row output.
    "source_overlap_matrix",
    "bpe_train_3merges",
    # round 8: exact-substring runs — token rewrite makes replica
    # shingles disjoint, so each replica carries its own copy of the
    # (original, variant) pair structure: pair rows grow linearly and
    # the digest-keyed shuffle dominates wall — expect ~1.
    "exact_substring_runs",
    # round 9: the removal composition — detection (above) plus one
    # token-grain anti-join + per-doc reassembly; output is one row per
    # working doc, so rows grow exactly linearly and wall should track
    # the detection plan plus a linear token pass — expect ~1.
    "substring_run_removal",
    # round 10 (verdict item 5): the MLlib cross-validation leg runs
    # approxSimilarityJoin over the full rep set — same hash-bucket
    # shuffle shape as the hand-rolled band join by argument, but it was
    # the one corpus-scale dedup plan with no measured exponent. Token
    # rewrite keeps the >= 0.9-Jaccard pair structure per-replica, so
    # output rows grow linearly and b_time measures the two banded
    # indexes + the exact-Jaccard verify — expect ~1.
    "mllib_minhash_parity_pairs",
    # round 10: the new dedup/text/ANN surface. Normalized dedup is one
    # digest shuffle (expect ~1, rows ~1); weighted jaccard's pair grid
    # is |sources|^2-bounded with a linearly growing token-count input
    # (expect ~1, rows 0); the bloom gate is two broadcast-bit probes +
    # one digest join (expect ~1, one output row); the PR curve runs the
    # exact-Jaccard join + band join (disjoint replicas keep pair
    # structure per-replica -> rows 0, 5 threshold rows; wall tracks
    # the two index joins); rerank adds a shortlist-bounded exact leg
    # on top of the IVF-PQ plan (expect ~ the ivfpq exponent).
    "dedup_exact_normalized",
    "source_weighted_jaccard",
    "bloom_incremental_dedup",
    "minhash_lsh_pr_curve",
    "ann_ivfpq_rerank_topk",
    # round 10 session 2: hybrid fusion — the token rewrite makes replica
    # docs share no terms with the 10 query docs, so the BM25 postings
    # stay query-bounded and the cosine leg's linear scan dominates
    # (measured flat at these sizes: fixed overhead; constant 100-row
    # output).
    "hybrid_rrf_retrieval",
    # round 10 session 3: NN-Descent kNN-graph — per refinement round the
    # candidate frame is N * (2K)^2 (degree-bounded neighbor-of-neighbor)
    # and the seed-bucket join holds expected bucket size ~32 because the
    # truncated plane count p(N) grows with log2(N) (the semdedup
    # corpus-derived-K convention) — expect b_time ~ 1 with a CONSTANT
    # 600-row eval output (b_rows = 0). k-center greedy: KC_K fixed picks,
    # each one narrow distance pass + a distributed top-1 — expect ~1
    # with a constant 12-row output.
    "knn_graph_nn_descent",
    "kcenter_coreset_select",
    # ...and the ingest path: batch size is a fixed fraction of the
    # corpus, seed pairs are bucket-size-bounded (constant under the
    # adaptive plane count) and refine/back-link are degree-bounded, so
    # the whole ingest should track the base build ~linearly; rows grow
    # with the batch (b_rows ~ 1).
    "knn_graph_incremental_ingest",
    # round 10 session 3: k-core peeling over the minhash candidate
    # graph — disjoint replication keeps dup-cluster structure constant
    # per replica, so peel rounds stay fixed and each round is one
    # degree aggregate + two vertex-keyed semi-joins over a linearly
    # growing edge list; expect ~ the minhash_lsh_candidates exponent,
    # rows ~ 1 (memberships per replica).
    "kcore_neardup_graph",
    # round 11 (first measured in probes/results/probe30_r11.json at
    # 10x/30x, slopes 0.22-0.62): the graph-serving stack — build
    # dominates, traversal is query-bounded (fixed eval set => rows 0);
    # the ingest pair re-probed after the within-batch seed leg (slope
    # unchanged at 0.49: the leg is batch-bucket-bounded); multipass SN
    # is pass-linear (3 rank passes, N*(W-1) windows each, rows ~1);
    # filtered IVF adds only a broadcast predicate semi-join.
    "ann_graph_search_topk",
    "ann_graph_search_recall_at_k",
    "knn_graph_rng_prune",
    "knn_graph_incremental_recall",
    "sorted_neighborhood_multipass_pairs",
    "ann_filtered_topk",
    # round 12 (first measured in probes/results/probe30_r12.json, which
    # also splits the one-time snapshot BUILD wall from per-query serving
    # wall): deletion serving = the standard traversal + a broadcast
    # anti-join cut (waypoints) or a tombstone-degree-bounded re-home
    # join + capped re-rank (compacted); quantized serving = the same
    # traversal with int8 scoring + a 2x-shortlist exact rerank. All
    # query-bounded after the shared build; rows constant (eval-set
    # sized).
    "ann_graph_delete_serve",
    "ann_graph_delete_recall",
    "ann_graph_search_quantized_recall",
)
NEARDUP_QUERIES = ("neardup_jaccard_pairs", "neardup_jaccard_pairs_capped")

# Round 7: the join/window/events headliners, probed with KEY-OFFSET
# replication — every foreign key is offset by the same k*stride as the
# primary key it references, so replica k is a self-contained copy of the
# relational world (join fan-outs, per-customer window widths, per-user
# event chains, and HAVING-group sizes are all CONSTANT across scales;
# the fitted exponent measures plan cost, not structure drift). Dims
# (region/nation/part) stay fixed — the realistic 100 TB shape: facts
# grow, dims don't.
RELATIONAL_QUERIES = (
    "q5_region_revenue",
    "q18_large_volume_customers",
    "q21_waiting_suppliers_shape",
    "window_top_orders_per_customer",
    "asof_purchase_attribution",
    "events_hourly",
    # round 7 (session 2): the chained-stateful streaming plan under the
    # same key-offset events replication — per-user join chains constant,
    # batch count fixed by the bucketing, so wall growth measures the
    # per-batch state/shuffle cost of join->window at 1x/3x/10x.
    "stream_chained_join_hourly",
    # round 7 (session 3): integer PageRank — the corpus-scale pass is
    # the lineitem-orders shuffle with both dims broadcast; nations stay
    # 25 under key-offset replication, so iterations cost O(1) and the
    # output is 25 rows at every scale. Expect b_time ~ 1, b_rows = 0.
    "pagerank_trade_graph",
    # round 10: the AQE skew exhibit belongs HERE (events replicate with
    # key offsets; the disjoint mode symlinks events, which would time a
    # constant input). The amplified hot user stays the base replica's,
    # so the probe measures the plain join's linear term under a
    # constant-size hot partition.
    "aqe_skew_join_user_tiers",
    # round 10 session 3: k-anonymity walks 5 grouping levels over the
    # replicated customer frame — 5 count-only hash aggregates, group
    # cardinality bounded by the quasi-id domain (nation x segment x
    # bucket), so expect b_time ~ 1 with a constant 5-row output.
    "k_anonymity_generalization",
)
RELATIONAL_KEYS = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
}

ALL_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _replicate_documents(spark: SparkSession, factor: int, mode: str):
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    parts = []
    for k in range(factor):
        d = docs
        if k > 0:
            if mode == "disjoint":
                # Token-level rewrite: replica shingle sets are disjoint
                # from the original's, so dup structure doesn't grow.
                text = F.regexp_replace("text", r"(\S+)", rf"$1_{k}")
            else:  # neardup: replica is a near-dup of its original
                text = F.concat("text", F.lit(f" r{k}"))
            d = d.withColumn("text", text)
            d = d.withColumn("doc_id", F.col("doc_id") + k * ID_STRIDE)
            d = d.withColumn("n_chars", F.length("text"))
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _replicate_embeddings(spark: SparkSession, factor: int):
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    parts = [emb]
    for k in range(1, factor):
        parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + k * ID_STRIDE)
            # Deterministic small perturbation: replicas are distinct
            # vectors in the same region of space (bucket structure is
            # realistic, not k identical copies of every point).
            .withColumn(
                "embedding",
                F.transform(
                    "embedding", lambda x: (x + F.lit(k * 1e-3)).cast("float")
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _replicate_supplier(spark: SparkSession, factor: int):
    sup = spark.read.parquet(f"{SRC}/supplier.parquet")
    parts = [sup]
    for k in range(1, factor):
        parts.append(
            sup.withColumn("s_suppkey", F.col("s_suppkey") + k * ID_STRIDE)
            # _kk suffix: >= 2 edits between any two replicas of one name,
            # so the ed-1 graph gains no cross-replica edges.
            .withColumn("s_name", F.concat("s_name", F.lit(f"_{k}{k}")))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _replicate_keyed(spark: SparkSession, table: str, factor: int):
    """Replica k offsets every key column (PK + the FKs referencing other
    replicated tables' PKs) by the SAME k*stride, so referential joins
    stay intact within each replica and never cross replicas."""
    base = spark.read.parquet(f"{SRC}/{table}.parquet")
    parts = [base]
    for k in range(1, factor):
        d = base
        for c in RELATIONAL_KEYS[table]:
            d = d.withColumn(c, F.col(c) + k * ID_STRIDE)
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def build_scale_dir(spark: SparkSession, factor: int, mode: str) -> str:
    dest = f"{ROOT}/{mode}/x{factor}"
    marker = f"{dest}/.complete"
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)
    if mode == "relational":
        written = set(RELATIONAL_KEYS)
        for t in RELATIONAL_KEYS:
            _replicate_keyed(spark, t, factor).coalesce(
                max(1, factor)
            ).write.mode("overwrite").parquet(f"{dest}/{t}.parquet")
    else:
        written = {"documents", "embeddings", "supplier"}
        _replicate_documents(spark, factor, mode).coalesce(
            max(1, factor)
        ).write.mode("overwrite").parquet(f"{dest}/documents.parquet")
        _replicate_embeddings(spark, factor).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dest}/embeddings.parquet")
        _replicate_supplier(spark, factor).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{dest}/supplier.parquet")
    for t in ALL_TABLES:
        if t in written:
            continue
        link = f"{dest}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{SRC}/{t}.parquet", link)
    open(marker, "w").close()
    return dest


def time_query(spark: SparkSession, name: str, sf_dir: str) -> tuple[float, int]:
    fn = QUERIES[name].fn
    best = math.inf
    for _ in range(RUNS):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    rows = fn(spark, sf_dir).count()
    return best, rows


def fit_exponent(scales: list[int], times: list[float]) -> float:
    xs = [math.log(s) for s in scales]
    ys = [math.log(t) for t in times]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--mode",
        choices=("disjoint", "neardup", "relational", "both", "all"),
        default="both",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset to time (merge keeps prior results)",
    )
    args = ap.parse_args()
    _load_all()
    spark = get_spark("scale_probe")
    plan = []
    if args.mode in ("disjoint", "both", "all"):
        plan.append(("disjoint", DISJOINT_QUERIES))
    if args.mode in ("neardup", "both", "all"):
        plan.append(("neardup", NEARDUP_QUERIES))
    if args.mode in ("relational", "all"):
        plan.append(("relational", RELATIONAL_QUERIES))

    if args.queries:
        keep = set(args.queries.split(","))
        plan = [
            (m, tuple(n for n in names if n in keep)) for m, names in plan
        ]
        plan = [(m, names) for m, names in plan if names]

    results: dict[str, dict] = {}
    for mode, names in plan:
        dirs = {s: build_scale_dir(spark, s, mode) for s in SCALES}
        # Warm pass (plan codegen + JIT) on the smallest scale.
        for name in names:
            QUERIES[name].fn(spark, dirs[SCALES[0]]).write.format(
                "noop"
            ).mode("overwrite").save()
        for name in names:
            times, rows = [], []
            for s in SCALES:
                t, r = time_query(spark, name, dirs[s])
                times.append(round(t, 3))
                rows.append(r)
            exp = round(fit_exponent(list(SCALES), times), 3)
            row_exp = (
                round(fit_exponent(list(SCALES), [max(r, 1) for r in rows]), 3)
                if min(rows) > 0
                else None
            )
            results[f"{mode}:{name}"] = {
                "mode": mode,
                "query": name,
                "scales": list(SCALES),
                "wall_s": times,
                "rows": rows,
                "time_exponent": exp,
                "rows_exponent": row_exp,
            }
            print(
                f"{mode:9s} {name:32s} t={times} rows={rows} "
                f"b_time={exp} b_rows={row_exp}",
                flush=True,
            )

    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")
    os.makedirs(out_dir, exist_ok=True)
    out_path = os.path.join(out_dir, "scale_probe.json")
    # Merge with any prior run's results so per-mode invocations
    # accumulate into one file instead of clobbering the other modes.
    merged: dict = {}
    if os.path.exists(out_path):
        try:
            with open(out_path) as fh:
                merged = json.load(fh).get("results", {})
        except (OSError, ValueError):
            merged = {}
    merged.update(results)
    payload = {
        "source": SRC,
        "scales": list(SCALES),
        "runs_per_point": RUNS,
        "load_1m_end": round(os.getloadavg()[0], 2),
        "results": merged,
    }
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps({k: v["time_exponent"] for k, v in results.items()}))


if __name__ == "__main__":
    main()
