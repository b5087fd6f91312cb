"""Physical-plan guardrail: audit every catalog query for anti-patterns.

Flags, per query:
  * CartesianProduct          — accidental cross joins
  * BroadcastNestedLoopJoin   — how Spark plans inequality-only joins:
                                O(n·m) compares. Allowlisted only where a
                                small broadcast side makes it the correct
                                exact algorithm (cosine_topk / IVF probe)
  * BatchEvalPython           — row-at-a-time Python UDFs in the plan
                                (Arrow variants MapInPandas/ArrowEvalPython
                                are fine and reported separately)
  * exchange count            — shuffle budget; review anything that grows
  * DUP_EXPR                  — an EXPENSIVE expression (md5/xxhash64/
                                aggregate-fold/regexp_replace) appearing in
                                a Filter or scan DataFilters AND in a
                                Project: the guard-double-evaluation
                                anti-pattern. Filtering on a COMPUTED
                                column's null-ness lets Catalyst push
                                isnotnull(expr) into the scan, where the
                                full expression runs a SECOND time per
                                row. Fix: filter the RAW column before the
                                projection (r9 shipped three of these;
                                this check would have caught all three)

Run after adding operators: a correct-but-shuffle-happy plan is a bug
at 100 TB even when the oracle passes.

Usage: python tools/plan_audit.py [--sf DIR] [--max-exchanges N]
"""

from __future__ import annotations

import argparse
import sys

import os

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: Documented exceptions: queries whose higher shuffle count is the
#: deliberate design (with the reason).
ALLOWED_EXCHANGES = {
    # hot/cold split = detection count + 2 joins + union merge; the
    # extra exchanges ARE the skew mitigation
    "salted_join_events_users": 12,
    # the distinct basket table feeds FOUR independent consumers (pair
    # self-join both sides, item totals, basket count) — each re-derives
    # or reuses the distinct exchange; item/basket totals are k-row
    "assoc_rules_events": 10,
    # 4 OR-ed LSH tables × shuffled self-join (2 small exchanges each)
    # + final pair dedupe; the shuffles replace a broadcast that would
    # recompute the bucket pipeline once per join side
    "embed_near_dup_pairs": 10,
}

#: Queries where a BroadcastNestedLoopJoin is the deliberate exact
#: algorithm: a SMALL broadcast side (query set / centroid probes) joined
#: on an inequality against the partitioned corpus — linear in the
#: corpus, not quadratic. Everything else must be equi-join shaped.
ALLOWED_BNLJ = {
    # broadcast query set × corpus (query_id != neighbor_id) + broadcast
    # probe set with post-probe inequality filter — linear in the corpus
    "ann_topk_exact_ivf",
    # 1-row scalar broadcast (global threshold aggregate crossJoined onto
    # the scan): with exactly one broadcast row the nested loop is
    # O(left side) — the correct plan for a scalar subquery at scale
    # (an unpartitioned window over the scan would funnel to 1 partition)
    "q22_inactive_customers",
    "q11_important_parts",
    # 1-row vocabulary-size broadcast in the smoothing denominator
    "bigram_familiarity_docs",
    # 1-row global-count / normalizing-total broadcasts (same scalar-
    # subquery shape as q11/q22)
    "key_skew_profile_events",
    "domain_mix_weights_langs",
    # 1-row dense probe broadcast crossJoined onto the embedding corpus
    # (the dense half of the RRF fusion) — linear in the corpus
    "rrf_hybrid_retrieval",
    # k-row centroid broadcast × partitioned corpus: O(n·k), THE
    # k-means assignment plan (k is a constant, never corpus-sized)
    "kmeans_embeddings",
    # 1-row corpus-stats broadcast (N, total_tokens → avgdl) crossJoined
    # onto the doc-keyed tf table — same scalar-subquery shape as q11/q22
    "bm25_search_docs",
    # 1-row SQ8 dim-stats broadcast (quantizer codebook) + broadcast
    # probe-codes set × corpus (query_id != neighbor_id) — the same
    # broadcast-probe inequality as ann_topk_exact_ivf, linear in corpus
    "sq8_ann_topk",
    # 1-row q_total scalar broadcast into the k-domain quota table —
    # same scalar-subquery shape as domain_mix_weights
    "temperature_resample_docs",
    # 1-row basket-count scalar broadcast (support/lift denominator)
    "assoc_rules_events",
    # 1-row max(o_orderkey) scalar broadcast — the collision-free
    # insert-key offset (same scalar-subquery shape as q11/q22)
    "cdc_merge_orders",
    # 1-row Bloom-bitmap broadcast (64 KiB map) crossJoined onto the
    # fact scan — the runtime-filter prefilter; O(fact) with a
    # constant-size broadcast side
    "bloom_prefilter_join",
    # 1-row corpus-token-total scalar broadcast (KL denominator)
    "kl_divergence_sources",
    # 1-row N-docs scalar broadcast (idf numerator — replaced the last
    # driver-side .count() in an operator path)
    "tfidf_top_terms",
    # 1-row min/max stats broadcast (era midpoint + bin edges) — same
    # scalar-subquery shape as q11/q22
    "psi_drift_events",
    # k-row centroid broadcast × partitioned corpus — the kmeans
    # assignment plan riding inside semdedup's clustering phase
    "semdedup_embeddings",
    # 20-row anchor broadcast × partitioned corpus (a_id != vec_id):
    # the batch-hard mining sweep — linear in the corpus, same shape
    # as ann_topk_exact_ivf
    "triplet_mining_embeddings",
    # 1-row pooled-count broadcast (the documented scalar crossJoin)
    "quantile_normalize_docs",
    # 1-row total-piece-uses broadcast (the EM M-step denominator —
    # same scalar-subquery shape as q11/q22)
    "unigram_train_step",
    # 1-row train-token-total broadcast (the stupid-backoff denominator)
    "bigram_backoff_logprob_docs",
    # eval-set needle broadcast × partitioned corpus: the exact-match
    # decontamination sweep — linear in the corpus
    "exact_decontamination_hits",
    # 1-row total-token-count broadcast (the documented scalar crossJoin)
    "pmi_phrases_docs",
    # k-row label-centroid broadcast × partitioned corpus — the kmeans
    # assignment shape, reused for class-separability scoring
    "silhouette_labels_embeddings",
    # 20-row probe broadcast × partitioned corpus — the ann sweep,
    # reused for the label-noise audit
    "knn_label_noise",
    # two BOUNDED crossjoins in the TRAIN phase: the L-label × 512-
    # bucket weight grid and the 1-row prior-denominator scalar —
    # both sides constant-sized, never corpus-sized
    "nb_classify_lang_docs",
    # cosine_topk's broadcast-probe inequality join (3 query rows ×
    # partitioned corpus) riding inside the MMR pool build — the
    # ann_topk_exact_ivf shape
    "mmr_rerank_embeddings",
}


#: Function tokens expensive enough that evaluating them twice per row
#: (once in a pushed-down filter, once in the projection) is a real
#: scan-CPU regression at 100 TB. Cheap predicates (isnotnull on a raw
#: column, comparisons) are fine in filters and are not listed.
EXPENSIVE_EXPRS = (
    "md5(",
    "xxhash64(",
    "aggregate(",
    "regexp_replace(",
    "sha2(",
    "crc32(",
    # array HOFs: a per-row array rebuild duplicated into a scan filter
    # is the same 2× scan-CPU bug as a duplicated hash (the balanced-
    # expression comparison keeps legitimate different-expression
    # filters from flagging)
    "transform(",
    "zip_with(",
    "arrays_zip(",
    # tokenization: cheaper than md5 per byte, but a tokenize duplicated
    # into a scan filter still doubles the dominant cost of text
    # operators at corpus scale
    "split(",
)

#: Queries where an expensive expression legitimately appears in BOTH a
#: filter and a projection: the filter semantics genuinely depend on
#: the computed VALUE, not merely its null-ness, so there is no
#: raw-column predicate that could replace it. Add only after a plan
#: read proves the duplication is load-bearing.
ALLOWED_DUP_EXPR: set[str] = {
    # the eval split SELECTS rows by the md5 bucket value (hash < 20)
    # and the projection labels survivors with the same hash — the
    # filter is a 20% selectivity cut, so the duplicated md5-on-bigint
    # runs only on survivors; restructuring would push the filter back
    # through any projection and re-derive it identically
    "sample_splits_docs",
    # the gopher_keep quality GATE is the operator: the filter selects
    # by the computed stats' VALUES (token count >= 30, symbol ratio,
    # stop hits...), and the report projection re-derives a subset on
    # the SURVIVORS only — no raw-column predicate can replace a
    # quality gate
    "daily_ingest_pipeline",
    "corpus_prep_pipeline",
}


def _balanced_exprs(text: str, token: str) -> set[str]:
    """Every full ``token(...)`` call substring in text, parens balanced.

    Plan lines are often TRUNCATED by Spark's string renderer ("..."),
    so an unclosed call is returned as-is up to the cut — prefix
    matching downstream still distinguishes md5(text#1) from
    md5(doc_id#0)."""
    out: set[str] = set()
    start = 0
    while True:
        i = text.find(token, start)
        if i < 0:
            return out
        # word boundary: "aggregate(" must not match inside
        # "HashAggregate(" / "partial_aggregate(" renders
        if i > 0 and (text[i - 1].isalnum() or text[i - 1] == "_"):
            start = i + len(token)
            continue
        depth, j = 0, i + len(token) - 1  # j at the opening paren
        while j < len(text):
            if text[j] == "(":
                depth += 1
            elif text[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        out.add(text[i : j + 1])
        start = i + len(token)


def dup_expensive_exprs(plan: str) -> list[str]:
    """Expensive-function CALLS (full balanced-paren expression text)
    that appear both in a Filter/DataFilters line and in a
    Project/HashAggregate line of the plan — the guard-double-
    evaluation anti-pattern: each hit means the same expression is
    evaluated twice per row, once at the scan and once in the project.
    Token-only matching over-flags (hash_bucket's md5-on-id filter vs a
    fingerprint md5-on-text projection are DIFFERENT expressions), so
    the comparison is on the expression text; truncated renders
    ("...") are compared by common prefix.
    """
    filter_text: list[str] = []
    project_text: list[str] = []
    for line in plan.splitlines():
        stripped = line.lstrip(" +-:*()0123456789")
        if stripped.startswith("Filter ") or "DataFilters: [" in line:
            filter_text.append(line)
        if stripped.startswith("Project ") or stripped.startswith("HashAggregate("):
            project_text.append(line)
    fil, proj = "\n".join(filter_text), "\n".join(project_text)
    hits: list[str] = []
    for tok in EXPENSIVE_EXPRS:
        f_exprs = _balanced_exprs(fil, tok)
        p_exprs = _balanced_exprs(proj, tok)
        for fe in f_exprs:
            if any(_same_expr(fe, pe) for pe in p_exprs):
                hits.append(tok)
                break
    return hits


def _same_expr(fe: str, pe: str) -> bool:
    """Two rendered expressions are 'the same call' iff they compare
    EQUAL when both renders are complete; only a truncated render
    (Spark's '...' cut, which leaves the balanced-paren scan running
    off the end of the line) falls back to prefix matching (r10
    ADVICE: prefix-only matching false-positived two different
    expressions sharing a 60-char common prefix). A healthy 60-char
    prefix is still required so `md5(` alone never matches."""

    def truncated(e: str) -> bool:
        return "..." in e or not e.endswith(")")

    if not truncated(fe) and not truncated(pe):
        return fe == pe
    return bool(fe[:60]) and (pe.startswith(fe[:60]) or fe.startswith(pe[:60]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--max-exchanges", type=int, default=8)
    ap.add_argument(
        "-q", "--query", action="append",
        help="audit only these entries (prefix match; repeatable)",
    )
    args = ap.parse_args()

    from tada_spark.queries import CATALOG
    from tada_spark.session import get_spark

    spark = get_spark("tada_spark_plan_audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")

    from tada_spark.streaming import windows as _sw

    failures = 0
    for name, (fn, _sql) in CATALOG.items():
        if args.query and not any(name.startswith(p) for p in args.query):
            continue
        try:
            if name.startswith("stream_"):
                # an UNSTARTED streaming frame refuses QueryExecution, so
                # the auditable plan is the one the executed micro-batch
                # ran: run the entry to completion at the (tiny) audit SF
                # and read run_available_now's captured explainInternal —
                # the REAL plan including StateStore/watermark operators
                # (r11 verdict #6: these 14 entries were SKIP before)
                _sw.LAST_EXPLAINS.clear()
                fn(spark, args.sf)
                if not _sw.LAST_EXPLAINS:
                    print(f"{name:35s} SKIP (no captured streaming plan)")
                    continue
                plan = "\n".join(_sw.LAST_EXPLAINS.values())
            else:
                df = fn(spark, args.sf)
                plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"{name:35s} ERROR {type(e).__name__}: {str(e)[:100]}")
            failures += 1
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan and name not in ALLOWED_BNLJ:
            flags.append("BNLJ")
        if "BatchEvalPython" in plan:
            flags.append("ROW_PYTHON_UDF")
        dup = dup_expensive_exprs(plan)
        if dup and name not in ALLOWED_DUP_EXPR:
            flags.append("DUP_EXPR(" + ",".join(t.rstrip("(") for t in dup) + ")")
        # shuffle exchanges only: BroadcastExchange/ReusedExchange are
        # not shuffles
        nex = sum(
            "Exchange" in line and "BroadcastExchange" not in line and "ReusedExchange" not in line
            for line in plan.splitlines()
        )
        budget = ALLOWED_EXCHANGES.get(name, args.max_exchanges)
        if nex > budget:
            flags.append(f"EXCHANGES>{budget}")
        arrow = plan.count("ArrowEvalPython") + plan.count("MapInPandas") + plan.count(
            "FlatMapGroupsInPandas"
        )
        status = "FLAG" if flags else "ok"
        if flags:
            failures += 1
        print(f"{name:35s} {status:4s} exchanges={nex:2d} arrow_udf={arrow} {' '.join(flags)}")

    print(f"\n{failures} flagged")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
