"""Generate PLANS.md — physical-plan evidence for the headline queries.

For each selected query this prints the executed/analyzed formatted plan
plus the scale-relevant markers the 100-TB design hinges on:

* ``PushedFilters`` / ``ReadSchema`` — predicates and projections reach
  the parquet scan (no full-table reads for narrow queries);
* ``WholeStageCodegen`` span count — how much of the plan stays inside
  JVM codegen;
* ``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` vs ``BatchEvalPython``
  — every Python crossing is Arrow-vectorized, never per-row;
* ``BroadcastHashJoin`` vs ``SortMergeJoin`` vs any accidental
  ``CartesianProduct`` / ``BroadcastNestedLoopJoin``;
* ``Exchange`` count — the shuffles the query actually pays for.

Usage: python tools/dump_plans.py [sf_dir] (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the queries whose plans carry the design argument; one per plan family
PLAN_QUERIES = [
    "classify_spans",     # codegen'd trie when-chain over the scan
    "extract_receipts",   # full pipeline: salted exchange + 1 Arrow stage
    "span_reassembly",    # reassembly agg on top of the pipeline
    "customer_revenue",   # relational join+agg (AQE broadcast)
    "lineitem_agg",       # scan-side filter pushdown + hash agg
    "top_tokens",         # TakeOrderedAndProject, no global sort
    "asof_click_view",    # union+window single-shuffle as-of join
    "asof_click_view_salted",  # skew-split (key, bucket) as-of twin
    "simhash_near_dup",   # banded self-join, no cartesian
    "ivf_top3",           # broadcast centroids ANN
    "doc_group_summary",  # grouped-map Arrow tier
    "hash_split",         # map-only, zero-Exchange split
    "extract_receipts_full",  # nested-schema parse; 1 Arrow stage pinned
    "near_dup_srp",       # SRP banded join + exact verify, no cartesian
    "dedup_clusters",     # pointer-jumping CC: bounded rounds, no loop UDF
    "pack_sequences",     # bucketed-window packing, no global sort
    "length_curriculum",  # boundary-bin: window over value histogram only
    "kmeans_clusters",    # final-assign pass: broadcast centroids, no SMJ
    "block_dedup",        # digest hash-agg owner + digest equi-join, no window
    "gopher_rep",         # (doc,gram) hash-agg + per-doc argmax window
    "semantic_dedup",     # within-cluster pair join on top of kmeans assign
    "decontaminate",      # 2 broadcast joins, corpus side never shuffles
    "dsir_select",        # B-row model broadcast into scoring join + top-k
    "domain_cap",         # tiny agg -> broadcast thresholds -> map filter
    "char_entropy",       # per-row HOF arithmetic: zero Exchange
    "weighted_sample",    # map-side A-Res score + TakeOrdered, no sort
    "bm25_topk",          # map-side scoring scan + TakeOrdered, no window
    "url_filter",         # canon regex chain + broadcast left-anti
    "token_budget",       # one hash-agg + broadcast recipe join
    "normalize_text",     # literal/regex replace chain: zero Exchange
    "curate",             # all gates map-side + 1 narrow digest exchange
    "incremental_dedup",  # batch-vs-index equi-joins on digests; sig-agree
                          # verify touches candidate pairs only, no cartesian
    "nb_quality",         # vocab-sized NB model broadcast into scoring join;
                          # pareto keep map-side on top
    "contrastive_triplets",  # LSH positives + one-bucket negative draw;
                             # all equi-joins, no cartesian
    "winnow_fp",          # per-row HOF winnowing: materialized gram array,
                          # zero Exchange before the explode
    "pq_codes",           # PQ compression: codebook-literal argmin folds,
                          # map-only encode (zero Exchange)
    "pq_adc_top3",        # ADC search: literal lookup tables, m lookups/row,
                          # only exchange is the per-query top-k window
    "ivfpq_top3",         # IVF-PQ composition: coarse-assign projection +
                          # residual encode map-only; per-list ADC when-chain
    "containment_rerank",  # candidates-only verify join, no cartesian
    "kmv_overlap",        # sketch build = distinct + per-group window;
                          # pair combine joins G sketch rows only
    "rrf_fusion",         # bounded candidate lists: TakeOrdered sparse +
                          # per-probe dense windows + fusion hash-agg
    "bitext_mine",        # SRP-banded margin mining: banded equi-join
                          # candidates + hamming gate, margin degs as
                          # candidate-space windows — no cartesian
    "bitext_mine_exact",  # brute all-pairs baseline (tail, documented)
    "matryoshka_rerank_top3",  # truncated-prefix LSH shortlist +
                               # full-dim rerank; equi-joins only
    "bmp_decode_phash",   # REAL-codec branch: 2 MapInPandas stages
                          # (synth + decode), codegen'd phash fold
    "phash_near_dup",     # mapInPandas decode -> codegen'd bit fold ->
                          # banded hamming self-join, no cartesian
    "bloom_join_stats",   # scan-speed array_contains prefilter ->
                          # broadcast exact join; no data-sized exchange
    "event_moving_stats",  # single per-user RANGE-frame window exchange
    "interval_overlap",   # bucketed range join: (key, bucket) equi-join +
                          # owner-bucket dedup filter, no inequality join
    "pagerank_trade",     # Pregel rounds: edges join node-sized ranks +
                          # dst hash-agg per iteration, nothing collected
    "regional_revenue",   # TPC-H Q5 star join: dims broadcast, fact
                          # table never shuffles for a dim lookup
    "embedding_gram",     # distributed PCA reduction: one MapInPandas
                          # matmul per batch, shuffle carries D^2 partials
    "line_dedup",         # CCNet line dedup: count agg + left-anti join
                          # against flagged lines only, ordered rebuild
    "late_orders",        # TPC-H Q4: EXISTS as ONE LeftSemi hash join,
                          # no match-list inflation, no distinct
    "fuzzy_pairs",        # ER blocker: (prefix, len-bucket) equi-join +
                          # levenshtein verify on candidates, no cartesian
    "event_gapfill",      # per-key bucket grid (sequence explode) +
                          # LOCF window: key-partitioned exchanges only
    "scd2_customer",      # SCD2 merge: open ∪ batch -> one key window
                          # pass (lag detect + lead close), history
                          # rows never shuffle
    "funnel_users",       # strict-order funnel: map-side type filter,
                          # ONE key shuffle, aggregate-HOF fold (no
                          # join chain, no Python)
    "part_triangles",     # degree-oriented wedge join: equi-joins
                          # only, out-degree bounded, no cartesian
    "customer_neighbors",  # grid-cell spatial join: 3x3 explode +
                           # cell equi-join + exact verify, no
                           # cartesian, no distinct shuffle
    "postings_index",     # inverted index: df-gate count agg BEFORE the
                          # collect_list agg (hot-term array never built
                          # for dropped stopwords); both aggs hash on term
    "jl_project",         # JL projection: ONE MapInPandas matmul, zero
                          # Exchange — pure map-side projection
    # matryoshka_top3 is NOT dumped: it composes the cosine_topk
    # crossJoin BASELINE (like cosine_top3, also undumped); its own
    # claim — plan-side slice, zero Python — is pinned by
    # tests/test_functions_similarity.py::test_matryoshka_topk_no_python_in_plan
    # bitext_recall / srp_recall are NOT dumped: each audit executes its
    # brute twin BY DESIGN (capped to a deterministic hash-sample slice
    # as of r5), so their plans legitimately contain the cartesian the
    # marker table flags — the capped shape is documented in COVERAGE.md
    # and gated by tests, not by this dump.
]

MARKERS = [
    ("WholeStageCodegen", r"WholeStageCodegen \(\d+\)"),
    ("Exchange", r"^\s*[*+:\- ]*Exchange\b|\bExchange (hashpartitioning|rangepartitioning|SinglePartition)"),
    ("ArrowEvalPython", r"ArrowEvalPython"),
    ("FlatMapGroupsInPandas", r"FlatMapGroupsInPandas"),
    ("BatchEvalPython (row-Python — must be 0)", r"BatchEvalPython"),
    ("BroadcastHashJoin", r"BroadcastHashJoin"),
    ("SortMergeJoin", r"SortMergeJoin"),
    ("CartesianProduct (must be 0 here)", r"CartesianProduct"),
    ("BroadcastNestedLoopJoin", r"BroadcastNestedLoopJoin"),
    ("TakeOrderedAndProject", r"TakeOrderedAndProject"),
]


#: tokens that differ between runs of the same plan: expression ids,
#: plan ids, JVM object identities and the corpus cache key (a hash of
#: the test data's mtime)
VOLATILE = [
    (re.compile(r"#\d+"), "#n"),
    (re.compile(r"plan_id=\d+"), "plan_id=n"),
    (re.compile(r"(\.[A-Z]\w*)@[0-9a-f]+\b"), r"\1@h"),
    (re.compile(r"spark_graft_corpus_[0-9a-f]+"), "spark_graft_corpus_<key>"),
]


def formatted_plan(df) -> str:
    """The formatted plan with its volatile tokens masked, so PLANS.md
    changes only where a plan does."""
    from nolock_social_ocr_services_spark.plans.inspect import explain_str

    plan = explain_str(df)
    for pat, repl in VOLATILE:
        plan = pat.sub(repl, plan)
    return plan


def marker_table(plan: str) -> str:
    rows = []
    for label, pat in MARKERS:
        n = len(re.findall(pat, plan, flags=re.MULTILINE))
        if n or "must be 0" in label:
            rows.append(f"| {label} | {n} |")
    pushed = sorted(set(re.findall(r"PushedFilters: \[[^\]]*\]", plan)))
    out = "| marker | count |\n|---|---|\n" + "\n".join(rows)
    if pushed:
        shown = [p[:160] for p in pushed if p != "PushedFilters: []"][:4]
        if shown:
            out += "\n\nPushed filters reaching the scan:\n"
            out += "\n".join(f"- `{p}`" for p in shown)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry
    from nolock_social_ocr_services_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    qs = entry.queries()
    lines = [
        "# PLANS — physical-plan evidence (generated by tools/dump_plans.py)",
        "",
        f"Input: `{sf_dir}`, {spark.sparkContext.master}, AQE on. Every Python crossing is",
        "Arrow-vectorized (`ArrowEvalPython`/`FlatMapGroupsInPandas`);",
        "`BatchEvalPython` (row-at-a-time Python) appears 0 times in every",
        "plan below. Shuffle (`Exchange`) counts are the minimum the",
        "query semantics require; joins over driver tables resolve to",
        "broadcast where one side is small. Notes: `classify_spans`'s",
        "BroadcastNestedLoopJoin is the deterministic corpus GENERATOR",
        "(a one-row literal array exploded against the seed scan), not a",
        "data-sized join; `top_tokens`' unpartitioned Window ranks only",
        "the <=20 rows surviving TakeOrderedAndProject (the distributed",
        "top-k), so its single partition holds 20 rows by construction;",
        "`pagerank_trade` is ITERATIVE (4 unrolled Pregel rounds), so its",
        "static plan repeats the per-round join+agg 4x and re-prints the",
        "persisted edge/node/degree tables' derivation inside every",
        "InMemoryRelation reference — the EXECUTED per-round cost is one",
        "edges-joins-ranks hash join plus one dst hash-agg over cached",
        "inputs, and the marker counts for this query overstate by that",
        "reprinting.",
        "",
    ]
    for name in PLAN_QUERIES:
        if name not in qs:
            continue
        df = qs[name](spark, sf_dir)
        plan = formatted_plan(df)
        # keep PLANS.md reviewable: every node line, but elide the
        # multi-KB codegen'd expressions inside a node
        tree_lines = [
            (ln[:220] + " …") if len(ln) > 220 else ln
            for ln in plan.rstrip().splitlines()
            if ln.strip()
        ][:90]
        tree = "\n".join(tree_lines)
        lines += [
            f"## {name}",
            "",
            marker_table(plan),
            "",
            "```",
            tree.strip(),
            "```",
            "",
        ]
    out = os.path.join(REPO, "PLANS.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
