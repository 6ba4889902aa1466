"""Query registry: name → batch callable + DuckDB oracle SQL.

Every operator claimed in SURVEY.md §2 has a named query here; the
driver runs the Spark callable and the oracle side-by-side at sf0.01
(row count + schema + order-insensitive value hash).  Specs with
``oracle=None`` are hash-function-dependent (MinHash/SimHash/LSH) and
get the weaker rows-only check.

Column-name discipline: every computed column is aliased identically
in the DataFrame code and the SQL (the driver sorts columns by name
before hashing).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    # True for queries whose output schema contains array/map/struct
    # cells: the driver's pandas hasher cannot hash those, so the query
    # must never occupy one of the 50 recorded gate slots.  The local
    # harness compares it with the Python-native (list→tuple) path.
    nonscalar: bool = False


# The driver records CORRECTNESS entries for only the FIRST 50 registry
# queries, so insertion order decides which get hard driver verification.
# GATE_PRIORITY explicitly names all 50 gate slots.
#
# Rotation policy (round 4+): the bar is a green driver CORRECTNESS row
# for EVERY oracle-backed query, achieved by rotating the gate across
# rounds while pinning a stable flagship core.
#   - PINNED every round (26): the 7 reference-parity clickstream
#     queries, the 5 benched TPC-H shapes, the 12 LLM-data
#     dedup/similarity anchors, and any query fixed in the previous
#     round (needs a fresh driver row to prove the fix).
#   - ROTATING (24): never-driver-verified queries, oldest-first;
#     once a query has a green driver row in some CORRECTNESS_r*.json
#     it is eligible to rotate out for the next never-verified one.
#   - NEVER GATED: queries whose output schema is non-scalar
#     (array/map/struct cells — e.g. user_event_type_arrays).  The
#     driver hashes cells through pandas factorize, which raises
#     `unhashable type: 'list'` on them; they keep local-harness
#     coverage only.  tests/test_correctness.py asserts every gated
#     schema is scalar.
# Round-4 rotation: 24 never-verified queries promoted (driver-verified
# history: r1-r3 green rows recorded in CORRECTNESS_r0{1,2,3}.json for
# the 24 demoted extras-module queries).
# Round-6 rotation: the last 2 never-driver-verified oracle queries
# (customers_without_urgent_orders, customers_never_big_purchase)
# promoted; user_event_type_sets + source_number_stats demoted (green
# in r4 AND r5 — the round-4 fix is proven).  After this round every
# oracle-backed scalar query has a green driver row in some
# CORRECTNESS_r*.json.
# Round-7 rotation (large): this round ADDED 21 oracle-backed queries
# (the tpch_deep decision-support module Q2/Q8/Q9/Q11/Q13/Q15/Q16/Q17/
# Q20/Q21/Q22, the earlier-in-round Q4/Q7/Q12/Q19 +
# doc_cluster_aware_split + doc_tfidf_top_terms, and the LLM-data
# quartet doc_token_budget_sample / source_mixture_weights /
# boilerplate_ngrams / curation_funnel_report).  All 21 rotate in for
# their first driver rows; demoted to the tail are the 21 queries green
# in r4+r5+r6 (customers_without_urgent_orders,
# customers_never_big_purchase, q18, sql_user_ltv_rank, json_props_*,
# events_profile, revenue_rollup_region_nation, order_cumulative_revenue,
# doc_lang_id, doc_fingerprints*, lang_source_stats,
# doc_repetition_scores, lang_balanced_docs, doc_nchars_winsorized,
# doc_length_histogram, embedding_label_centroids, brand_best_part,
# nation_revenue_share, order_priority_cube).  Retained beyond the
# pinned core: the 3 benched analytics legs (anomaly_minutes,
# top3_parts_per_brand, word_freq_top20), doc_unigram_logprob (new in
# r7, still needs its first row) and embedding_label_pairs (r6 fix —
# one extra confirming row).
# Round-8 rotation: the declared r8 queue (the 7 oracle-backed queries
# added late in r7 after the gate filled) rotates in for its first
# driver rows: dau_wau_stickiness, doc_winnow_fingerprints,
# doc_winnow_dups, doc_quality_weighted_sample, embedding_quant_error,
# doc_validation_report, text_embedding_disagreement.  Demoted are 7
# r7-green rows: doc_unigram_logprob (first row landed green in r7)
# and embedding_label_pairs (r6-fix confirming row landed green in r7),
# plus 5 of the r7 rotation batch (q4_late_order_priorities,
# q7_nation_pair_volume, q12_priority_by_linestatus,
# q19_disjunctive_revenue, doc_cluster_aware_split — all green in
# CORRECTNESS_r07.json).  After this round, EVERY oracle-backed scalar
# query in the registry has a green driver row in some
# CORRECTNESS_r*.json — the rotation goal is closed; future rounds
# only need to gate newly-added or newly-fixed queries.
# Round-9 rotation: the declared r9 queue rotates in for first driver
# rows: doc_trimmed_corpus (the trim action paired with the gated
# doc_dup_span_fraction signal), lang_confusion_matrix,
# cross_source_dup_leakage (empty/short-prefix fix this round — the
# gate row also proves the fix).  Demoted per the standing policy are
# 3 doubly-verified rows (green in BOTH r7 and r8):
# q11_important_parts, q16_part_supplier_counts, q22_idle_customers.
# Round-10 rotation: the declared r10 queue rotates in for first
# driver rows — weekly_retention_cohorts (cohort-retention triangle),
# doc_ngram_novelty (per-doc distinct-trigram novelty) — plus
# embedding_pq_adc_report (NEW r10: the PQ family's oracle-backed
# anchor-codebook ADC audit, closing the r9 verdict's 'PQ has no
# registry query' gap).  Demoted per the standing policy are 3
# doubly-verified rows (green in BOTH r8 and r9, none benched):
# doc_winnow_fingerprints, doc_quality_weighted_sample,
# doc_validation_report.  lang_confusion_matrix stays gated: its r10
# single-pass rewrite (join removed) needs a fresh proving row.
# Round-11 rotation: the declared r11 queue rotates in for first
# driver rows — pq_code_balance (per-subspace code-usage audit),
# ngram_jaccard_histogram (candidate-pair Jaccard distribution) —
# plus embedding_ivf_topk_learned (rows-only by design: kmeans float
# averaging is not SQL-replayable; the driver records the weaker
# rows-only check, giving the r10 learned-cluster recall-1.0 result
# its first hard external signal, per the r10 verdict).  Demoted per
# the standing policy are 3 doubly-verified rows (green in BOTH r9
# and r10, none benched): text_embedding_disagreement (also r8),
# doc_trimmed_corpus, cross_source_dup_leakage.
# lang_confusion_matrix stays one more round for its post-rewrite
# confirming row (the embedding_label_pairs precedent: fix-proving
# row + one confirming row, then demote).
# r12 rotation queue (added in r11 after the gate was set):
# ivfpq_topk_probe (rows-only: IVF+PQ residual ANN — the r10
# verdict's recall-floor fix) and doc_numeric_profile (oracle-backed
# per-source numeric-token profile).  Both IMPLEMENTED in r11
# (plans/llmdata.py) and locally green — ivfpq exhaustive-parity +
# recall-floor pinned in tests, doc_numeric_profile oracle-exact at
# the battery scales.  Rotate these in next round, demoting
# doubly-verified rows per the standing policy.
# r13 rotation queue (added in r11 after the r12 pair landed):
# doc_token_entropy (oracle-backed: per-doc Shannon entropy via the
# single-pass ln N − Σ tf·ln tf / N identity + type-token ratio) and
# source_unigram_kl (oracle-backed: per-source KL vs the corpus
# unigram distribution — the mixture-health audit), plus
# doc_length_quantiles (oracle-backed: per-source EXACT discrete
# quantiles via integer (p·n+99)//100 ranks).  All three implemented
# r11 (plans/llmdata.py) and locally green; rotate in at r13.
# Round-12 rotation (executed): the backlog was 5 queries across the
# declared r12+r13 queues and exactly 5 gate rows were doubly-verified
# and eligible, so BOTH queues rotate in at once — ivfpq_topk_probe
# (rows-only: PQ codebooks + kmeans coarse clusters are float-trained,
# not SQL-replayable; allowlisted in tests/test_correctness.py),
# doc_numeric_profile, doc_token_entropy, source_unigram_kl,
# doc_length_quantiles.  Demoted per the standing policy:
# lang_confusion_matrix (green r9+r10+r11 — the promised post-rewrite
# demotion), doc_tfidf_top_terms (green r7–r11), and the r10 rotation
# trio weekly_retention_cohorts / doc_ngram_novelty /
# embedding_pq_adc_report (each green r10+r11; all three stay benched
# in BENCH_EXTENDED, so a regression still moves a recorded number
# and a pinned digest).  pq_code_balance + ngram_jaccard_histogram
# (first rows r11) stay for their confirming rows;
# embedding_ivf_topk_learned stays for a confirming rows-only row.
# r13 rotation queue (added in r12 after the gate was set): three NEW
# oracle-backed queries — customer_rfm_segments (plans/extras.py: RFM
# quartile segmentation via broadcast integer-rank thresholds, the
# no-global-ntile shape), conversion_latency_quantiles
# (plans/funnel.py: first-view→first-purchase latency distribution,
# exact microsecond ranks) and source_dup_rate (plans/llmdata.py:
# per-source exact-dup fraction over corpus-wide md5 groups).  All
# implemented + locally oracle-green at sf0.001/sf0.01 under a
# foreign-tz session in r12, benched in BENCH_EXTENDED with pinned
# digests ahead of rotation; rotate in at r13, demoting
# doubly-verified rows per the standing policy.
# r14 rotation queue (added in r12 after the r13 trio):
# embedding_topk_batch (plans/llmdata.py: batched exact ANN — one
# corpus pass serves 5 queries via WindowGroupLimit per-query top-k) and
# user_inter_event_gap_quantiles (plans/funnel.py: per-user
# inter-event gap distribution — the sessionization-timeout input).
# Both oracle-backed, locally green at sf0.001/sf0.01.
# r15 rotation queue (added late in r12 after the r13+r14 queues):
# three NEW oracle-backed queries, each a NEW operator family —
# page_rank_pages (plans/funnel.py: fixed-iteration weighted PageRank
# over the page-transition graph via operators/components.pagerank;
# chained-CTE oracle, per-round 12-dp fixed-point rounding),
# purchase_hot_window_join (plans/funnel.py: binned interval-point
# RANGE JOIN via operators/rangejoin.py — oracle states the theta
# join, impl runs the bin equi-join) and nation_revenue_trend
# (plans/extras.py: grouped OLS slope/intercept from exact decimal
# sufficient statistics via operators/stats.py).  All three
# oracle-green at sf0.001/sf0.01/sf0.1, property-tested against
# pure-Python / numpy / naive-theta references, benched in
# BENCH_EXTENDED with pinned digests ahead of rotation; rotate in
# after the r13+r14 queues, demoting doubly-verified rows per the
# standing policy.
# r16 rotation queue (added late in r12 after the r15 trio): three
# NEW oracle-backed queries — orders_in_flight_daily (plans/extras.py:
# sweep-line interval accumulation, +1/−1 deltas + days-sized cumsum,
# no interval explode) and daily_revenue_ewma (plans/extras.py: 7-day
# EWMA with Python-literal decay coefficients; the oracle CASTs every
# literal AS DOUBLE because DuckDB otherwise runs the chain in exact
# DECIMAL — see _ewma_oracle), plus source_len_token_corr
# (plans/llmdata.py: per-source Pearson corr of n_chars vs token
# count via operators/stats.group_corr — tokenization-density
# consistency; sqrt is IEEE correctly-rounded, so oracle-bit-exact).
# All oracle-green at
# sf0.001/0.01/0.1, benched + digest-pinned ahead of rotation.  The
# mergeable-sketch trio (weekly_user_hll_rollup /
# weekly_retention_theta / purchase_value_kll_quantiles) stays
# rows-only-by-nature in the tail (DataSketches estimates; exact-twin
# error-bound tests) — not queued for gate slots.
# r17 rotation queue (added late in r12 after the r16 trio): the
# retrieval pair plus the fixed-size sampler — bm25_topk_docs (plans/llmdata.py via
# operators/retrieval.py: BM25 lexical top-10, idf dround(12) after
# ln, all SQL literals CAST AS DOUBLE, per-doc sum dround(6), id
# tiebreak) and hybrid_search_rrf (BM25 top-20 + embedding-cosine
# top-20 fused by reciprocal-rank fusion — exact-integer-rank
# arithmetic, no rounding needed), and lang_weighted_reservoir
# (plans/llmdata.py via operators/sampling.weighted_reservoir:
# Efraimidis-Spirakis exactly-k-per-group weighted sampling over the
# content-deterministic Knuth uniform; pow dround(12) + id tiebreak).
# All oracle-green at sf0.001/0.01/0.1, benched + digest-pinned
# ahead of rotation.
# r18 rotation queue (added late in r12): page_hops_bfs
# (plans/funnel.py: BFS shortest hops over the page-transition graph
# via Spark 4's NATIVE recursive CTE — the same SQL text both engines
# execute, DISTINCT-per-step frontiers, integer-only so oracle-exact
# with no rounding).  Oracle-green at sf0.001/0.01/0.1, benched +
# digest-pinned ahead of rotation.
# Round-13 rotation (executed): the r12 verdict's #1 directive — the
# ENTIRE declared r13-r18 backlog (15 queries across six operator
# families) rotates in at once for first driver rows:
# customer_rfm_segments, conversion_latency_quantiles, source_dup_rate
# (r13 queue), embedding_topk_batch, user_inter_event_gap_quantiles
# (r14), page_rank_pages, purchase_hot_window_join,
# nation_revenue_trend (r15), orders_in_flight_daily,
# daily_revenue_ewma, source_len_token_corr (r16), bm25_topk_docs,
# hybrid_search_rrf, lang_weighted_reservoir (r17), page_hops_bfs
# (r18).  Demoted per the standing policy — exactly the verdict's
# doubly-verified list, each green in ≥2 recorded rounds and every one
# still benched in BENCH_EXTENDED (a regression still moves a recorded
# number and a pinned digest): q2_cheapest_supplier_per_part,
# q8_market_share, q9_product_profit, q15_top_supplier,
# q17_small_quantity_revenue, q20_promotable_part_suppliers,
# q21_late_sole_suppliers, doc_token_budget_sample,
# source_mixture_weights, boilerplate_ngrams, curation_funnel_report
# (each green r7+r8 and again r12), dau_wau_stickiness,
# doc_winnow_dups, embedding_quant_error (green r8+…+r12), and
# pq_code_balance (green r11+r12).  Retained for confirming rows:
# ngram_jaccard_histogram (r11+r12), the rows-only pair
# embedding_ivf_topk_learned / ivfpq_topk_probe (test-allowlisted),
# and the r12 first-row quartet doc_numeric_profile /
# doc_token_entropy / source_unigram_kl / doc_length_quantiles.
# doc_dup_span_fraction stays gated (the r11 outlier's fix band needs
# continued driver visibility).  After this round every oracle-backed
# scalar query in the registry once again has a green driver row in
# some CORRECTNESS_r*.json — new-family cadence held at ZERO this
# round per verdict #7 so the gate could catch up.
# r14 rotation note (written in r13): the never-verified backlog is
# EMPTY — no queue to declare.  The r14 gate only needs (a) confirming
# rows for this round's 15 first-row queries (keep them gated one more
# round, the embedding_label_pairs precedent), and (b) slots for any
# query a future fix touches.  The r13 engine work (BM25/LSH/IVF
# incremental appends + streaming ingest twins + compactions,
# merge/CDC bench leg) is maintenance surface, deliberately NOT
# registry queries: appends mutate written state, so their evidence
# lives in probe-equality tests and the recorded bench legs
# (indexed_probe_build_sec.{bm25,lsh,ivf}_append,
# merge_upsert_cdc_sec), not in the oracle gate.
# r17 rotation queue (declared late in r15): events_incremental_rollup
# (plans/extras.py) — incremental aggregate maintenance, a NEW family:
# events split 80/20 by a content-stable rule into history + increment,
# each rolled up to mergeable partials (exact int counts + exact
# decimal sums), merged by summing partials, averages divided at the
# END — and the oracle computes the same rollup DIRECTLY over all
# events, so the driver hash enforces merge(partial(A), partial(B)) ==
# full(A ∪ B).  Oracle-bit-exact at sf0.001/0.01/0.1 under a foreign
# session timezone; any-split merge==full property pinned in
# tests/test_plans.py; benched + digest-pinned ahead of rotation.
# r16 rotation queue (declared in r15, the standing
# implement-ahead-of-rotation pattern): two NEW oracle-backed queries,
# both implemented, bit-exact vs DuckDB at sf0.001/0.01/0.1, benched in
# BENCH_EXTENDED with pinned digests — rotate in next round, demoting
# doubly-verified rows per the standing policy:
# hybrid_search_rrf_filtered (plans/llmdata.py: filtered hybrid
# retrieval — BM25 top-20 among English docs under Lucene
# filtered-query semantics (collection-wide stats, eligibility
# semi-join BEFORE the top-k; operators/retrieval.bm25_topk(eligible=)
# + bm25_topk_indexed(eligible_ids=)) fused with English-filtered
# cosine top-20 by RRF) and doc_decontaminated_corpus (plans/llmdata.py: the
# eval-set decontamination ACTION — the SURVIVING train corpus after
# dropping docs whose TEST-vocab 8-gram overlap exceeds 0.5; 8-grams
# not trigrams because short-shingle vocabularies saturate as the
# eval set grows — at sf0.1 the trigram overlap floor is 0.53 across
# ALL train docs, while 8-gram overlap isolates exactly the
# near-dup-seeded docs at every scale: 6/9/86 dropped at
# sf0.001/0.01/0.1.  Returns survivors, not keep-flags: a keep-flag
# left join under count() let Catalyst eliminate the join and the
# benchmark timed a bare row count — see the plan docstring).
# Round-15 rotation (executed): the r14 verdict #1 directive — the 15
# r13-rotation queries are doubly driver-verified (green r13 AND r14)
# and demotable; the round adds the filtered-ANN family (three NEW
# oracle-backed queries, all bit-exact vs DuckDB at sf0.001/0.01/0.1):
# embedding_topk_filtered (metadata predicate applied BEFORE top-k —
# the r14 verdict's named missing shape, with the written-index twin
# ivf_topk_indexed_filtered pinned exact at exhaustive nprobe and
# recall-recorded in bench), embedding_topk_doc_filtered (the
# predicate lives in ANOTHER table — broadcast semi-join before
# ranking; the payload-join shape) and embedding_topk_per_label
# (group-wise top-3 per label in one corpus pass — WindowGroupLimit).
# Demoted per the standing policy: the r13-queue trio
# customer_rfm_segments / conversion_latency_quantiles /
# source_dup_rate (each green r13+r14, each still benched in
# BENCH_EXTENDED with pinned digests).  The remaining 12 r13-rotation
# queries stay gated one more round (slots are not contested — the
# never-verified backlog is empty beyond this round's three).
# r18 rotation queue (declared late in r15, the standing
# implement-ahead-of-rotation pattern — joining the earlier-declared
# r16 pair, r17 rollup, and prefix_jaccard_dups): FIVE new
# oracle-backed queries, each a NEW operator family, all bit-exact vs
# DuckDB at sf0.001/0.01/0.1, benched in BENCH_EXTENDED with pinned
# digests ahead of rotation —
#   prefix_jaccard_dups (operators/dedup.prefix_jaccard_pairs: exact
#     UNCAPPED Jaccard pairs via prefix-filtered set-similarity join;
#     PPJoin filters, all float bounds rounded lossless-ward);
#   bigram_heavy_hitters (operators/sketches.heavy_hitters:
#     Misra-Gries candidate screen + exact recount, integer threshold
#     freq*k > N);
#   part_price_size_skyline (operators/skyline.skyline_2d: grid-pruned
#     two-phase Pareto frontier, same-bucket-only residual anti-join);
#   page_triangle_stats (operators/components.triangle_stats:
#     degree-ordered oriented wedge join — triangles/wedges/global
#     clustering, all-integer until one final division);
#   user_page_scd2 (operators/scd.scd2_from_changelog: SCD Type-2
#     dimension build, two windows on one exchange).
# Rotate in at r16+ as slots free up, demoting doubly-verified rows
# per the standing policy.
# Round-16 rotation (executed): the r15 verdict #1 directive — the
# ENTIRE implement-ahead backlog (9 queries: the r16-declared pair
# hybrid_search_rrf_filtered + doc_decontaminated_corpus, the
# r17-declared events_incremental_rollup, and the six r18-queue
# families prefix_jaccard_dups / bigram_heavy_hitters /
# part_price_size_skyline / page_triangle_stats / user_page_scd2 /
# doc_containment_pairs) rotates in at once for first driver rows —
# every one oracle-bit-exact in the local battery at sf0.001/0.01/0.1
# with pinned digests and recorded BENCH_EXTENDED legs.  Demoted per
# the standing policy, exactly 9 multiply-verified rows (each green in
# ≥3 recorded rounds AND still benched in BENCH_EXTENDED with pinned
# digests, so a regression still moves a recorded number):
# ngram_jaccard_histogram (green r11-r15), the r12 first-row quartet
# doc_numeric_profile / doc_token_entropy / source_unigram_kl /
# doc_length_quantiles (green r12-r15), and 4 of the 12 retained
# r13-rotation queries — embedding_topk_batch (its family keeps 5
# other gated queries incl. the r15 filtered trio),
# user_inter_event_gap_quantiles, page_rank_pages,
# nation_revenue_trend (each green r13+r14+r15).  Kept untouched: the
# pinned core, the two sanctioned rows-only slots, the r15
# filtered-ANN trio (first rows r15 — confirming rows due this round
# per the embedding_label_pairs precedent), and the remaining 8
# r13-rotation queries (purchase_hot_window_join,
# orders_in_flight_daily, daily_revenue_ewma, source_len_token_corr,
# bm25_topk_docs, hybrid_search_rrf, lang_weighted_reservoir,
# page_hops_bfs — slots were not contested beyond the 9).
# Round-14 (executed): the gate is UNCHANGED — exactly the r13 verdict
# #1 directive: the 15 r13 first-row queries stay gated for their
# confirming rows (CORRECTNESS_r14), converting six families from
# "verified once" to "verified, confirmed"; no new queries contest
# slots (the backlog is empty).  The r14 engine work is again
# maintenance surface by design: PQ/IVFPQ add-after-train appends
# (probe-equality pinned; bench legs pq_append/ivfpq_append), the IVF
# _id_map sidecar, maintain_index policy enforcement, and
# extend_dup_clusters (differential-pinned vs full recompute; bench
# pair dup_cluster_{full,extend}_sec) — all state-mutating or
# derived-from-pinned-queries, so their evidence is tests + bench
# legs, not oracle slots.
# r17 rotation queue (declared in r16, the standing
# implement-ahead-of-rotation pattern): FIVE new oracle-backed
# queries, all bit-exact vs DuckDB at sf0.001/0.01/0.1, benched in
# BENCH_EXTENDED with pinned digests ahead of rotation —
#   prefix_containment_dups (operators/dedup.prefix_containment_pairs:
#     exact UNCAPPED containment via the asymmetric prefix-filtered
#     join — r15 verdict directive #2; the smaller set's prefix is
#     indexed, the larger set probes with full df-ranked postings);
#   part_pareto_3d (operators/skyline.skyline_kd: d>=3 Pareto via
#     cell-grid pruning — r15 verdict directive #6; d=3/d=4 brute-force
#     differential + grid invariance pinned);
#   hourly_page_heavy_hitters (operators/sketches.
#     windowed_heavy_hitters: exact per-tumbling-window heavy hitters,
#     per-window MG screen + recount — r15 verdict directive #7);
#   doc_tf_cosine_dups (operators/dedup.tf_cosine_pairs: weighted
#     cosine similarity join over term-frequency vectors, NEW family —
#     integer dot/norm accumulation makes the float output bit-exact
#     with no rounding);
#   doc_prefix_edit_pairs (operators/dedup.edit_distance_pairs:
#     q-gram count-filtered Levenshtein self-join, NEW family —
#     Gravano VLDB 2001 filters + short-string bucket + exact
#     verification).
# Rotate in at r17+ as slots free up, demoting multiply-verified rows
# per the standing policy (the 9 r16 first-row queries become
# demotable once confirmed; the filtered-ANN trio is confirmable
# after its r16 rows).
# Round-17 (executed — r16 verdict directive #1): the five r17-queue
# families above rotate IN for their first driver rows.  Demoted to
# make room, per the multiply-verified policy: the r15 filtered-ANN
# trio (embedding_topk_filtered / embedding_topk_doc_filtered /
# embedding_topk_per_label — first rows r15, confirming rows r16,
# doubly verified) and two r13-rotation veterans with FOUR green
# rounds each (daily_revenue_ewma, source_len_token_corr —
# r13+r14+r15+r16).  All five demotions keep their BENCH_EXTENDED
# legs and pinned digests (the standing demotion invariant); the nine
# r16 first-row queries stay one more round for confirming rows (the
# standing precedent), as do the six retained r13-rotation queries.
# r18 rotation queue (declared in r17, the standing implement-ahead
# pattern): SEVEN oracle-backed queries, all bit-exact vs DuckDB at
# sf0.001/0.01/0.1, benched in BENCH_EXTENDED with pinned digests —
#   prefix_cosine_dups (dedup.cosine_prefix_pairs: exact UNCAPPED
#     tf-cosine via the Bayardo prefix filter + identity collapse —
#     r16 verdict directive #2);
#   sliding_page_heavy_hitters (sketches.windowed_heavy_hitters
#     slide= form — r16 verdict directive #5; streaming twin pinned);
#   doc_new_vs_corpus_jaccard (dedup.prefix_jaccard_new_pairs:
#     incremental corpus-prefix-index probe — r16 verdict directive
#     #8);
#   supplier_shipping_coverage (intervals.interval_coverage: NEW
#     gaps-and-islands family);
#   purchase_attribution_last_touch (attribution.
#     last_touch_attribution: NEW family; streaming sink twin pinned);
#   user_journey_match (sequence.match_sequence: NEW
#     sequence-pattern family);
#   doc_training_shards (sampling.pack_to_shards: NEW greedy-sharding
#     family).
# Plus page_backbone_kcore (rows-only by nature — iterative fixpoint;
# DuckDB+python-peeler differential pins it) if a rows-only slot is
# warranted.  Rotate in at r18+ as slots free up: the five r17
# first-row queries become demotable once confirmed, and the nine r16
# queries are confirmable after their r17 rows.
# Round-18 (executed — r17 verdict directive #1): the seven r18-queue
# queries rotate IN for their first driver rows, plus
# page_backbone_kcore as the third sanctioned rows-only slot (the r17
# verdict's suggestion; iterative fixpoint, pinned by the
# DuckDB+python-peeler differential).  Demoted to make room, per the
# multiply-verified policy: EIGHT of the nine r16 first-row queries,
# now doubly verified (r16+r17) — hybrid_search_rrf_filtered,
# doc_decontaminated_corpus, events_incremental_rollup,
# bigram_heavy_hitters, part_price_size_skyline, page_triangle_stats,
# user_page_scd2, doc_containment_pairs.  prefix_jaccard_dups stays a
# third round deliberately: this round's work lands in the SAME
# prefix-filtered join code (dedup.py — cosine_prefix_new_pairs +
# L2AP verification bounds), so a gated neighbor keeps driver
# visibility over the touched file.  All eight demotions keep their
# BENCH_EXTENDED legs and pinned digests (the standing demotion
# invariant); the five r17 first-row queries stay for confirming rows.
# r19 rotation queue (declared in r18, the standing implement-ahead
# pattern; ALL FOUR implemented this round, oracle-bit-exact vs DuckDB
# at sf0.001/0.01/0.1, benched in BENCH_EXTENDED with pinned digests —
# rotate in at r19 as slots free up, demoting doubly-verified rows per
# the standing policy):
#   purchase_attribution_position (attribution.multi_touch_attribution:
#     position-based / linear / time-decay credit — r17 verdict #4;
#     micro-unit integer credit snapping makes the weighted revenue
#     sum order-independent and engine-exact);
#   coverage_order_overlap_join (rangejoin.interval_overlap_join:
#     binned interval×interval overlap with the canonical meeting-bin
#     dedup rule (credit the pair to max(start_bins) — exactly-once,
#     no distinct) — r17 verdict #5);
#   user_journey_match_gapped (sequence.match_sequence gap+negation
#     form — r17 verdict #7; per-step max-gap + strict-absence
#     blockers, both nested-min/oracle-expressible);
#   doc_new_vs_corpus_cosine (dedup.cosine_prefix_new_pairs:
#     incremental twin — r17 verdict #3; the corpus index persists
#     under the partner-free Cauchy-Schwarz prefix bound, the batch
#     side tightens with maxweight over max(frozen corpus, batch)).
# r20 rotation queue (declared in r18 — implemented a round AHEAD of
# the r19 quartet, same standing pattern; four NEW operator families
# rounding out the analytics surface, each oracle-backed):
#   ab_purchase_ztest (stats.two_proportion_ztest: pooled z + Wilson
#     CIs over hash-bucketed user arms — the experimentation readout
#     the reference's clickstream domain conspicuously lacks);
#   nation_daily_interpolated (timeseries.resample_linear: gap-free
#     per-key grid + linear interpolation; every exchange after the
#     first aggregate carries only bucket-grain grid rows, and both
#     neighbour scans are RUNNING window frames — the naive
#     shrinking-frame "next" spec was measured O(rows^2) per key);
#   nation_monthly_holt (timeseries.holt_smooth: level+trend
#     smoothing via a per-key JVM F.aggregate fold — the sequential
#     recurrence has no map-combinable form, so parallelism is the
#     key dimension; oracle is a recursive CTE with the identical
#     IEEE tree);
#   customer_kanonymity_report (pii.k_anonymity_report: group-size
#     risk readout over quasi-identifiers, two chained aggregates).
GATE_PRIORITY = [
    # reference-parity clickstream core (pinned)
    "page_view_counts",
    "user_sessions",
    "purchase_stats",
    "hourly_event_stats",
    "session_stats",
    "user_journey_transitions",
    "sql_event_summary",
    # general-SQL flagships (pinned, benched)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q14_promo_revenue",
    # funnel + LLM-data anchors (pinned)
    "conversion_funnel",
    "exact_dup_docs",
    "doc_prefix_dups",
    "ngram_jaccard_dups",
    "doc_dup_clusters",
    "embedding_dup_clusters",
    "embedding_topk_cosine",
    "doc_token_stats",
    "doc_train_test_split",
    "lang_stratified_sample",
    "doc_chunks",
    "doc_split_contamination",
    # benched analytics legs (retained)
    "anomaly_minutes",
    "top3_parts_per_brand",
    "word_freq_top20",
    # r8 fix-band watch, retained (the r11 outlier's driver visibility)
    "doc_dup_span_fraction",
    # sanctioned rows-only pair (float k-means training is not
    # SQL-replayable; allowlisted in tests/test_correctness.py)
    "embedding_ivf_topk_learned",
    "ivfpq_topk_probe",
    # round-13 rotation, retained for a fifth round (six of eight;
    # daily_revenue_ewma + source_len_token_corr demoted r17 after
    # four green rounds — both stay benched + digest-pinned)
    "purchase_hot_window_join",
    "orders_in_flight_daily",
    "bm25_topk_docs",
    "hybrid_search_rrf",
    "lang_weighted_reservoir",
    "page_hops_bfs",
    # round-16 rotation: retained a third round (the gated neighbor of
    # this round's dedup.py prefix-join work; the other eight r16
    # first-row queries demoted r18 after confirming r17 rows)
    "prefix_jaccard_dups",
    # round-17 rotation: doc_prefix_edit_pairs retained a third round
    # (this optimization round may touch its Ed-Join verification —
    # r18 verdict #10 — so it keeps driver visibility); the other four
    # r17 first-row queries demoted r19 after confirming r18 rows
    # (prefix_containment_dups, part_pareto_3d,
    # hourly_page_heavy_hitters, doc_tf_cosine_dups — all green
    # r17+r18, all keep BENCH_EXTENDED legs + pinned digests per the
    # standing demotion invariant)
    "doc_prefix_edit_pairs",
    # round-19 rotation (executed — r18 verdict directive #8): the
    # implement-ahead r19 queue rotates in for first driver rows
    # (oracle-bit-exact at three scales since r18, benched +
    # digest-pinned ahead of rotation)
    "purchase_attribution_position",
    "coverage_order_overlap_join",
    "user_journey_match_gapped",
    "doc_new_vs_corpus_cosine",
    # round-18 rotation: the implement-ahead r18 queue (first driver
    # rows; oracle-bit-exact in the battery at three scales since r17,
    # benched + digest-pinned ahead of rotation)
    "prefix_cosine_dups",
    "sliding_page_heavy_hitters",
    "doc_new_vs_corpus_jaccard",
    "supplier_shipping_coverage",
    "purchase_attribution_last_touch",
    "user_journey_match",
    "doc_training_shards",
    # third sanctioned rows-only slot (r17 verdict suggestion):
    # iterative k-core fixpoint no single SQL statement states; pinned
    # by the DuckDB-rebuild + pure-python-peeler differential at two
    # scales in tests/test_plans.py
    "page_backbone_kcore",
]

# Gate size the driver records; GATE_PRIORITY must fill it exactly so
# no query auto-promotes into a recorded slot by module ordering alone.
DRIVER_GATE_SLOTS = 50

# Bench legs (consumed by the repo-root bench.py).  They live here, not
# in bench.py, so library code (plans/digest.pinned_query_names) can
# name every benched query without importing a repo-root script — the
# former sys.path hack broke under installed-package layouts and grew
# the path on every call (r9 advisory).
BENCH_HEADLINE = [
    # clickstream parity
    "page_view_counts",
    "user_sessions",
    "purchase_stats",
    "hourly_event_stats",
    "user_journey_transitions",
    "anomaly_minutes",
    # general SQL
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "top3_parts_per_brand",
    "revenue_rollup_region_nation",
    # llm-data pipeline
    "word_freq_top20",
    "ngram_jaccard_dups",
    "minhash_lsh_dups",
    "embedding_topk_cosine",
]

# Recorded alongside the headline but NOT in its total, so the headline
# stays directly comparable to the r1 baseline while the bench log
# still carries perf evidence for the r7+ surface (deep decision-
# support shapes and the LLM-data operators).
BENCH_EXTENDED = [
    "q2_cheapest_supplier_per_part",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q16_part_supplier_counts",
    "q17_small_quantity_revenue",
    "q20_promotable_part_suppliers",
    "q21_late_sole_suppliers",
    "q22_idle_customers",
    "dau_wau_stickiness",
    "doc_token_budget_sample",
    "source_mixture_weights",
    "boilerplate_ngrams",
    "curation_funnel_report",
    "embedding_quant_error",
    "doc_winnow_dups",
    "doc_dup_span_fraction",
    "weekly_retention_cohorts",
    "doc_ngram_novelty",
    "embedding_pq_adc_report",
    # r11: the r13-queue pair gets recorded numbers + pinned digests
    # ahead of its gate rotation
    "doc_token_entropy",
    "source_unigram_kl",
    # r12: the (new) r13-queue trio — recorded numbers + pinned
    # digests ahead of rotation, the standing pattern — plus the
    # r14-queue batched-ANN query
    "customer_rfm_segments",
    "conversion_latency_quantiles",
    "source_dup_rate",
    "embedding_topk_batch",
    "user_inter_event_gap_quantiles",
    # r12 (late): the r15-queue trio — recorded numbers + pinned
    # digests ahead of rotation, the standing pattern
    "page_rank_pages",
    "purchase_hot_window_join",
    "nation_revenue_trend",
    # r12 (late): the r16-queue trio
    "orders_in_flight_daily",
    "daily_revenue_ewma",
    "source_len_token_corr",
    # r12 (late): the r17-queue retrieval pair + the fixed-size sampler
    "bm25_topk_docs",
    "hybrid_search_rrf",
    "lang_weighted_reservoir",
    # r12 (late): the r18-queue recursive-CTE BFS
    "page_hops_bfs",
    # r13: demoted from the gate this round — stays benched so a
    # regression still moves a recorded number and a pinned digest
    # (every other demoted query was already in this list)
    "pq_code_balance",
    # r15: the filtered-ANN family — recorded numbers + pinned digests
    # alongside their gate rotation (the standing pattern)
    "embedding_topk_filtered",
    "embedding_topk_doc_filtered",
    "embedding_topk_per_label",
    # r15 (late): the r16-queue pair — recorded numbers + pinned
    # digests ahead of rotation
    "hybrid_search_rrf_filtered",
    "doc_decontaminated_corpus",
    # r15 (late): the r17-queue incremental-rollup query
    "events_incremental_rollup",
    # r15 (late): the r18-queue prefix-filtered similarity join —
    # recorded numbers + pinned digests ahead of rotation
    "prefix_jaccard_dups",
    # r15 (late): the r18-queue exact heavy hitters (Misra-Gries
    # screen + exact recount)
    "bigram_heavy_hitters",
    # r15 (late): the r18-queue grid-pruned 2-D skyline
    "part_price_size_skyline",
    # r15 (late): the r18-queue degree-ordered triangle/clustering stats
    "page_triangle_stats",
    # r15 (late): the r18-queue SCD Type-2 dimension build
    "user_page_scd2",
    # r15 (late): the r18-queue asymmetric containment pairs
    "doc_containment_pairs",
    # r16: the r17-queue uncapped containment twin (prefix-filtered) —
    # recorded numbers + pinned digests ahead of rotation
    "prefix_containment_dups",
    # r16: the r17-queue 3-criteria skyline — recorded numbers + pinned
    # digests ahead of rotation
    "part_pareto_3d",
    # r16: the r17-queue per-hour heavy hitters (windowed MG + recount)
    "hourly_page_heavy_hitters",
    # r16: the r18-queue frequency-weighted cosine similarity join
    "doc_tf_cosine_dups",
    # r16: the r18-queue q-gram-filtered edit-distance join
    "doc_prefix_edit_pairs",
    # r17: the r18-queue uncapped tf-cosine twin (Bayardo prefix
    # filter, r16 verdict #2) — recorded numbers + pinned digests
    # ahead of rotation
    "prefix_cosine_dups",
    # r17: the r18-queue sliding-window heavy hitters (r16 verdict #5)
    "sliding_page_heavy_hitters",
    # r17: the r18-queue incremental prefix-join probe (r16 verdict #8)
    "doc_new_vs_corpus_jaccard",
    # r17: the k-core battery query (r16 verdict #4) — rows-only by
    # nature (iterative fixpoint), exactness pinned by the
    # DuckDB+python-peeler differential in tests/test_plans.py
    "page_backbone_kcore",
    # r17: the r18-queue NEW families — interval algebra
    # (gaps-and-islands coverage) and last-touch attribution —
    # recorded numbers + pinned digests ahead of rotation
    "supplier_shipping_coverage",
    "purchase_attribution_last_touch",
    # r17: the r18-queue NEW families — sequence-pattern matching and
    # greedy training-shard packing
    "user_journey_match",
    "doc_training_shards",
    # r16: demoted from the gate this round and not previously benched —
    # added so EVERY demoted query keeps a recorded number and a pinned
    # digest (the standing demotion invariant)
    "doc_numeric_profile",
    "doc_length_quantiles",
    "ngram_jaccard_histogram",
    # r18: the r19-queue quartet — recorded numbers + pinned digests
    # ahead of rotation (the standing implement-ahead pattern)
    "purchase_attribution_position",
    "coverage_order_overlap_join",
    "user_journey_match_gapped",
    "doc_new_vs_corpus_cosine",
    # r18: the r20-queue quartet (implemented two rounds ahead)
    "ab_purchase_ztest",
    "nation_daily_interpolated",
    "nation_monthly_holt",
    "customer_kanonymity_report",
]


def all_specs() -> dict[str, QuerySpec]:
    """Registry in driver-gate order (see GATE_PRIORITY)."""
    from . import clickstream, extras, funnel, llmdata, tpch, tpch_deep

    specs: dict[str, QuerySpec] = {}
    for mod in (funnel, extras, llmdata, tpch, tpch_deep, clickstream):
        for spec in mod.SPECS:
            if spec.name in specs:
                raise ValueError(f"duplicate query name: {spec.name}")
            specs[spec.name] = spec
    missing = [n for n in GATE_PRIORITY if n not in specs]
    if missing:
        raise ValueError(f"GATE_PRIORITY names unknown queries: {missing}")
    if len(GATE_PRIORITY) != DRIVER_GATE_SLOTS:
        raise ValueError(
            f"GATE_PRIORITY must fill all {DRIVER_GATE_SLOTS} driver gate "
            f"slots exactly, got {len(GATE_PRIORITY)}"
        )
    nonscalar_gated = [n for n in GATE_PRIORITY if specs[n].nonscalar]
    if nonscalar_gated:
        raise ValueError(
            f"non-scalar-output queries cannot be driver-gated: {nonscalar_gated}"
        )
    prio = {n: i for i, n in enumerate(GATE_PRIORITY)}
    # explicit 50-slot gate first; the tail keeps oracle-backed queries
    # before rows-only ones in module order (all tail queries get the
    # identical check locally via tests/test_correctness.py)
    ordered = sorted(
        specs.values(), key=lambda s: (prio.get(s.name, len(prio)), s.oracle is None)
    )
    return {s.name: s for s in ordered}


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle}
