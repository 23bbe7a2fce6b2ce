"""Plan-stability freeze for the most expensive queries (VERDICT r2 #8).

These asserts pin this round's good physical-plan shapes against future
regression: no accidental cartesian/nested-loop product may appear in any
scale-path query (the two labeled exact baselines, ``dedup_embedding_cosine``
and ``ann_bruteforce``, are the only sanctioned ones and are covered by
their own contrast assertions in test_training_ops), and the documents scan
under a pruned projection must not read the payload column.
"""

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"

# the headline / most-expensive scale-path queries (bench.py set + the
# relational table path + the new LSH-candidate Jaccard composition)
FROZEN = [
    "layout_page_text",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_jaccard_verified",
    "dedup_embedding_lsh",
    "text_langid",
    "ann_lsh",
    "extract_tables_relational",
    "corpus_curation",
    "curation_gopher",
    "curation_c4_line_dedup",
    "curation_domain_cap",
    "media_pixel_stats",
    "pdf_images",
    "pdf_annots",
    "curation_url_canonicalize",
    "dedup_components",
    "dedup_incremental",
    "mixture_sample",
    "event_asof_join",
    "event_range_join",
    # round-4 scale paths (queries whose plans must stay product-free;
    # the derived-partsupp TPC-H queries and shard_packing carry
    # sanctioned tiny-side BNLJs and have their own freeze tests)
    "curation_pii_scrub",
    "curation_gopher_repetition",
    "text_fluency",
    "curation_scorecard",
    "curation_domain_cap_salted",
    "dedup_substring",
    "dedup_substring_winnowed",
    "dedup_canonical",
    "media_resize",
    "media_frame_sample",
    "page_render",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q12",
    "tpch_q13",
    "tpch_q20",
    "tpch_q21",
    "word_spans",
    "word_spans_pdf",
]


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", FROZEN)
def test_no_product_joins_in_scale_paths(spark, name):
    plan = _executed_plan(E.queries()[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, f"{name}:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, f"{name}:\n{plan}"


def test_ann_ivf_products_are_centroid_broadcasts_only(spark):
    """ann_ivf's assign/probe steps ARE vector x centroid products — but
    the build side is always the K-row centroid relation riding an
    IdentityBroadcastMode exchange, the right plan at any scale.  Freeze:
    no CartesianProduct, and every nested-loop join builds a broadcast
    (never shuffles two big sides into a product)."""
    plan = _executed_plan(E.queries()["ann_ivf"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    # 3 assign iterations + final assign + query probe + scan = bounded
    assert 0 < n_bnlj <= 8, plan
    assert plan.count("IdentityBroadcastMode") >= n_bnlj, plan


def test_ann_ivfpq_products_are_broadcast_only(spark):
    """ann_ivfpq composes ann_ivf's coarse quantizer with residual PQ:
    its only nested-loop joins are vector x tiny-relation broadcasts
    (K-row coarse centroids, PQ_K-row codebooks, the per-query ADC
    table), never a shuffled product; the database-sized relations flow
    through equi-joins alone."""
    plan = _executed_plan(E.queries()["ann_ivfpq"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    # the printed plan inlines reused subtrees, so the textual BNLJ count
    # is lineage depth, not cost — the invariant is that EVERY nested
    # loop builds a broadcast (tiny side), never a shuffled product
    assert n_bnlj > 0, plan
    assert plan.count("IdentityBroadcastMode") >= n_bnlj, plan


def test_jaccard_verified_shingle_join_is_candidate_bounded(spark):
    """The composition's plan must contain the band-bucket equi-join
    (SortMergeJoin/ShuffledHashJoin on band keys) and only hash/merge
    joins downstream — the raw shingle self-join shape (join keyed on
    shingle alone, guarded by the df cap) must not reappear."""
    plan = _executed_plan(E.queries()["dedup_jaccard_verified"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # every join is an equi-join: Spark renders them as SortMergeJoin,
    # ShuffledHashJoin, or BroadcastHashJoin
    for line in plan.splitlines():
        if "Join" in line and "join" not in line.split("(")[0].lower():
            continue
    assert "band_key" in plan  # candidates really come from the band join


def test_pruned_documents_scan_omits_payload(spark):
    """text_langid consumes only (doc_id, text): the parquet scan's
    ReadSchema must not include unrelated payload columns."""
    plan = _executed_plan(E.queries()["text_langid"](spark, SF_DIR))
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans, plan
    for ln in scans:
        assert "html" not in ln and "raw" not in ln, ln


def test_salted_extraction_exchanges_on_url_hash(spark):
    """The salted gate query must actually repartition on (xxhash64(url),
    salt) — otherwise its byte-identity row would be vacuous — while the
    default path stays scan-aligned (no payload exchange)."""
    from pdfplumber_golang_spark import pipeline
    from pdfplumber_golang_spark.sources.pagesgen import load_or_build_pages

    pages = load_or_build_pages(spark, SF_DIR).where("variant = 'html'")
    salted = _executed_plan(pipeline.extract_pages(pages, salt=True, mega_bytes=1024))
    assert "xxhash64" in salted, salted
    plain = _executed_plan(pipeline.extract_pages(pages))
    assert "xxhash64" not in plain, plain


def test_doc_text_of_extract_pages_is_one_stage(spark):
    """Pages to doc text is one mapInPandas with no aggregate and no
    exchange; once the page rows are persisted, doc_text reads them back
    through the groupBy and gives the same rows."""
    from pdfplumber_golang_spark import pipeline
    from pdfplumber_golang_spark.sources.pagesgen import load_or_build_pages

    rows = pipeline.extract_pages(load_or_build_pages(spark, SF_DIR))
    one = pipeline.doc_text(rows)
    plan = _executed_plan(one)
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan and "Aggregate" not in plan, plan
    want = sorted(one.collect())
    rows.persist()
    try:
        grouped = pipeline.doc_text(rows)
        assert "Aggregate" in _executed_plan(grouped)
        assert sorted(grouped.collect()) == want
    finally:
        rows.unpersist()


def test_tpch_dimension_joins_are_broadcast(spark):
    """Q3/Q5 must broadcast every dimension side (customer / nation /
    region / supplier) — a shuffled dim join at 100 TB fact scale is the
    classic regression; Q1 stays a single-scan partial agg."""
    q3 = _executed_plan(E.queries()["tpch_q3"](spark, SF_DIR))
    assert "BroadcastHashJoin" in q3, q3
    assert "CartesianProduct" not in q3
    q5 = _executed_plan(E.queries()["tpch_q5"](spark, SF_DIR))
    assert q5.count("BroadcastHashJoin") >= 2, q5
    assert "CartesianProduct" not in q5
    q1 = _executed_plan(E.queries()["tpch_q1"](spark, SF_DIR))
    assert "Join" not in q1 and "partial" in q1.lower(), q1


def test_tpch_derived_relation_shapes(spark):
    """Q2/Q11/Q16 ride the derived partsupp (part x broadcast-supplier,
    a sanctioned tiny-build non-equi generator); their own query shapes
    must stay hash/broadcast joins: Q2's per-part min joins back
    broadcast, Q16 plans a LeftAnti for the supplier blacklist, Q12's
    derived-date filter keeps one shuffled equi-join on the order key."""
    q2 = _executed_plan(E.queries()["tpch_q2"](spark, SF_DIR))
    assert "CartesianProduct" not in q2, q2
    assert "BroadcastHashJoin" in q2, q2
    q16 = _executed_plan(E.queries()["tpch_q16"](spark, SF_DIR))
    assert "LeftAnti" in q16, q16
    assert "CartesianProduct" not in q16, q16
    q12 = _executed_plan(E.queries()["tpch_q12"](spark, SF_DIR))
    assert "CartesianProduct" not in q12, q12
    assert "partial" in q12.lower(), q12


def test_domain_cap_salted_bounded_sort(spark):
    """The production cap variant must salt the per-host sort: two rank
    windows (per-(host, salt) pre-truncation + final over survivors),
    the salt from xxhash64(url), and the host counts still two-phase."""
    plan = _executed_plan(E.queries()["curation_domain_cap_salted"](spark, SF_DIR))
    assert plan.count("windowspecdefinition") == 2, plan
    assert "xxhash64" in plan, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_shard_packing_two_phase_cumsum_no_global_sort(spark):
    """VERDICT r3 #1 + r4 #1: the shard cumsum must never be a global
    orderBy window (single-task total sort), and the prefix offsets must
    never be quadratic in fine-bucket count.  Freeze the two-LEVEL shape:
    the big cumsum window is PARTITIONED by the fine bucket, the
    within-super prefix is a window PARTITIONED by superbucket (a window,
    not a join), the single broadcast non-equi self-join runs over the
    SUPER relation only (capped at SHARD_MAX_SUPERS rows by the
    plan-build derivation — its condition references e_sbkt, never the
    unbounded fine-bucket e_bkt), and no Exchange SinglePartition
    appears anywhere."""
    plan = _executed_plan(E.queries()["shard_packing"](spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan
    assert "windowspecdefinition(bkt" in plan, plan
    assert "windowspecdefinition(sbkt" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "e_sbkt" in plan, plan
    assert "e_bkt" not in plan, plan


def test_c4_first_occurrence_is_map_side_combinable(spark):
    """VERDICT r3 #4: first-occurrence line dedup must be the combinable
    groupBy(md5(line)).min(struct) — partial_min before the exchange —
    not a row_number window over the full line text."""
    plan = _executed_plan(E.queries()["curation_c4_line_dedup"](spark, SF_DIR))
    assert "partial_min" in plan, plan
    assert "row_number" not in plan, plan


def test_domain_cap_counts_are_two_phase(spark):
    """VERDICT r3 #8: host doc counts must be a partial-aggregated
    groupBy broadcast-joined back, not a count-over-window on the skewed
    host partition; only the rank window remains host-partitioned."""
    plan = _executed_plan(E.queries()["curation_domain_cap"](spark, SF_DIR))
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("windowspecdefinition") == 1, plan


def test_tpch_semi_and_anti_join_shapes(spark):
    """Q4 must plan a LeftSemi (EXISTS — no fan-out on multi-line
    orders); Q22 a LeftAnti (NOT EXISTS) with its above-average threshold
    as a lazy 1-row broadcast (no eager collect job); Q21 stacks BOTH
    (EXISTS other-supplier + NOT-EXISTS other-late-supplier); Q13's
    order counts partial-aggregate before the outer join."""
    q4 = _executed_plan(E.queries()["tpch_q4"](spark, SF_DIR))
    assert "LeftSemi" in q4, q4
    q22 = _executed_plan(E.queries()["tpch_q22"](spark, SF_DIR))
    assert "LeftAnti" in q22, q22
    assert "BroadcastNestedLoopJoin" in q22, q22  # the 1-row stats join
    q21 = _executed_plan(E.queries()["tpch_q21"](spark, SF_DIR))
    assert "LeftSemi" in q21 and "LeftAnti" in q21, q21
    assert "CartesianProduct" not in q21, q21
    q13 = _executed_plan(E.queries()["tpch_q13"](spark, SF_DIR))
    assert "partial_count" in q13, q13
    assert "CartesianProduct" not in q13, q13


def test_ann_pq_products_are_codebook_broadcasts_only(spark):
    """ann_pq's per-subspace assign/ADC steps are vector x codebook
    products — every one must build the PQ_K-row codebook side as an
    identity broadcast (same sanction as ann_ivf's centroids); the
    code-scoring join itself is a hash equi-join on (m, code)."""
    plan = _executed_plan(E.queries()["ann_pq"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    n_bnlj = plan.count("BroadcastNestedLoopJoin")
    assert 0 < n_bnlj <= 40, plan
    assert plan.count("IdentityBroadcastMode") >= n_bnlj, plan


def test_corpus_build_composition_stays_scale_safe(spark):
    """The end-to-end corpus build must keep every stage's scale shape
    when composed: combinable first-occurrence dedup (partial_min), no
    global-sort SinglePartition exchange anywhere (the shard phase is
    the two-phase cumsum), exactly one sanctioned tiny-side BNLJ (the
    prefix offsets), and no cartesian products."""
    plan = _executed_plan(E.queries()["corpus_build"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_min" in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
