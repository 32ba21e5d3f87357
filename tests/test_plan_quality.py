"""Physical-plan regression guards for the scale-critical properties.

These pin the plans we designed for — a refactor that silently
introduces a second shuffle into era derivation, turns a broadcast dim
join into a sort-merge join, breaks parquet pushdown, or adds a
row-at-a-time Python UDF fails here, not at 100 TB.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pedsnetdcc_spark.queries import QUERIES
from pedsnetdcc_spark.sources.io import read_table


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ensure_parallelism_guard_and_idempotence(spark, sf_dir):
    """The starvation guard (a single-row-group parquet file scans as
    ONE effective split, serializing every scan-fused per-row stage —
    measured 70.1 s → 7.75 s on the 500k-doc classifier pipeline) must
    (a) insert exactly one round-robin exchange on a starved scan, and
    (b) NOT stack a second exchange when composed operators each apply
    it (the lineage Repartition check)."""
    from pedsnetdcc_spark.datapipe.text import lang_id, text_stats
    from pedsnetdcc_spark.util import ensure_parallelism

    docs = read_table(spark, sf_dir, "documents")
    assert len(docs.inputFiles()) < spark.sparkContext.defaultParallelism
    once = ensure_parallelism(docs)
    assert _plan(once).count("RoundRobinPartitioning") == 1
    # second application is a no-op
    assert _plan(ensure_parallelism(once)).count("RoundRobinPartitioning") == 1
    # composed guarded operators share ONE guard exchange
    plan = _plan(text_stats(lang_id(docs)))
    assert plan.count("RoundRobinPartitioning") == 1, plan
    # a coalesce() is logically also a Repartition node (shuffle=false)
    # but LOWERS parallelism — the guard must still fire after it, and
    # likewise after a narrow repartition(k < slots); only a shuffling
    # repartition wide enough to feed the slots suppresses it
    assert (
        _plan(ensure_parallelism(docs.coalesce(1))).count(
            "RoundRobinPartitioning"
        )
        == 1
    )
    par = spark.sparkContext.defaultParallelism
    narrow = _plan(ensure_parallelism(docs.repartition(2)))
    # the guard fires on the narrow repartition and CollapseRepartition
    # merges the two round-robins into one at the guard's width
    assert narrow.count("RoundRobinPartitioning") == 1
    assert f"RoundRobinPartitioning({par})" in narrow, narrow
    # a bare repartition(col) has NO explicit width — AQE may coalesce
    # that exchange to one partition on a small-bytes stream, so the
    # guard must not trust it; an explicit-width key repartition ≥
    # slots is trusted
    bare = _plan(ensure_parallelism(docs.repartition(F.col("doc_id"))))
    assert "RoundRobinPartitioning" in bare, bare
    keyed = ensure_parallelism(docs.repartition(par, F.col("doc_id")))
    assert "RoundRobinPartitioning" not in _plan(keyed)
    # only the OUTERMOST repartition-family node describes the final
    # layout: a wide repartition buried under a later coalesce() must
    # not vouch for the (re-starved) stream
    buried = _plan(ensure_parallelism(docs.repartition(par).coalesce(1)))
    assert "RoundRobinPartitioning" in buried, buried
    # repartition_by_key's explicit width is >= the slot count, so the
    # guard trusts it and does NOT stack a round-robin exchange that
    # would erase the key clustering (shuffle_partitions=8 > par=4 in
    # this session; the width rule is max(shuffle, parallelism))
    from pedsnetdcc_spark.util import repartition_by_key

    keyed2 = ensure_parallelism(repartition_by_key(docs, F.col("doc_id")))
    assert "RoundRobinPartitioning" not in _plan(keyed2)


def test_bmi_derivation_plan_shape(spark, sf_dir):
    """The composed BMI row (as-of pair → BMI math → LMS z-score) must
    keep the as-of design: the union-stream window and the right-side
    same-instant dedup share the person key (2 hash exchanges total),
    the LMS reference joins as a broadcast, and there is no self-join
    (SortMergeJoin) and no Python stage anywhere."""
    plan = _plan(QUERIES["bmi_derivation"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") <= 2, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_capped_universe_respread_survives_aqe(spark, sf_dir):
    """The proof-universe cap (orderBy + limit) lands on ONE partition
    and its consumers amplify O(n²), so the respread must be an
    explicit-width repartition — a bare repartition(col) is
    AQE-coalescible by INPUT bytes, and a 2000-row universe is ~1 MB:
    AQE was serializing every prover behind a single partition
    (measured: embedding_near_dup 1.3 s → 9.6 s)."""
    from pedsnetdcc_spark.queries import _capped_universe

    emb = read_table(spark, sf_dir, "embeddings")
    capped = _capped_universe(emb, "vec_id")
    # runtime truth (post-AQE): the universe is actually spread
    n = capped.rdd.getNumPartitions()
    assert n >= min(spark.sparkContext.defaultParallelism, 4), n


def test_era_derivation_is_single_shuffle(spark, sf_dir):
    """The gaps-and-islands window and the finalizing groupBy must share
    ONE hash exchange (the groupBy reuses the window's partitioning) —
    the whole point of the window formulation over the reference's
    self-join (operators/eras.py module docstring)."""
    plan = _plan(QUERIES["eras"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "SortMergeJoin" not in plan


def test_dimension_name_joins_broadcast_zero_shuffle(spark, sf_dir):
    """Concept-dimension left joins must be broadcasts: no hash exchange
    at all on the fact side (J2)."""
    plan = _plan(QUERIES["dimension_names"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_cohort_subset_uses_broadcast_semi_join(spark, sf_dir):
    plan = _plan(QUERIES["cohort_subset"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan


def test_parquet_scan_pushes_filters_and_prunes_columns(spark, sf_dir):
    """Predicates and projections must reach the parquet scan: the plan
    advertises PushedFilters and a ReadSchema restricted to the two
    referenced columns."""
    df = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 1000.0)
        .select("o_orderkey", "o_totalprice")
    )
    s = df._jdf.queryExecution().toString()
    assert "GreaterThan(o_totalprice" in s, s
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m, s
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"o_orderkey", "o_totalprice"}, cols


_PLAN_CACHE: dict[str, str] = {}


def _cached_plan(spark, sf_dir, name) -> str:
    if name not in _PLAN_CACHE:
        _PLAN_CACHE[name] = _plan(QUERIES[name](spark, sf_dir))
    return _PLAN_CACHE[name]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_row_at_a_time_python_udfs(spark, sf_dir, name):
    """Fleet-wide guard: no query may plan a BatchEvalPython node (the
    row-at-a-time Python UDF operator).  Python is allowed only in
    Arrow-batched form (ArrowEvalPython / MapInPandas / pandas UDFs)."""
    plan = _cached_plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, f"{name} plans a row-at-a-time Python UDF"


def _lambda_bodies(plan: str) -> list[str]:
    """Every balanced `lambdafunction(...)` span in the plan text."""
    spans, i = [], 0
    while True:
        j = plan.find("lambdafunction(", i)
        if j < 0:
            return spans
        k = j + len("lambdafunction(")
        depth = 1
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        spans.append(plan[j:k])
        i = j + 1


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_row_splits_inside_lambda_bodies(spark, sf_dir, name):
    """Fleet-wide guard against the higher-order-lambda re-evaluation
    trap: an expression nested inside a transform/filter/aggregate
    lambda is re-evaluated once per array ELEMENT, so `split(row_col)`
    in a lambda body re-tokenizes the document per element —
    O(tokens²) per row (measured 8-30× on lm_score/minhash before the
    round-7 staging fixes).  `split(lambda_var)` (tokenizing the
    ELEMENT, e.g. BPE word segmentation) is legitimate and exempt.
    Token arrays must be staged through a projection and lambdas may
    only index the staged column."""
    plan = _cached_plan(spark, sf_dir, name)
    bad = []
    for span in _lambda_bodies(plan):
        i = 0
        while True:
            j = span.find("split(", i)
            if j < 0:
                break
            # capture the full balanced split(...) span; if its
            # arguments reference a lambda variable the split is
            # element-dependent (e.g. BPE word segmentation) — exempt;
            # a lambda-INDEPENDENT split is a row expression being
            # re-evaluated per element — the trap
            k = j + len("split(")
            depth = 1
            while k < len(span) and depth:
                if span[k] == "(":
                    depth += 1
                elif span[k] == ")":
                    depth -= 1
                k += 1
            if "lambda " not in span[j:k]:
                bad.append(span[j : j + 80])
            i = j + len("split(")
    assert not bad, f"{name} re-evaluates a row-level split per array element: {bad[:2]}"


def test_corpus_prep_is_single_shuffle(spark, sf_dir):
    """Quality scoring + language ID fuse into the scan; the only
    exchange is the content-hash window for dedup canonicalization."""
    plan = _plan(QUERIES["corpus_prep"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_sampling_queries_are_scan_project_only(spark, sf_dir):
    """Sampling/splitting/mixing must not shuffle: membership is a pure
    hash predicate evaluated inside the scan stage — the whole
    mix → split → stratify pipeline is a union of scan-project
    branches."""
    plan = _plan(QUERIES["corpus_sampling"](spark, sf_dir))
    assert "Exchange" not in plan, f"corpus_sampling shuffles:\n{plan}"


def test_pack_sequences_single_shard_exchange(spark, sf_dir):
    """Packing shuffles exactly once (on the shard hash) and every
    window pass is partitioned — no global single-task window."""
    plan = _plan(QUERIES["pack_sequences"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_global_shuffle_has_no_single_partition_window(spark, sf_dir):
    """Distributed rank = range partition + per-partition window +
    broadcast offsets; the plan must not collapse to one partition."""
    plan = _plan(QUERIES["global_shuffle"](spark, sf_dir))
    assert "Exchange rangepartitioning" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_distributed_ids_one_range_exchange_no_pid_window(spark, sf_dir):
    """The distributed id plan sorts the input once: exactly one range
    exchange (the cached relation prints once per scan, so exchanges
    are counted by plan id), and ids come from cached positions plus
    broadcast offsets, not a window partitioned by partition id."""
    import re

    from pedsnetdcc_spark.operators.ids import assign_surrogate_ids

    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    out = assign_surrogate_ids(
        cust, "sid", ["c_nationkey", "c_custkey"], mode="distributed", num_partitions=5
    )
    plan = _plan(out)
    ranges = set(re.findall(r"Exchange rangepartitioning\(.*\[plan_id=(\d+)\]", plan))
    assert len(ranges) == 1, plan
    assert not [ln for ln in plan.splitlines() if "Window" in ln and "__pid" in ln], plan
    assert "Exchange SinglePartition" not in plan, plan


def test_subset_polymorphic_scans_fact_table_once(spark, sf_dir):
    """The polymorphic EXISTS subset must read the fact input ONCE: the
    per-domain key sets are unioned and probed with a single
    composite-key semi join (a per-domain filter+join+union would scan
    the biggest table once per domain — 3× the IO at scale)."""
    import re

    plan = _plan(QUERIES["subset_polymorphic"](spark, sf_dir))
    fact_scans = len(re.findall(r"Scan parquet[^\n]*lineitem", plan))
    assert fact_scans == 1, plan


def test_pure_plan_builders_run_no_jobs(spark, sf_dir):
    """Building a plan must not execute one: a driver action at
    plan-build time (e.g. a .first() probing a signature length) runs
    the whole upstream pipeline before the real job — invisible at test
    scale, a doubled multi-hour stage at 100 TB.  Excluded by design:
    TableStore-backed queries, which materialize counts/stage tables as
    part of their contract."""
    import datetime as dt

    from pedsnetdcc_spark.cdm import derive_observation_period
    from pedsnetdcc_spark.datapipe import dedup, sampling, text
    from pedsnetdcc_spark.operators.ids import assign_surrogate_ids
    from pedsnetdcc_spark.sources.io import read_table as rt
    from pedsnetdcc_spark.util import release_cached

    docs = rt(spark, sf_dir, "documents")
    visits = spark.createDataFrame(
        [(1, dt.date(2020, 1, 1), dt.date(2020, 1, 3))],
        "person_id long, visit_start_date date, visit_end_date date",
    )
    sc = spark.sparkContext
    group = "plan-build-guard"
    sc.setJobGroup(group, "plan building must not run jobs")
    try:
        sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
        dedup.lsh_candidate_pairs(sigs, "doc_id", sig_len=8)
        dedup.minhash_dedup_pairs(docs, "doc_id", "text")
        dedup.simhash_near_dup_pairs(docs, "doc_id", "text")
        dedup.simhash_near_dup_pairs(docs, "doc_id", "text", hash_family="portable")
        dedup.ngram_jaccard_pairs(docs, "doc_id", "text", max_df=50)
        dedup.cross_corpus_contamination(docs, docs, "doc_id", "text", max_df=50)
        dedup.exact_dedup_groups(docs, "doc_id", "text")
        sampling.sample_fraction(docs, "doc_id", 10)
        sampling.train_val_test_split(docs, "doc_id", 10, 10)
        sampling.stratified_sample(docs, "doc_id", "lang", {"en": 50})
        sampling.mix_corpora({"a": (docs, 50)}, "doc_id")
        ntok = docs.withColumn("ntok", F.size(F.split(F.col("text"), " ")))
        sampling.pack_sequences(ntok, "doc_id", "ntok", 512, shards=4)
        sampling.sample_per_group(docs, "doc_id", "lang", 5)
        cached = [
            sampling.global_shuffle(docs, "doc_id", seed=3),
            assign_surrogate_ids(docs, "sid", ["lang", "doc_id"], mode="distributed"),
            derive_observation_period({"visit_occurrence": visits}),
        ]
        text.text_stats(docs)
        text.lang_id(docs)
        text.token_counts(docs)
        text.build_vocab(docs)
        text.tfidf_top_terms(docs, "doc_id")
        text.chunk_documents(docs, "doc_id")
        text.normalize_text(docs)
        text.redact_pii(docs)
        text.repetition_stats(docs)
        text.length_buckets(docs)
        text.doc_fingerprint(docs, "doc_id", "text")
    finally:
        sc.setJobGroup("default", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for df in cached:
        release_cached(df)


def test_semantic_cells_broadcasts_centroids(spark, sf_dir):
    """Cell assignment must broadcast the k-row centroid table — the
    vector stream is never shuffled for the argmax (the aggregate's
    partial combine handles it map-side)."""
    from pedsnetdcc_spark.datapipe.similarity import semantic_cells

    emb = read_table(spark, sf_dir, "embeddings")
    plan = _plan(semantic_cells(emb, "vec_id", "embedding", k=8))
    assert "Broadcast" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_auto_sized_ops_accept_precomputed_stats(spark, sf_dir):
    """A pipeline composing several auto-sized operators over the same
    relation must be able to count it ONCE and pass ``n=``/``dim=``
    down (round-7 verdict item 4): with the stats supplied, building a
    two-ANN-stage composition runs ZERO driver jobs — no per-operator
    re-count of the same relation."""
    from pedsnetdcc_spark.datapipe.similarity import (
        embedding_near_dup_pairs_lsh,
        lsh_bucketed_topk,
        semantic_cells,
    )

    from pyspark.sql import DataFrame

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()  # the one count action for the whole composition
    dim = 64
    # with the stats supplied, NO operator may re-count the relation:
    # any count()/first() during construction trips the tripwire.
    # (semantic_* still legitimately materialize their coarse-assignment
    # checkpoint and CC fixpoint — that is compute, not a re-count.)
    orig_count, orig_first = DataFrame.count, DataFrame.first
    def _no_count(self):
        raise AssertionError("operator re-counted a relation whose n= was supplied")
    def _no_first(self):
        raise AssertionError("operator re-probed a relation whose stats were supplied")
    DataFrame.count, DataFrame.first = _no_count, _no_first
    try:
        embedding_near_dup_pairs_lsh(emb, n=n)
        # semantic_dedup forwards n=/dim= straight here — the CC
        # fixpoint it adds has its own legitimate convergence counts,
        # so the stats seam is pinned at the cells layer
        semantic_cells(emb, k="auto", n=n, dim=dim)
        lsh_bucketed_topk(emb, emb.limit(5), dim=dim, n=n)
    finally:
        DataFrame.count, DataFrame.first = orig_count, orig_first
    # and the two pure candidate-generation builders must also run ZERO
    # jobs at plan-build time when n= is supplied
    sc = spark.sparkContext
    group = "auto-stats-passthrough-guard"
    sc.setJobGroup(group, "supplied stats must suppress the auto counts")
    try:
        embedding_near_dup_pairs_lsh(emb, n=n)
        lsh_bucketed_topk(emb, emb.limit(5), dim=dim, n=n)
    finally:
        sc.setJobGroup("default", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_passage_dedup_no_window_over_chunk_text(spark, sf_dir):
    """Duplicate detection must be groupBy + join on the content digest
    (AQE skew-split applies), never a window partitioned by the chunk
    text — a hot boilerplate passage would funnel through one task."""
    from pedsnetdcc_spark.datapipe.dedup import passage_dedup

    docs = read_table(spark, sf_dir, "documents")
    plan = _plan(passage_dedup(docs, "doc_id", "text", chunk_tokens=32))
    assert "Window" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_edit_distance_adaptive_probe_keeps_flat_plan(spark, sf_dir):
    """On a benign corpus (no segment bucket above the hot threshold)
    the adaptive probe must pick the FLAT single-join plan: no level-2
    remainder machinery (its k1v bucket key) and exactly one join
    between probe and index candidate streams plus the verify joins —
    the ~4s of empty hot-route exchanges measured at bench scale must
    not come back."""
    from pedsnetdcc_spark.datapipe.dedup import edit_distance_pairs

    names = (
        read_table(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    out = edit_distance_pairs(names, "name", "name", max_dist=2)
    plan = _plan(out)
    assert "k1v" not in plan, "hot-route level-2 machinery planned on benign corpus"


def test_doc_fingerprint_is_shuffle_free(spark, sf_dir):
    """A per-document aggregate must not re-group: the shingle min-hash
    is one array expression fused into the scan (the earlier
    explode+groupBy formulation re-grouped rows that were never
    ungrouped — an exchange of the full shingle stream for nothing).
    The single permitted exchange is the round-robin parallelism guard
    (ensure_parallelism: the driver corpus is one small file, which
    would otherwise serialize the per-row min-hash on one split; a
    no-op at real scale)."""
    plan = _plan(QUERIES["doc_fingerprint"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
