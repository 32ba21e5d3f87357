"""Every oracle-backed query must match its DuckDB oracle exactly —
the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import pytest

from pedsnetdcc_spark.queries import ORACLES, QUERIES
from pedsnetdcc_spark.util import release_cached
from tests.oracle import compare, duck_connection


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, con, name):
    df = QUERIES[name](spark, sf_dir)
    problems = compare(df, con, ORACLES[name])
    # a query returns a lazy result, so the caller releases what its
    # plan cached once the action has run
    release_cached(df)
    assert not problems, f"{name}: " + "; ".join(problems)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_cached_frees_query_staging(spark, sf_dir):
    """``global_shuffle`` (the distributed id assigner) and
    ``lm_perplexity`` (the staged token table) cache relations their
    results read; after the caller's collect, ``release_cached`` on the
    result leaves exactly the persistent RDDs there were before."""
    before = _persistent_rdd_ids(spark)
    dfs = [QUERIES[n](spark, sf_dir) for n in ("global_shuffle", "lm_perplexity")]
    for df in dfs:
        df.collect()
    assert _persistent_rdd_ids(spark) - before, "nothing was cached"
    for df in dfs:
        release_cached(df)
    assert _persistent_rdd_ids(spark) == before


#: The only Spark↔DuckDB output-type pairs any oracle is allowed to
#: produce.  The round-5 driver hash-failed two oracles whose final
#: projections carried bare integer SUM()s — DuckDB types those HUGEINT
#: (int128) while Spark returns BIGINT, and the driver's hasher is
#: dtype-aware even though Python-side value comparison canonicalizes
#: both to int.  This test catches that class statically: Spark's side
#: is plan-only (no action) and DuckDB's side is a DESCRIBE.
_ALLOWED_TYPE_PAIRS = {
    ("bigint", "BIGINT"),
    ("int", "INTEGER"),
    ("double", "DOUBLE"),
    ("string", "VARCHAR"),
    ("date", "DATE"),
    ("timestamp_ntz", "TIMESTAMP"),
    ("boolean", "BOOLEAN"),
}


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_output_types_match(spark, sf_dir, con, name):
    spark_types = dict(QUERIES[name](spark, sf_dir).dtypes)
    duck_desc = con.execute(f"DESCRIBE {ORACLES[name]}").fetchall()
    bad = [
        (col, spark_types.get(col), dtyp)
        for col, dtyp, *_ in duck_desc
        if (spark_types.get(col), dtyp) not in _ALLOWED_TYPE_PAIRS
    ]
    assert not bad, (
        f"{name}: oracle/Spark dtype pairs outside the allowed set "
        f"(cast the oracle's aggregate — DuckDB HUGEINT breaks the "
        f"driver hash): {bad}"
    )


def test_every_query_has_callable():
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_capped_universe_binds_identically(spark, sf_dir, con):
    """The equivalence-prover universe cap (hash-ordered top-N) never
    binds at the driver's correctness scale (corpus < N), so the regular
    parity run cannot catch a Spark/DuckDB disagreement in the capped
    ORDER/LIMIT seam itself.  Pin it with a cap small enough to bind:
    both engines must select the identical 100 documents."""
    from pedsnetdcc_spark.queries import _capped_universe, _capped_universe_sql, _t

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    capped = _capped_universe(docs, "doc_id", n=100)
    sql = f"SELECT doc_id FROM {_capped_universe_sql('documents', 'doc_id', n=100)}"
    problems = compare(capped, con, sql)
    assert not problems, "; ".join(problems)


#: Every DOUBLE column any oracle outputs, classified by the mechanism
#: that makes it cross-engine bit-deterministic (round-6 verdict item
#: 8).  An int value N means the column is a DECIMAL-accumulated /
#: ROUND(x, N) seam: every value must be the double image of a decimal
#: with at most N fractional digits, so a driver-side DuckDB version
#: bump cannot silently shift the rounding and flip the hash — the
#: audit below verifies the property VALUE BY VALUE.  ``None`` means
#: the column is built only from exactly-rounded IEEE operations
#: (+,-,*,/,sqrt, pow with L=1.0, integer ratios) or is a passthrough
#: of stored data, where bit-determinism needs no rounding seam (and
#: the cross-engine agreement is asserted by the parity test).  A new
#: float-bearing oracle column fails test_float_columns_classified
#: until it is classified here.
_FLOAT_COLUMN_SEAMS: dict[tuple[str, str], int | None] = {
    # decimal-accumulated / ROUND(...,N) seams
    ("quality_classifier", "score"): 6,
    ("lm_perplexity", "sum_logp"): 6,
    ("lm_perplexity", "avg_logp"): 6,
    ("tfidf_top_terms", "score"): 6,
    ("pricing_summary", "sum_qty"): 4,
    ("pricing_summary", "sum_base_price"): 4,
    ("jdbc_roundtrip", "total_acctbal"): 4,
    ("top_unshipped_orders", "revenue"): 6,
    ("regional_supplier_volume", "revenue"): 6,
    # exactly-rounded IEEE arithmetic (single divisions, sqrt, exact
    # products) — deterministic without a rounding seam
    # round-11 melt: decontaminate.frac carries the pair part's jaccard
    # and the doc part's overlap share (both single exact divisions)
    ("decontaminate", "frac"): None,
    ("shared_passages", "jaccard"): None,
    ("minhash_lsh_portable", "jaccard"): None,
    ("streaming_lsh_index", "est_jaccard"): None,  # n/16 dyadic rational
    ("ngram_jaccard_dedup", "jaccard"): None,
    ("ann_cosine_topk", "cosine"): None,
    ("embedding_near_dup", "cosine"): None,
    ("ann_quantized_topk", "cosine"): None,
    ("doc_signals", "dup_frac_1"): None,
    ("doc_signals", "dup_frac_2"): None,
    ("doc_signals", "dup_frac_3"): None,
    ("gopher_quality", "mean_word_len"): None,
    ("gopher_quality", "symbol_ratio"): None,
    ("gopher_quality", "alpha_word_ratio"): None,
    ("key_skew_profile", "share"): None,
    ("hashed_bow", "weight"): None,
    ("corpus_prep", "quality_score"): None,
    # formerly the text_signals row, melted into doc_signals (round 10)
    ("doc_signals", "stopword_ratio"): None,
    ("doc_signals", "punct_ratio"): None,
    ("doc_signals", "quality_score"): None,
    ("doc_signals", "chars_per_bpe_token"): None,
    ("cdm_transform", "measurement_datetime_age_in_months"): None,
    ("cdm_transform", "measurement_result_datetime_age_in_months"): None,
    ("covid_post_shape", "obs_age_months"): None,
    ("interval_months", "ship_age_months"): None,
    # formerly interval_months_monthend, melted in (round 10)
    ("interval_months", "monthend_age_months"): None,
    ("lms_z_score", "z_score"): None,  # L=1.0 → pow identity, pure division
    # composed BMI: w/((h/100)*(h/100)) then (v/M-1)/(1*S) — every op
    # exactly-rounded (*, / only; pow(x,1.0) identity on both engines)
    ("bmi_derivation", "value_as_number"): None,
    ("bmi_derivation", "z_score"): None,
    # passthrough of stored doubles (or exact 2x of one)
    ("asof_backward", "view_value"): None,
    ("value_quality", "value"): None,
    ("lms_z_score", "value"): None,
    ("merge_sites", "c_acctbal"): None,
    ("cohort_subset", "o_totalprice"): None,
    ("insert_missing", "o_totalprice"): None,
    ("cdm_transform", "value_as_number"): None,
    ("lab_loinc_swap", "value_as_number"): None,
    ("r_dose_update", "effective_drug_dose"): None,
    # IEEE min/max of stored doubles — passthrough, engine-identical
    # (the mean/median seams are folded to booleans in the query itself)
    ("table_profile", "min_val"): None,
    ("table_profile", "max_val"): None,
}

_FLOAT_TYPES = ("DOUBLE", "FLOAT", "REAL")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_float_columns_classified(con, name):
    """Completeness gate: no oracle may grow a float column without a
    declared determinism mechanism."""
    for col, dtyp, *_ in con.execute(f"DESCRIBE {ORACLES[name]}").fetchall():
        if dtyp in _FLOAT_TYPES:
            assert (name, col) in _FLOAT_COLUMN_SEAMS, (
                f"unclassified float oracle column {name}.{col} — add it to "
                f"_FLOAT_COLUMN_SEAMS with its rounding seam (or None for "
                f"exactly-rounded arithmetic)"
            )


def test_decimal_seam_floats_are_decimal_images(spark, sf_dir):
    """Every value of a declared ROUND/DECIMAL-seam column must be the
    exact double image of a <=N-fractional-digit decimal — re-rounding
    is a no-op.  A value that fails arrived through an unrounded
    transcendental (ln/exp) path, which IS the silent-hash-flip risk
    the seam exists to absorb."""
    import math
    from decimal import Decimal

    by_query: dict[str, list[tuple[str, int]]] = {}
    for (name, col), digits in _FLOAT_COLUMN_SEAMS.items():
        if digits is not None:
            by_query.setdefault(name, []).append((col, digits))
    for name, cols in sorted(by_query.items()):
        rows = QUERIES[name](spark, sf_dir).select(
            *[c for c, _ in cols]
        ).collect()
        for col, digits in cols:
            quantum = Decimal(1).scaleb(-digits)
            for r in rows:
                v = r[col]
                if v is None or math.isnan(v):
                    continue
                image = float(Decimal(repr(v)).quantize(quantum))
                assert image == v, (
                    f"{name}.{col}: {v!r} is not a {digits}-digit decimal "
                    f"image (re-round gives {image!r})"
                )
