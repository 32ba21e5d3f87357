"""Deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:

- **exact**: hash-groupBy on md5(text) — one shuffle keyed by digest,
  map-side partial agg; the canonical-id choice (min id) is
  deterministic.
- **n-gram Jaccard (exact near-dup)**: inverted-index self-join on
  shingles — pairs are only generated for documents sharing ≥1 shingle,
  so cost is Σ bucket² over shingle buckets, not n².  This is the exact
  verifier; at 100 TB you run it only on LSH candidates.
- **MinHash + LSH**: k seeded xxhash64 min-hashes per doc (one explode +
  groupBy), signatures banded; a band-bucket self-join yields candidate
  pairs, verified by exact Jaccard.  Entirely deterministic (seeded
  hashes, no RNG), no UDFs.
- **SimHash**: per-token 64-bit hash, ±1 vote per bit weighted by term
  frequency, sign-aggregated into a 64-bit signature; near-dups =
  signatures within small Hamming distance (joinable on rotated bands).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pedsnetdcc_spark.datapipe import delta_index as DI
from pedsnetdcc_spark.datapipe.text import shingle_ngrams, tokens
from pedsnetdcc_spark.util import repartition_by_key


def exact_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """One row per distinct content: ``(content_hash, canonical_id,
    dup_count)`` with the minimum id as canonical."""
    h = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
    min_common: int = 0,
) -> DataFrame:
    """Exact near-duplicate pairs by word n-gram Jaccard similarity:
    ``(id_a, id_b, common, jaccard)`` for id_a < id_b, jaccard ≥
    threshold and (when ``min_common`` > 0) at least that many shared
    distinct shingles.  The absolute-count filter is the
    passage-plagiarism mode: with a long n (say 8) and ``threshold=0``,
    ``min_common=k`` flags pairs sharing k verbatim 8-token spans
    regardless of document length — ratio thresholds miss a copied
    paragraph inside a long document.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle, count common shingles per pair, then
    ``jaccard = common / (|A| + |B| - common)``.

    **Document-frequency cap (the 100 TB guard):** the self-join
    generates Σ bucket² pairs per shingle bucket, so one shingle shared
    by d documents costs d²/2 rows — a shingle in 1% of a web corpus is
    a quadratic bomb.  ``max_df`` drops shingles whose document
    frequency exceeds the cap from the ENTIRE Jaccard universe (both the
    pair join and the per-document sizes), so the result is still an
    exact Jaccard — over informative shingles only.  Near-ubiquitous
    shingles carry ≈0 bits about near-duplication (they boost both
    numerator and denominator of every pair equally), so the capped
    measure tracks the uncapped one closely while bounding bucket size.
    The default ``max_df=None`` keeps the fully-exact semantics (this
    function doubles as the exact verifier); scale-sensitive call sites
    must OPT IN to the cap explicitly — capping changes reported
    jaccard values and can drop pairs dominated by high-DF shingles.

    Plan shape (chosen over the naive posting-list self-join, which was
    ~2× slower):

    1. ``dfreq``: hash-aggregate DF per shingle (map-side partial agg);
       filter to ``df ≤ max_df``.  COUNT FIRST, COLLECT LATER — the
       per-shingle id lists are only materialized after the cap, so no
       executor ever holds an unbounded bucket in memory.
    2. join the posting stream to the surviving shingles (AQE picks a
       broadcast when the surviving-dfreq side is small — the common
       case; at 100 TB it degrades to a co-partitioned shuffle join on
       the same key the aggregates below reuse).
    3. bucket ids per shingle (``collect_list``, bounded by ``max_df``),
       emit each bucket's C(d,2) ordered pairs with one array-HOF
       explode — half the shuffled bytes of a self-join, no join at all.
    4. count common shingles per pair, then attach per-doc sizes.

    Shingles with df == 1 still count toward sizes (the Jaccard
    denominator) but are pruned before pair generation — they cannot
    form a pair.  With ``max_df=None`` step 3's buckets are unbounded;
    only disable the cap on corpora known to have no hot shingles.

    The shingle stream is deliberately NOT cached by default: the
    static plan recomputes the scan+explode once per consumer (~4×),
    but the scan is the cheap columnar part and AQE reuses shuffle
    output at runtime — measured 20% faster than caching at sf0.1, and
    at 100 TB caching an exploded token stream (≈5× the corpus bytes)
    is memory-prohibitive while re-scanning parquet is not.
    ``shingles`` lets a caller that has already paid for a cached,
    doc-clustered ``(id, shingle)`` stream (e.g. an LSH pipeline
    sharing one corpus scan with this exact verifier) pass it in
    instead.
    """
    sh = (
        shingles
        if shingles is not None
        else shingle_ngrams(df, id_col, text_col, n=n)
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("__df") <= max_df)
    kept = sh.join(dfreq, "shingle")
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    buckets = (
        kept.where(F.col("__df") >= 2)  # df==1 cannot form a pair
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    common = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .where((F.col("jaccard") >= threshold) & (F.col("common") >= min_common))
    )
    return out.select("id_a", "id_b", "common", "jaccard")


def portable_hash64(col: Column, seed: int) -> Column:
    """60-bit seeded hash computable identically by DuckDB
    (``('0x' || substr(md5(seed || ':' || x), 1, 15))::BIGINT``) — used
    when a MinHash pipeline must be oracle-checkable across engines.
    Slower than xxhash64 (md5 + string ops); production paths default to
    xxhash64."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 15), 16, 10
    ).cast("long")


def portable_hash64_sql(expr: str, seed: int) -> str:
    """DuckDB rendering of :func:`portable_hash64`."""
    return f"(('0x' || substr(md5('{seed}:' || {expr}), 1, 15))::BIGINT)"


def _regex_literal(s: str) -> str:
    """Quote ``s`` as a LITERAL for Java-regex contexts (``F.split``),
    exactly the way ``java.util.regex.Pattern.quote`` does: wrap in
    ``\\Q...\\E`` and re-split around any EMBEDDED ``\\E`` so the quote
    block cannot be terminated early (a separator containing the
    two-character sequence ``\\E`` would otherwise leak its remainder
    into regex position — silent mis-splits).  Each embedded ``\\E``
    becomes ``\\E\\\\E\\Q``: end the quote, match a literal backslash
    then ``E``, reopen the quote."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _seeded_hash(col: Column, seed: int, family: str) -> Column:
    if family == "xxhash64":
        return F.xxhash64(col, F.lit(seed))
    if family == "portable":
        return portable_hash64(col, seed)
    raise ValueError(f"unknown hash family {family!r}")


def _seeded_hash_sql(expr: str, seed: int, family: str) -> str:
    """Spark-SQL text of :func:`_seeded_hash` — the identical expression
    tree, parsed JVM-side in ONE Py4J round trip.  Building a multi-lane
    signature from Column objects costs thousands of driver socket round
    trips (≥6 per expression node); the SQL form is parsed by Catalyst
    into the same operators, so only plan-construction time changes
    (equality asserted in tests)."""
    if family == "xxhash64":
        return f"xxhash64({expr}, {seed})"
    if family == "portable":
        return (
            f"cast(conv(substring(md5(concat('{seed}:', {expr})), 1, 15),"
            " 16, 10) as bigint)"
        )
    raise ValueError(f"unknown hash family {family!r}")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signature: ``(id, sig array<long>)`` where
    ``sig[i] = min over shingles of hash(shingle, seed=i)``.
    Deterministic (seeded hash family), one explode + one groupBy."""
    sh = shingle_ngrams(df, id_col, text_col, n=n)
    mins = [
        F.expr(f"min({_seeded_hash_sql('shingle', i, hash_family)})").alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def band_entries(
    sig_col: str | Column,
    sig_len: int,
    num_bands: int,
    hash_family: str = "xxhash64",
) -> Column:
    """Array of ``(band, bucket)`` structs for a signature column — the
    banding used by BOTH the batch candidate join and the streaming
    near-dup operator, factored out so their buckets agree exactly."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    rows_per_band = max(sig_len // num_bands, 1)
    entries = []
    for b in range(num_bands):
        chunk = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        joined = F.concat_ws(
            ",", *[chunk[i].cast("string") for i in range(rows_per_band)]
        )
        bucket = (
            portable_hash64(joined, b)
            if hash_family == "portable"
            else F.xxhash64(joined)
        )
        entries.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return F.array(*entries)


def fused_minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    hash_family: str = "xxhash64",
    sig_col: str = "sig",
) -> DataFrame:
    """Per-ROW MinHash signature: the shingle array is built and
    min-hashed entirely inside one projection (higher-order functions),
    no explode, no aggregate, NO SHUFFLE — signatures identical to
    :func:`minhash_signatures` (equivalence-tested).

    Two uses: (a) streams — a stateless projection needs no watermark
    or output-mode negotiation, so the LSH index operator can consume
    it directly; (b) batch pipelines that want the signature without
    paying the doc-keyed exchange (the aggregate formulation is kept
    for pipelines that already cluster by document and reuse that
    exchange for shingle-set verification).  Documents with fewer than
    ``n`` tokens have no shingles and are dropped, matching the
    aggregate formulation.  MinHash over DISTINCT shingles equals
    MinHash over the occurrence stream (min is idempotent), so no
    dedup pass is needed.
    """
    # STAGE both the token array and the shingle array through real
    # projections: unstaged, the slice-per-shingle lambda re-splits the
    # text per shingle (O(tokens²)) and each of the num_hashes
    # transforms re-evaluates that whole shingle build again — the
    # re-evaluation trap, ×num_hashes (measured 8-30× on lm_score's
    # far smaller bigram case)
    t = df.select(F.col(id_col), tokens(text_col).alias("__mh_toks"))
    toks = F.col("__mh_toks")
    staged = t.where(F.size(toks) >= n).select(
        F.col(id_col),
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ).alias("__mh_sh"),
    )
    # SQL-text lanes (see _seeded_hash_sql): a Python lambda handed to
    # F.transform costs an extra Py4J callback registration per lane
    mins = F.expr(
        "array("
        + ", ".join(
            f"array_min(transform(__mh_sh,"
            f" s -> {_seeded_hash_sql('s', i, hash_family)}))"
            for i in range(num_hashes)
        )
        + ")"
    )
    return staged.select(F.col(id_col), mins.alias(sig_col))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    sig_len: int,
    num_bands: int = 4,
    sig_col: str = "sig",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Band the signatures and self-join on (band, band-hash): documents
    agreeing on any full band become a candidate pair ``(id_a, id_b)``.

    The band join is the scale path: candidates ≈ true near-dups +
    controllable false positives, versus the all-pairs n² blowup.

    All bands are computed in ONE pass over the signatures (array of
    (band, bucket) structs, exploded) — a union of per-band selects
    would re-evaluate the upstream signature aggregation once per band
    per join side.

    ``sig_len`` (the signature width) is REQUIRED: callers always know
    it (it is the ``num_hashes`` they signed with), and inferring it
    here would cost a ``.first()`` driver action at plan-build time —
    executing the whole upstream signature pipeline once just to read
    an array length.
    """
    banded = signatures.select(
        F.col(id_col),
        F.explode(
            band_entries(sig_col, sig_len, num_bands, hash_family)
        ).alias("__bb"),
    ).select(id_col, F.col("__bb.band").alias("band"), F.col("__bb.bucket").alias("bucket"))
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b2 = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b2, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates →
    exact-Jaccard verification of the CANDIDATES ONLY (per-candidate
    shingle-set intersection, not the all-pairs inverted-index join —
    that's the whole point of LSH at scale: verification cost is
    O(candidates), not O(co-occurring pairs)).

    The shingle stream is CLUSTERED BY DOCUMENT, not cached: the raw
    docs are repartitioned on the id BEFORE shingling (shuffling one
    2 KB row per doc beats shuffling its ~100 exploded shingles), so
    both doc-grouped consumers — the signature min-aggregate and the
    verification collect_set — sit on that exchange's partitioning and
    need no further shuffle; recomputing the cheap scan+explode per
    consumer measured faster than caching the exploded stream (see
    ngram_jaccard_pairs), and at 100 TB caching it is
    memory-prohibitive.  Doc ids are uniform keys, so the layout cannot
    create a hot partition.  ``shingles`` accepts a shared
    doc-clustered stream from a caller composing several consumers
    (e.g. an exact verifier in the same agreement job)."""
    sh = (
        shingles
        if shingles is not None
        else shingle_ngrams(repartition_by_key(df, F.col(id_col)), id_col, text_col, n=n)
    )
    mins = [
        F.expr(f"min({_seeded_hash_sql('shingle', i, hash_family)})").alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    sigs = sh.groupBy(id_col).agg(*mins)
    sigs = sigs.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )
    cands = lsh_candidate_pairs(
        sigs, id_col, num_bands=num_bands, sig_len=num_hashes, hash_family=hash_family
    )
    sets = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("sh_set"))
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("sh_set").alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("sh_set").alias("__sb"))
    verified = (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__common", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn(
            "jaccard",
            F.col("__common").cast("double")
            / (F.size("__sa") + F.size("__sb") - F.col("__common")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("id_a", "id_b", "jaccard")


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str = "simhash",
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """``bits``-wide SimHash over the token stream: token hashed with the
    chosen family; each bit votes ±(term frequency); signature bit =
    sign of the vote sum.  Near-duplicates have small Hamming distance.
    ``hash_family="portable"`` makes the signature oracle-computable by
    DuckDB (md5-derived hash)."""
    # cluster by document once (HashPartitioning(doc) satisfies both
    # aggregates below, so the exploded token stream is never shuffled;
    # doubles as the small-file parallelism spread).  Voting formulation
    # is chosen by hash cost: Σ_occurrences ±1 per bit is IDENTICAL to
    # Σ_distinct_tokens ±tf (bit-equal asserted in tests), so the cheap
    # xxhash64 family votes straight off the occurrence stream (25%
    # faster — skips the pre-aggregate), while the md5-derived portable
    # family pre-aggregates term frequency per (doc, tok) so the
    # expensive hash runs once per DISTINCT token, not per occurrence.
    # The signed vote itself is folded away: Σ ±w per bit > 0 is
    # equivalent to 2·Σ(w·bit) > Σw, so the per-bit aggregate is an
    # unconditional masked sum (no branch per row per bit — ~10% off
    # the whole signature job) plus ONE shared total-weight sum.
    # The per-bit expressions are built as SQL TEXT parsed JVM-side in
    # one round trip each (F.expr), not composed Column objects: the
    # Column form costs ~6 Py4J socket round trips per node × bits ×
    # a 5-node tree ≈ 2-3 s of DRIVER time per signature plan at
    # bits=64 (measured round 13 — half of several queries' "Catalyst
    # floor" was really Python-side plan construction).  The parsed
    # tree is the identical expression, so plans and results are
    # unchanged (bit-equal asserted in tests).
    df = repartition_by_key(df, F.col(id_col))
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    if hash_family == "portable":
        src = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("__tf"))
        h_sql = _seeded_hash_sql("tok", 0, "portable")
        ones = [
            F.expr(f"sum((shiftright({h_sql}, {i}) & 1) * __tf)").alias(f"o{i}")
            for i in range(bits)
        ]
        total = F.sum(F.col("__tf")).alias("__n")
    else:
        src = toks
        ones = [
            F.expr(f"sum(shiftright(xxhash64(tok), {i}) & 1)").alias(f"o{i}")
            for i in range(bits)
        ]
        total = F.count(F.lit(1)).alias("__n")
    agg = src.groupBy(id_col).agg(*ones, total)
    sig = F.expr(
        " | ".join(
            f"shiftleft(if(o{i} * 2 > __n, cast(1 as bigint),"
            f" cast(0 as bigint)), {i})"
            for i in range(bits)
        )
    )
    return agg.select(F.col(id_col), sig.alias(out_col))


def simhash64(
    df: DataFrame, id_col: str, text_col: str, out_col: str = "simhash"
) -> DataFrame:
    """64-bit SimHash over the token stream: token hashed with xxhash64;
    each bit votes ±(term frequency); signature bit = sign of the vote
    sum.  Near-duplicates have small Hamming distance."""
    # single doc-keyed exchange; signed votes folded to unconditional
    # masked bit-sums (2·ones > n ⟺ vote sum > 0) — see simhash.
    # SQL-text expressions for the same Py4J-round-trip reason as
    # simhash: identical parsed tree, ~100× fewer driver socket calls.
    df = repartition_by_key(df, F.col(id_col))
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    ones = [
        F.expr(f"sum(shiftright(xxhash64(tok), {i}) & 1)").alias(f"o{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*ones, F.count(F.lit(1)).alias("__n"))
    sig = F.expr(
        " | ".join(
            f"shiftleft(if(o{i} * 2 > __n, cast(1 as bigint),"
            f" cast(0 as bigint)), {i})"
            for i in range(64)
        )
    )
    return agg.select(F.col(id_col), sig.alias(out_col))


def hamming64(a: Column, b: Column) -> Column:
    """Popcount of XOR — Hamming distance between two 64-bit signatures."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    num_bands: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs at scale: ``(id_a, id_b, hamming)``
    for id_a < id_b with Hamming distance ≤ ``max_hamming``.

    Block-and-band candidate generation: the ``bits``-wide signature is
    split into ``num_bands`` contiguous blocks; by pigeonhole, two
    signatures within Hamming distance d ≤ num_bands−1 agree EXACTLY on
    at least one block, so a self-join on (band, block) equality finds
    every true pair — the banding is lossless (no false negatives),
    unlike probabilistic MinHash banding.  Candidates are then verified
    with an exact popcount, so the result is IDENTICAL to the n²
    all-pairs Hamming join while only ever materializing
    Σ per-(band,block) bucket² pairs.

    ``num_bands`` defaults to ``max_hamming + 1`` (the pigeonhole
    minimum).  More bands → smaller blocks → more false-positive
    candidates; fewer bands than ``max_hamming + 1`` would lose pairs,
    so it is rejected.

    100 TB note: FALSE-positive bucket sizes are bounded by the block
    width, but a mass of IDENTICAL signatures (e.g. millions of empty
    or boilerplate docs) makes the true pair set itself quadratic — no
    bucket cap can fix that without silently dropping exactly the
    truest duplicates (every band of an identical pair collides).  Run
    :func:`exact_dedup_groups` first and feed this operator canonical
    documents only; the exact pass collapses identical content to one
    row and is a single hash shuffle.
    """
    sigs = simhash(df, id_col, text_col, bits=bits, hash_family=hash_family)
    return simhash_band_pairs(
        sigs, id_col, max_hamming=max_hamming, bits=bits, num_bands=num_bands
    )


def simhash_band_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "simhash",
    max_hamming: int = 3,
    bits: int = 64,
    num_bands: int | None = None,
    probe_radius: int = 0,
) -> DataFrame:
    """The block-and-band join of :func:`simhash_near_dup_pairs`, over a
    PRECOMPUTED signature table ``(id, sig_col)`` — use when signatures
    are already materialized (or shared with another consumer).

    ``probe_radius=1`` switches to MULTI-INDEX HASHING (Norouzi et al.):
    instead of ``max_hamming+1`` exact-match bands, use
    ``ceil((max_hamming+1)/2)`` bands — each twice as wide — and join
    one side's exact blocks against the other side's 1-bit-flip probe
    neighborhood.  Pigeonhole completeness holds because ``b`` blocks
    with per-block radius ρ cover total Hamming ``b·(ρ+1) − 1``; both
    modes return the IDENTICAL exact pair set (equality-tested).

    Which mode, measured at 550k 64-bit signatures / max_hamming=6
    (SCALE.md round 10): pair-collision probability is ~12× lower
    under MIH (4×16-bit bands probed 17× ⇒ 1/964 per pair, vs 7×~9-bit
    exact bands ⇒ 1/81), but the probe stream is 17× larger.  On a
    TRUE-PAIR-DENSE corpus (the image probe corpus: 203M real pairs,
    candidate ≈ true pair) MIH wins — 150 → 123 s — because it cuts
    the per-pair band multiplicity the distinct must absorb.  On
    UNIFORM signatures (near-zero true pairs) plain banding wins —
    33 vs 50 s — the broadcast hash join streams its larger candidate
    set through codegen at memory speed while MIH pays real shuffle
    for the 17× probe stream.  Default stays 0; near-dup-dense media
    corpora (image_near_dup_pairs) pass 1.
    """
    if probe_radius not in (0, 1):
        raise ValueError(f"probe_radius must be 0 or 1, got {probe_radius}")
    if num_bands is None:
        num_bands = (
            max_hamming + 1 if probe_radius == 0
            else -(-(max_hamming + 1) // 2)
        )
    min_bands = (
        max_hamming + 1 if probe_radius == 0
        else -(-(max_hamming + 1) // 2)
    )
    if num_bands < min_bands:
        raise ValueError(
            f"num_bands={num_bands} < {min_bands}: pigeonhole completeness "
            f"needs ceil((max_hamming+1)/(probe_radius+1)) bands"
        )
    if num_bands > bits:
        raise ValueError(f"num_bands={num_bands} > bits={bits}")
    if sig_col != "simhash":
        sigs = sigs.withColumnRenamed(sig_col, "simhash")
    width = bits // num_bands
    entries = []
    probe_entries = []
    for b in range(num_bands):
        start = b * width
        w = width if b < num_bands - 1 else bits - start
        block = F.shiftrightunsigned(F.col("simhash"), start)
        if w < 64:
            block = block.bitwiseAND(F.lit((1 << w) - 1))
        entries.append(F.struct(F.lit(b).alias("band"), block.alias("block")))
        if probe_radius:
            # the block plus its 1-bit-flip neighborhood (w+1 keys);
            # bit 63's flip mask is Long.MIN_VALUE in signed two's
            # complement — 1 << 63 would overflow LongType and break
            # the XOR when the widest band spans all 64 bits
            probes = F.array(
                block,
                *[
                    block.bitwiseXOR(
                        F.lit((1 << j) - (1 << 64) if j == 63 else 1 << j)
                    )
                    for j in range(w)
                ],
            )
            probe_entries.append(
                F.struct(F.lit(b).alias("band"), probes.alias("probes"))
            )
    banded = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*entries)).alias("__bb")
    ).select(
        id_col,
        "simhash",
        F.col("__bb.band").alias("band"),
        F.col("__bb.block").alias("block"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("__ha"), "band", "block"
    )
    if probe_radius:
        b2 = (
            sigs.select(
                F.col(id_col),
                F.col("simhash"),
                F.explode(F.array(*probe_entries)).alias("__bp"),
            )
            .select(
                F.col(id_col).alias("id_b"),
                F.col("simhash").alias("__hb"),
                F.col("__bp.band").alias("band"),
                F.explode(F.col("__bp.probes")).alias("block"),
            )
        )
    else:
        b2 = banded.select(
            F.col(id_col).alias("id_b"), F.col("simhash").alias("__hb"), "band", "block"
        )
    # verify-before-distinct: the Hamming test is a few xor/popcount
    # instructions on columns already in the join output, so it runs
    # INSIDE the join's codegen stage and the distinct's input shrinks
    # from every candidate collision to true pairs (× band
    # multiplicity).  Measured neutral at 550k uniform signatures (the
    # broadcast join streams candidates at memory speed either way) and
    # neutral on the true-pair-dense corpus (candidates ≈ true pairs
    # there) — kept because the distinct's worst-case input is now
    # bounded by the OUTPUT size, not the candidate count.
    if probe_radius:
        # Pin the MIH join to shuffle-hash with the BANDED side as the
        # build side.  Catalyst's Generate (the explode) does not scale
        # sizeInBytes, so both sides carry the SOURCE's estimate even
        # though the probe side is (w+1)/num_bands ≈ 8x larger — and a
        # signature table whose file size sits just under the broadcast
        # threshold gets its multi-hundred-million-row probe stream
        # STATICALLY broadcast (measured: 5.5M sigs from an 8.8 MB
        # parquet -> a 4.7 GiB hashed relation -> OOM).  Shuffle-hash
        # keeps the probe stream unsorted and unbroadcast at every
        # scale and matches the measured MIH cost model (the probe
        # shuffle IS the mode's cost; SCALE.md round 10/11).
        a = a.hint("shuffle_hash")
    return (
        a.join(b2, ["band", "block"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("__ha"), F.col("__hb")))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()  # a pair can collide in several bands
    )


def cross_corpus_contamination(
    train: DataFrame,
    evaluation: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark-decontamination join: near-duplicate pairs ACROSS two
    corpora — ``(train_id, eval_id, jaccard)`` for every evaluation
    document whose n-gram Jaccard against some training document
    reaches ``threshold``.  Dropping the flagged train docs (or eval
    rows) is the standard leakage remedy before pre-training.

    Same inverted-index + DF-cap design as :func:`ngram_jaccard_pairs`,
    but the pair join is STRICTLY cross-side (train postings ⋈ eval
    postings on the shingle): same-side pairs are never generated, so
    the candidate volume is Σ df_train·df_eval per shingle — typically
    far below the within-corpus Σ df² — and the document-frequency cap
    (computed over the COMBINED universe, applied to both sides'
    postings and sizes) bounds the hot-shingle blowup exactly as in the
    within-corpus operator.
    """
    from pedsnetdcc_spark.datapipe.text import shingle_ngrams

    sh_t = shingle_ngrams(train, id_col, text_col, n=n)
    sh_e = shingle_ngrams(evaluation, id_col, text_col, n=n)
    combined = sh_t.select("shingle").unionByName(sh_e.select("shingle"))
    dfreq = combined.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("__df") <= max_df)
    kept_t = sh_t.join(dfreq, "shingle").select(
        F.col(id_col).alias("train_id"), "shingle"
    )
    kept_e = sh_e.join(dfreq, "shingle").select(
        F.col(id_col).alias("eval_id"), "shingle"
    )
    sizes_t = kept_t.groupBy("train_id").agg(F.count(F.lit(1)).alias("n_t"))
    sizes_e = kept_e.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_e"))
    common = (
        kept_t.join(kept_e, "shingle")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes_t, "train_id")
        .join(sizes_e, "eval_id")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("n_t") + F.col("n_e") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("train_id", "eval_id", "jaccard")
    )


#: Separator spliced into remainder strings by the hot-bucket recursion;
#: never occurs in real text columns, and even if it did the verify pass
#: keeps the result exact (candidates are a superset either way).
_PASSJOIN_SEP = "\x01"


def _pj_seg_start(j, length_sql: str, k) -> str:
    """SQL text: 0-based start of segment ``j`` of a ``length``-char
    string.  The PassJoin builders emit SQL TEXT parsed JVM-side in one
    round trip (F.expr) instead of composed Column objects — the
    Column form cost ~9.7k Py4J socket round trips (≈2.5 s of pure
    driver time) per edit_distance_pairs plan at τ=2 (round-13
    measurement); the parsed tree is the identical expression."""
    return f"cast(floor({j} * {length_sql} / {k}) as int)"


def _pj_seg_len(j, length_sql: str, k) -> str:
    nxt = (
        _pj_seg_start(j + 1, length_sql, k)
        if j + 1 < k
        else f"cast({length_sql} as int)"
    )
    return f"({nxt} - {_pj_seg_start(j, length_sql, k)})"


def _pj_index(side, tau: int, keys: list[str]) -> DataFrame:
    """Segment entries of the indexed side: one row per (string,
    segment).  ``side`` columns: (*keys, id_b, __sb [string to verify],
    __s [string to segment], __L).  Output adds (val, j, li, pos,
    slen) — the segment value, its index, the indexed length, and the
    segment's 1-based span (kept so the hot route can splice it out)."""
    k = tau + 1
    entries = "array(" + ", ".join(
        "struct("
        f"substring(__s, {_pj_seg_start(j, '__L', k)} + 1,"
        f" {_pj_seg_len(j, '__L', k)}) as val,"
        f" {j} as j,"
        " cast(__L as int) as li,"
        f" cast({_pj_seg_start(j, '__L', k)} + 1 as int) as pos,"
        f" cast({_pj_seg_len(j, '__L', k)} as int) as slen)"
        for j in range(k)
    ) + ")"
    return side.select(
        *keys, "id_b", "__sb", "__s", F.expr(f"explode({entries})").alias("g")
    ).select(
        *keys, "id_b", "__sb", "__s", "g.val", "g.j", "g.li", "g.pos", "g.slen"
    )


def _pj_probe(side, tau: int, keys: list[str]) -> DataFrame:
    """Window substrings of the probing side.  For each candidate
    indexed length li = L + delta and segment index j, probes only the
    alignment position window: with shift sh = p - seg_start and length
    gap D = L - li, the prefix costs >= |sh| edits and the suffix
    >= |D - sh|, so any true match has |sh| + |D - sh| <= tau  =>
    sh in [ceil((D-tau)/2), floor((D+tau)/2)] — a (tau - |D| + 1)-wide
    window instead of every position (PassJoin's position filter,
    tightened by the suffix bound).  ``side`` columns: (*keys, id_a,
    __sa, __s, __L); output adds (val, j, li, p, slen).  Built as SQL
    text for the Py4J-round-trip reason documented on
    :func:`_pj_seg_start`."""
    k = tau + 1
    arrays = []
    for delta in range(-tau, tau + 1):
        li = f"cast(__L + {delta} as int)"
        gap = -delta  # D = L - li
        lo_sh = -(-(gap - tau) // 2)  # ceil((D - tau) / 2)
        hi_sh = (gap + tau) // 2  # floor((D + tau) / 2)
        for j in range(k):
            slen = _pj_seg_len(j, li, k)
            pos_j = f"({_pj_seg_start(j, li, k)} + 1)"
            lo = f"greatest(1, cast({pos_j} + {lo_sh} as int))"
            hi = (
                f"least(cast(__L - {slen} + 1 as int),"
                f" cast({pos_j} + {hi_sh} as int))"
            )
            positions = (
                f"if(({li} > {tau}) and ({slen} >= 1) and ({slen} <= __L)"
                f" and ({lo} <= {hi}), sequence({lo}, {hi}),"
                " cast(array() as array<int>))"
            )
            arrays.append(
                f"transform({positions}, p -> struct("
                f"substring(__s, p, {slen}) as val,"
                f" {j} as j, {li} as li, cast(p as int) as p,"
                f" cast({slen} as int) as slen))"
            )
    # (no array_distinct: entries carry their position p, so they are
    # unique by construction — same-value substrings at different
    # window positions must each survive for the hot route's splice)
    return side.select(
        *keys,
        "id_a",
        "__sa",
        "__s",
        F.expr(
            "explode(flatten(array(" + ", ".join(arrays) + ")))"
        ).alias("g"),
    ).select(*keys, "id_a", "__sa", "__s", "g.val", "g.j", "g.li", "g.p", "g.slen")


def _pj_splice(str_col: str, pos, slen):
    """The string with the [pos, pos+slen) span removed and a separator
    left in its place — the 'remainder' the hot-bucket recursion
    re-segments."""
    s = F.col(str_col)
    return F.concat(
        s.substr(F.lit(1), (pos - 1).cast("int")),
        F.lit(_PASSJOIN_SEP),
        s.substr((pos + slen).cast("int"), F.length(s)),
    )


#: Bucket-size threshold used by ``hot_threshold="adaptive"``: buckets
#: with more than this many segment entries route through the hot-bucket
#: recursion.  128 keeps direct-pair volume per bucket ≤ ~16k while
#: leaving benign corpora entirely on the flat single-join plan.
_PJ_ADAPTIVE_HOT_THRESHOLD = 128


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int,
    hot_threshold: int | str | None = "adaptive",
) -> DataFrame:
    """String-similarity self-join: ``(id_a, id_b, distance)`` for every
    pair of rows whose strings are within Levenshtein distance
    ``max_dist`` — the fuzzy-matching join of record linkage and typo
    dedup, with PIGEONHOLE candidate generation (the partition scheme of
    PassJoin, Li et al. 2011): partition every string into ``τ+1`` even
    segments; ``τ`` edits cannot touch all of them, so any true match
    contains at least one segment VERBATIM as a substring, starting
    within the alignment position window (see :func:`_pj_probe`).
    Candidates are an equi-join of indexed segments against probe
    substrings tagged with (segment index, indexed length); the exact
    ``levenshtein`` verify (JVM built-in) makes false candidates
    harmless — the pigeonhole makes misses impossible.

    Length routing keeps the pigeonhole sound: strings shorter than
    ``τ+1`` characters cannot donate τ+1 non-empty segments, so all
    strings of length ≤ ``2τ`` form a brute-force bucket (bounded — a
    pair within distance τ with one short side has BOTH sides ≤ 2τ),
    while every pair with both lengths > τ flows through the segment
    path; overlap between the two routes is deduplicated.

    **Hot-bucket recursion** (the skew guard, round-6): corpora with a
    fixed shared vocabulary ("hot pink gearbox…" part names, template
    boilerplate) put linearly-growing string families into the same
    (segment value, j, li) bucket, and one-level PassJoin then
    generates Σ bucket² candidates — measured ~20% of ALL pairs on a
    fixed-64-word-vocabulary corpus, a quadratic wall no position
    filter fixes (the colliding families agree on position too).
    Buckets larger than ``hot_threshold`` therefore emit NO direct
    pairs; instead their members re-run the same segment candidate
    generation on the REMAINDER string (the matched segment spliced
    out, separator left in place), which re-buckets the family on its
    discriminating content.  Soundness: a true pair caught by bucket B
    has prefix+suffix edits ≤ τ under the matching alignment, so the
    spliced remainders are within τ too and level-2's own pigeonhole
    covers them; level-2 short remainders fall back to within-bucket
    brute force, restricted to pairs whose SMALLER remainder is ≤ τ
    (pairs with both remainders in (τ, 2τ] already flow through the
    level-2 pigeonhole, so the fallback's per-bucket cost is
    |remainder ≤ τ| × |remainder ≤ 2τ| rather than a full bucket² —
    a hot bucket of near-pure-segment strings whose remainders still
    exceed τ re-buckets on them instead of brute-forcing; the residual
    quadratic case, many members with remainder ≤ τ, is an
    output-bounded family of genuinely near-identical strings).
    Measured at the 10× probe scale: 45 s → ~8 s and candidate volume
    42M → ~2M on the adversarial corpus, with the flat path
    (``hot_threshold=None``) unchanged on benign data.

    ``hot_threshold`` modes: the default ``"adaptive"`` runs ONE small
    EAGER aggregate job over the segment index (an AQE-style plan
    probe) — benign corpora have no hot bucket and get the flat
    single-join plan (~4 s cheaper at bench scale than carrying empty
    hot-route machinery); when hot buckets exist, the probe's
    aggregate is cached and reused as the ``hot_keys`` routing table,
    so the hot path performs exactly one segment-index aggregate
    total.  Pass an explicit ``int`` to build the hot-route plan
    unconditionally and LAZILY (no driver action — use this, or
    ``None`` for the flat plan, from explain-only/plan-inspection
    paths), or ``None`` to disable skew handling.

    **Verify before distinct**: the exact ``levenshtein`` filter runs
    INLINE on the join output stream, and ``distinct`` runs on the
    surviving true pairs only.  Deduplicating first would shuffle the
    full candidate pair set (44M rows measured at 10× — 225 s of pure
    exchange) to save a ~1.7×-duplicated JVM verify that costs
    microseconds per row; verify-first scales with candidate COUNT,
    never candidate SHUFFLE.

    Duplicate strings amplify the candidate set quadratically (they
    are all true distance-0 pairs) — run on DISTINCT strings and
    expand via group membership when the corpus repeats values heavily
    (the exact-dedup pre-pass pattern).
    """
    tau = int(max_dist)
    # The slim (id, string, length) relation is consumed up to 6 times
    # (index/probe × cold/hot + short bucket + the adaptive hot probe);
    # it is vocabulary-bounded (the operator contract is DISTINCT
    # strings), so cache it once instead of recomputing the upstream
    # per consumer — measured 4.6 s → 1.5 s at bench scale.  The entry
    # cannot be unpersisted here (the result is lazy and consumed
    # later); repeat calls on the same input re-use the one entry (the
    # CacheManager matches canonicalized plans), and Spark's unified
    # memory manager evicts cold cache blocks under pressure, so the
    # residue degrades to a recompute, never an OOM.
    s = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(F.col(str_col)).alias("__L"),
    ).cache()
    long_side = s.where(F.col("__L") > tau)
    index = _pj_index(
        long_side.select(
            F.col("__id").alias("id_b"), F.col("__s").alias("__sb"), "__s", "__L"
        ),
        tau,
        [],
    )
    probe = _pj_probe(
        long_side.select(
            F.col("__id").alias("id_a"), F.col("__s").alias("__sa"), "__s", "__L"
        ),
        tau,
        [],
    )
    jk = ["val", "j", "li"]

    def _hot_keys(threshold: int) -> DataFrame:
        # hot-bucket key list: tiny by construction (≤ segment-entry
        # count / threshold), so it broadcasts; cached because four
        # broadcast consumers (two anti, two semi) read it — the cache
        # makes ONE segment-index aggregate serve all of them (and, in
        # adaptive mode, the plan probe too).  Like the slim-relation
        # cache above, the tiny entry is left to Spark's LRU.
        return (
            index.groupBy(jk)
            .agg(F.count(F.lit(1)).alias("__bc"))
            .where(F.col("__bc") > threshold)
            .select(*jk)
            .cache()
        )

    hot_keys = None
    if hot_threshold == "adaptive":
        # adaptive plan probe (EAGER — see docstring): one small
        # aggregate job decides flat vs hot; its result IS the
        # hot_keys routing table, so no second index pass when hot
        hot_keys = _hot_keys(_PJ_ADAPTIVE_HOT_THRESHOLD)
        if hot_keys.count() == 0:
            hot_keys.unpersist()
            hot_keys = None
    elif hot_threshold is not None:
        hot_keys = _hot_keys(int(hot_threshold))
    cand_streams = []
    if hot_keys is None:
        cand_streams.append(
            probe.join(index, jk)
            .where(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b", "__sa", "__sb")
        )
    else:
        cand_streams.append(
            probe.join(F.broadcast(hot_keys), jk, "left_anti")
            .join(index.join(F.broadcast(hot_keys), jk, "left_anti"), jk)
            .where(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b", "__sa", "__sb")
        )
        # level 2: re-run segment candidates on spliced remainders,
        # bucket-locally (join keys extended by the hot bucket id)
        kcols = ["k1v", "k1j", "k1l"]
        key_alias = [
            F.col("val").alias("k1v"),
            F.col("j").alias("k1j"),
            F.col("li").alias("k1l"),
        ]
        b2 = index.join(F.broadcast(hot_keys), jk, "left_semi").select(
            *key_alias,
            "id_b",
            "__sb",
            _pj_splice("__s", F.col("pos"), F.col("slen")).alias("__s"),
        ).withColumn("__L", F.length("__s"))
        a2 = probe.join(F.broadcast(hot_keys), jk, "left_semi").select(
            *key_alias,
            "id_a",
            "__sa",
            _pj_splice("__s", F.col("p"), F.col("slen")).alias("__s"),
        ).withColumn("__L", F.length("__s"))
        cand_streams.append(
            _pj_probe(a2.where(F.col("__L") > tau), tau, kcols)
            .join(_pj_index(b2.where(F.col("__L") > tau), tau, kcols), kcols + jk)
            .where(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b", "__sa", "__sb")
        )
        # level-2 short-remainder fallback, bounded (see docstring):
        # true pairs with both remainders > tau take the level-2
        # pigeonhole above, so only pairs whose smaller remainder is
        # <= tau (hence larger <= 2*tau — remainder lengths of a true
        # pair differ by <= tau) need brute force.  a2 and b2 splice by
        # different alignments, so both orientations are emitted.
        a2s = a2.select(*kcols, "id_a", "__sa", "__L")
        b2s = b2.select(*kcols, "id_b", "__sb", "__L")
        for a_pred, b_pred in (
            (F.col("__L") <= tau, F.col("__L") <= 2 * tau),
            ((F.col("__L") > tau) & (F.col("__L") <= 2 * tau), F.col("__L") <= tau),
        ):
            cand_streams.append(
                a2s.where(a_pred)
                .drop("__L")
                .join(b2s.where(b_pred).drop("__L"), kcols)
                .where(F.col("id_a") != F.col("id_b"))
                .select("id_a", "id_b", "__sa", "__sb")
            )
    # short bucket: any true pair missed by the pigeonhole (which
    # covers both sides > tau) has one side <= tau and hence the other
    # <= 2*tau; both sides draw from the same relation, so the
    # asymmetric (<= tau) x (<= 2*tau) join emits every such pair in
    # at least one orientation while keeping the brute-force side
    # small — a bounded cross join either way
    cand_streams.append(
        s.where(F.col("__L") <= tau)
        .select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
        .crossJoin(
            s.where(F.col("__L") <= 2 * tau)
            .select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
        )
        .where(F.col("id_a") != F.col("id_b"))
    )

    # verify INLINE on the candidate stream (no pre-verify distinct —
    # see docstring), then dedup the true pairs only
    cands = cand_streams[0]
    for extra in cand_streams[1:]:
        cands = cands.unionByName(extra)
    return (
        cands.withColumn("distance", F.levenshtein(F.col("__sa"), F.col("__sb")))
        .where(F.col("distance") <= tau)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("distance").cast("int").alias("distance"),
        )
        .distinct()
    )


def contamination_overlap(
    train: DataFrame,
    evaluation: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Per-document contamination REPORT: for each training document,
    the fraction of its distinct n-gram shingles that appear anywhere
    in the evaluation corpus — ``(id, n_shingles, n_hit,
    overlap_frac)``.  This is the eval-overlap accounting of published
    LM reports (GPT-3 App. C / PaLM-class "percent of n-grams seen in
    benchmarks"), complementing :func:`cross_corpus_contamination`:
    that operator finds WHICH eval doc matches (pairwise, thresholded);
    this one scores HOW MUCH of each train doc is contaminated, with no
    pair blowup at all.

    Scale shape: the eval side collapses to its distinct-shingle
    universe (one aggregate), then a single shingle-keyed left join
    marks hits and a doc-keyed aggregate counts them — candidate volume
    is the train shingle stream itself, independent of eval document
    count.  ``overlap_frac`` is an exact integer ratio evaluated in
    IEEE double (single division — deterministic across engines, no
    rounding needed).  Documents shorter than ``n`` tokens have no
    shingles and drop out (same convention as the pair operators).
    """
    from pedsnetdcc_spark.datapipe.text import shingle_ngrams

    sh_t = shingle_ngrams(train, id_col, text_col, n=n)
    eval_universe = (
        shingle_ngrams(evaluation, id_col, text_col, n=n)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        sh_t.join(eval_universe, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_hit"),
        )
        .withColumn(
            "overlap_frac",
            F.col("n_hit").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


def passage_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_tokens: int = 32,
    keep: str = "first",
    chunking: str = "fixed",
    hash_family: str = "xxhash64",
    min_count: int = 2,
    sep: str = "\n",
) -> DataFrame:
    """Cross-document EXACT passage dedup: split every document into
    non-overlapping ``chunk_tokens``-token windows, drop windows whose
    exact content also appears elsewhere in the corpus, and reassemble
    each document from its surviving windows in order — the span-level
    dedup step of public web-corpus pipelines (C4 removes all but one
    occurrence of repeated three-sentence spans; RefinedWeb drops
    duplicated lines), expressed over token windows because this corpus
    has no line structure.  (Reference scope note: part of the
    training-data extension surface, not a reference operator.)

    ``keep="first"``: the globally-first occurrence (min ``(id,
    chunk_id)``) of each repeated passage survives, later copies drop —
    corpus-wide content is preserved exactly once.  ``keep="unique"``:
    every occurrence of a repeated passage drops (boilerplate removal).

    ``chunking="fixed"`` (default) is phase-sensitive: a passage
    repeated at DIFFERENT token offsets lands in differently-aligned
    windows and is missed.  ``chunking="cdc"`` switches to
    content-defined boundaries (text.cdc_chunk_documents) whose cut
    points re-synchronize inside the repeat, catching it at any offset
    — same cost shape, expected chunk length ``chunk_tokens``.
    ``chunking="sep"`` splits on the literal separator ``sep`` instead
    of token windows — the LINE-level dedup of C4/RefinedWeb ("remove
    any line repeated across the corpus"); reassembly rejoins with the
    same separator, and ``chunk_tokens`` is ignored.

    ``min_count`` (default 2) is the repetition threshold: a passage
    counts as repeated only when it occurs at least ``min_count`` times
    corpus-wide (RefinedWeb-style "lines occurring ≥ N times"); below
    the threshold every occurrence survives.

    Returns ``(id, text_deduped, n_chunks, n_chunks_dropped)`` — one
    row per input document; a document whose every window was dropped
    keeps its row with an empty ``text_deduped``.

    Scale shape: chunking is scan-fused (higher-order functions, no
    shuffle); duplicate detection is ONE hash aggregate keyed on the
    128-bit content digest (slim key, map-side partial combine absorbs
    hot boilerplate passages) + a shuffle join back on the digest (AQE
    skew-split handles a passage repeated millions of times — the
    deliberate reason this is groupBy+join, not a window over
    ``chunk_text``, which would funnel every copy of a hot passage
    through one task with no skew remedy); reassembly is one
    doc-keyed aggregate.  No UDFs, three exchanges total.
    """
    if keep not in ("first", "unique"):
        raise ValueError(f"keep must be 'first' or 'unique', got {keep!r}")
    from pedsnetdcc_spark.datapipe.text import cdc_chunk_documents, chunk_documents

    if min_count < 2:
        raise ValueError(f"min_count must be >= 2, got {min_count}")
    join_sep = " "
    if chunking == "fixed":
        raw = chunk_documents(df, id_col, text_col, chunk_tokens=chunk_tokens, overlap=0)
    elif chunking == "cdc":
        # content-defined boundaries: repeats are caught regardless of
        # their token offset in each document (see cdc_chunk_documents)
        raw = cdc_chunk_documents(
            df, id_col, text_col, target_tokens=chunk_tokens, hash_family=hash_family
        )
    elif chunking == "sep":
        # line mode: one chunk per separator-delimited segment
        raw = df.select(
            F.col(id_col),
            # Pattern.quote-style literalization (handles embedded \E)
            F.posexplode(F.split(F.col(text_col), _regex_literal(sep))).alias(
                "chunk_id", "chunk_text"
            ),
        )
        join_sep = sep
    else:
        raise ValueError(
            f"chunking must be 'fixed', 'cdc' or 'sep', got {chunking!r}"
        )
    chunks = raw.withColumn("__key", F.md5(F.col("chunk_text")))
    per_key = chunks.groupBy("__key").agg(
        F.count(F.lit(1)).alias("__df"),
        F.min(F.struct(F.col(id_col), F.col("chunk_id"))).alias("__first"),
    )
    tagged = chunks.join(per_key, "__key")
    if keep == "first":
        survives = (F.col("__df") < min_count) | (
            F.struct(F.col(id_col), F.col("chunk_id")) == F.col("__first")
        )
    else:
        survives = F.col("__df") < min_count
    return (
        tagged.withColumn("__keep", survives)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("chunk_id"), F.col("chunk_text")),
                            )
                        )
                    ),
                    lambda s: s.chunk_text,
                ),
                join_sep,
            ).alias("text_deduped"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias(
                "n_chunks_dropped"
            ),
        )
    )


def _shingle_texts(k: int, sep: str) -> Column:
    """The k-token shingle texts of a tokenized document ``__arr``, one
    per start position — scan-fused (higher-order functions, no UDF).
    Shingles are joined with the CALLER'S separator: tokens cannot
    contain ``sep`` (they were produced by splitting on it), so
    ``sep``-joining is injective on token sequences — a hard-coded
    ``' '`` would let distinct sequences collide whenever ``sep != ' '``
    and tokens contain spaces.  ``array_join`` takes the delimiter as a
    plain Python string, so no SQL-literal escaping is involved."""
    return F.transform(
        F.sequence(F.lit(0), F.size("__arr") - k),
        lambda p: F.array_join(F.slice(F.col("__arr"), p + 1, k), sep),
    )


def _span_shingle_keys(
    toks: DataFrame, id_col: str, k: int, sep: str, digest: str
) -> DataFrame:
    """``(id, __pos, __key)`` for every k-token shingle start position
    of a tokenized corpus ``toks = (id, __arr)`` — the shared candidate
    stage of :func:`duplicate_spans` / :func:`drop_duplicate_spans`.

    ``digest="md5"`` (default, the oracle mode): ``__key`` is the md5
    of the sep-joined shingle TEXT — 128-bit, replayable by DuckDB, but
    each position materializes its k-token string in the scan stream
    (~k× transient byte amplification; never shuffled — only the digest
    moves).

    ``digest="xxh64"``: the shingle string is NEVER materialized — each
    token pre-hashes ONCE (one interpreted pass over n tokens, not
    n·k), and each position's key is the JVM-native xxhash64 of the
    k-long SLICE of the token-hash array — fixed-width input, no
    string building, and an 8-byte key so the dedup aggregate + join
    shuffle ~4× fewer key bytes than md5's 32-char digest.  64-bit
    space: at 5e9 corpus shingles the expected number of colliding
    shingle PAIRS is < 1 (birthday bound) — the usual fingerprint-dedup
    trade (Lee et al. 2022's 64-bit fingerprints share it).  Measured
    at 500k docs (SCALE.md round 11): ties md5 at k=8, wins ~11% at
    k=50 where the string path's byte amplification grows; a
    two-channel interpreted polynomial fold was tried first and
    measured SLOWER than both at every k (per-element interpreted
    lambdas cost more than the strings they avoid) — native-width
    hashing, not arithmetic cleverness, is what beats the string path.
    Span sets are equality-tested against md5 mode."""
    if digest == "md5":
        return toks.select(
            id_col,
            F.posexplode(_shingle_texts(k, sep)).alias("__pos", "__sh"),
        ).withColumn("__key", F.md5(F.col("__sh"))).drop("__sh")
    if digest != "xxh64":
        raise ValueError(f"digest must be 'md5' or 'xxh64', got {digest!r}")
    # stage the token-hash array in a projection FIRST: referencing a
    # transform() expression inside the per-position lambda would
    # re-evaluate it per position (O(n^2) token hashes per document —
    # the staging rule test_plan_quality enforces)
    staged = toks.select(
        id_col,
        F.transform("__arr", lambda t: F.xxhash64(t)).alias("__th"),
    )
    keys = F.transform(
        F.sequence(F.lit(0), F.size("__th") - k),
        lambda p: F.xxhash64(F.slice(F.col("__th"), p + 1, k)),
    )
    return staged.select(
        id_col, F.posexplode(keys).alias("__pos", "__key")
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    sep: str = " ",
    digest: str = "md5",
) -> DataFrame:
    """MAXIMAL duplicated token spans — the exact-substring dedup
    formulation of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed relationally: a position is
    *duplicated* when the ``k``-token shingle starting there occurs at
    least ``min_count`` times corpus-wide; runs of duplicated positions
    whose shingles overlap or abut (gap ≤ ``k``) merge into one maximal
    span per document (gaps-and-islands — the same island construction
    as ``operators/eras.derive_eras``, applied to token offsets instead
    of dates).  Complementary to :func:`passage_dedup`: that reports
    which fixed/CDC *chunks* repeat; this reports the exact maximal
    extent of every repeat at ANY offset, with positions.

    Returns ``(id, span_start, span_end, n_tokens)`` — token offsets
    are 0-based inclusive; ``n_tokens = span_end - span_start + 1 ≥ k``.
    Documents shorter than ``k`` tokens produce no shingles and no
    spans.  (Reference scope note: training-data extension surface,
    not a reference operator.)

    Scale shape: shingling is scan-fused (split + slice higher-order
    functions, no shuffle, no UDF); duplicate detection is ONE hash
    aggregate keyed on the shingle digest (slim fixed-width key,
    map-side partial combine absorbs hot boilerplate shingles) + a
    shuffle join back on the digest (groupBy+join, not a window over
    the shingle, so AQE's skew-split can break up a shingle repeated
    millions of times); the island merge is one per-document window.
    Never materializes pairs — cost is linear in total shingle
    occurrences, not Σ bucket².  ``digest="md5"`` (default) hashes the
    sep-joined shingle text — exact and DuckDB-replayable;
    ``digest="xxh64"`` hashes the k-long slice of the pre-hashed token
    array JVM-natively so the shingle string is never built (see
    :func:`_span_shingle_keys` for the collision bound and the measured
    regime) — the scan-stage mode for 100-TB corpora.
    """
    toks = df.select(
        # Pattern.quote-style literalization (handles embedded \E)
        F.col(id_col), F.split(F.col(text_col), _regex_literal(sep)).alias("__arr")
    ).where(F.size("__arr") >= k)
    sh = _span_shingle_keys(toks, id_col, k, sep, digest)
    per_key = sh.groupBy("__key").agg(F.count(F.lit(1)).alias("__cnt"))
    dup = (
        sh.join(per_key, "__key")
        .where(F.col("__cnt") >= min_count)
        .select(id_col, "__pos")
    )
    return _merge_span_islands(dup, id_col, k)


def _merge_span_islands(dup: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated shingle START positions
    ``(id, __pos)`` into maximal spans ``(id, span_start, span_end,
    n_tokens)`` — positions whose shingles overlap or abut (gap ≤ k)
    fuse; one per-document window, shared by :func:`duplicate_spans`
    and the persisted-index form."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__pos")
    brk = F.when(
        F.col("__pos") - F.lag("__pos").over(w) <= k, F.lit(0)
    ).otherwise(F.lit(1))
    isl = (
        dup.withColumn("__brk", brk)
        .withColumn(
            "__isl",
            F.sum("__brk").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return isl.groupBy(id_col, "__isl").agg(
        F.min("__pos").alias("span_start"),
        (F.max("__pos") + F.lit(k - 1)).alias("span_end"),
        (F.max("__pos") - F.min("__pos") + F.lit(k)).alias("n_tokens"),
    ).drop("__isl")


def drop_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    min_count: int = 2,
    keep: str = "first",
    sep: str = " ",
    digest: str = "md5",
) -> DataFrame:
    """Remove the duplicated spans found by :func:`duplicate_spans`
    from every document and reassemble the survivors in order.

    ``keep="first"``: for each duplicated shingle, the globally-first
    occurrence (min ``(id, pos)``) keeps its tokens — corpus-wide
    content survives exactly once, later copies are cut.
    ``keep="unique"``: every occurrence of a duplicated shingle is cut
    (boilerplate removal).  A token is removed when ANY removable
    shingle occurrence covers it, so cuts are maximal-span shaped, not
    chunk-aligned.

    Returns ``(id, text_deduped, n_tokens, n_tokens_dropped)`` — one
    row per input document (docs shorter than ``k`` pass through
    unchanged).

    Scale shape: same single digest-keyed aggregate + join as
    :func:`duplicate_spans` (and the same ``digest="xxh64"`` mode —
    shingle strings never materialized); covered positions explode only the
    REMOVABLE shingle occurrences (k× those rows, not the corpus) and
    dedup per document; reassembly is one doc-keyed aggregate over the
    token positions (sort_array of (pos, token) structs).  No UDFs.
    """
    if keep not in ("first", "unique"):
        raise ValueError(f"keep must be 'first' or 'unique', got {keep!r}")

    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), _regex_literal(sep)).alias("__arr")
    )
    sh = _span_shingle_keys(
        toks.where(F.size("__arr") >= k), id_col, k, sep, digest
    )
    per_key = sh.groupBy("__key").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.min(F.struct(F.col(id_col), F.col("__pos"))).alias("__first"),
    )
    removable = sh.join(per_key, "__key").where(
        (F.col("__cnt") >= min_count)
        & (
            F.lit(keep == "unique")
            | (F.struct(F.col(id_col), F.col("__pos")) != F.col("__first"))
        )
    )
    covered = removable.select(
        id_col,
        F.explode(F.expr(f"sequence(__pos, __pos + {k - 1})")).alias("__pos"),
    ).distinct()
    positions = toks.select(
        id_col, F.posexplode(F.col("__arr")).alias("__pos", "__tok")
    )
    kept = positions.join(covered, [id_col, "__pos"], "left_anti")
    survivors = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
            sep,  # reassemble with the caller's separator, not ' '
        ).alias("__text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    # left join from the full doc list so a document whose EVERY token
    # was covered keeps its row with an empty text_deduped
    return (
        toks.select(id_col, F.size("__arr").alias("__total"))
        .join(survivors, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__text"), F.lit("")).alias("text_deduped"),
            F.coalesce(F.col("__kept"), F.lit(0)).alias("n_tokens"),
            (F.col("__total") - F.coalesce(F.col("__kept"), F.lit(0))).alias(
                "n_tokens_dropped"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Persisted span-digest index: incremental exact-substring dedup.
#
# The 100-TB pattern (FineWeb/Dolma dedup each new crawl dump against
# everything already published): keep ONLY the per-shingle digest counts
# as durable state — 8-32 bytes per DISTINCT shingle, not the corpus —
# and dedup each new generation against that state without ever
# re-scanning the old text.  The dedup-family twin of the persistent
# IVF index (similarity.build_ivf_index): build offline, append each
# generation as an atomic delta, compact when the delta pile grows,
# query (= dedup new docs) against base ∪ deltas.  The lifecycle itself
# (locking, commits, crash recovery, watermark, compaction, stream
# sink) is datapipe.delta_index; this section supplies the data hooks.
# ---------------------------------------------------------------------------


def _span_counts(df: DataFrame, meta: dict, text_col: str) -> DataFrame:
    """Per-key shingle counts of ``df`` under the index's shingle
    parameters (the span index's delta rows)."""
    toks = df.select(
        F.col(meta["id_col"]),
        F.split(F.col(text_col), _regex_literal(meta["sep"])).alias("__arr"),
    ).where(F.size("__arr") >= meta["k"])
    return (
        _span_shingle_keys(toks, meta["id_col"], meta["k"], meta["sep"],
                           meta["digest"])
        .groupBy("__key")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sum_counts(base: DataFrame, delta: DataFrame) -> DataFrame:
    return base.unionByName(delta).groupBy("__key").agg(F.sum("cnt").alias("cnt"))


def _span_receipt(keys_dir: str | None, folded: int) -> dict:
    # new base's row count from its parquet FOOTERS (no Spark job)
    from pedsnetdcc_spark.util import parquet_dir_num_rows

    n = None if keys_dir is None else parquet_dir_num_rows(keys_dir)
    return {"keys": n, "generations_folded": folded}


_SPAN = DI.Layout(
    name="a span index",
    family="span",
    base="keys",
    delta_key="gen",
    id_width=0,
    noun="generation",
    offset_marker="_span_generation_offset.json",
    cluster_key="__key",
    partitioned=False,
    merge=_sum_counts,
    receipt=_span_receipt,
)


def build_span_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str = "text",
    k: int = 8,
    sep: str = " ",
    digest: str = "md5",
    force: bool = False,
) -> dict:
    """Persist the span-dedup digest state of a corpus: one row per
    DISTINCT k-token shingle digest with its occurrence count.

    Layout under ``path``::

        keys/            (__key, cnt)   — one parquet dir, key-clustered
        keys_delta/gen=N/ ...           — per-generation appends
        meta.json        (k, sep, digest, id_col, folded_through_generation)

    One hash aggregate over the corpus (map-side partial combine
    absorbs hot boilerplate shingles) + one clustered write; the text
    itself is never stored.  ``digest`` fixes the key family for the
    index's whole life (meta-enforced): ``"xxh64"`` for production
    (8-byte keys), ``"md5"`` where a DuckDB replay matters.

    Building REPLACES the index wholesale (keys, deltas, watermark), so
    a rebuild can never mix a fresh base with stale generations.  A
    non-empty ``path`` that does not look like a span index is REFUSED
    unless ``force=True``; the build holds the index's ``.writer.lock``
    (:func:`pedsnetdcc_spark.datapipe.delta_index.build`)."""
    meta = {"k": k, "sep": sep, "digest": digest, "id_col": id_col}

    def populate() -> dict:
        counts = _span_counts(df, meta, text_col)
        DI.write_layout(counts, os.path.join(path, "keys"), _SPAN)
        return meta

    return DI.build(path, _SPAN, force, populate)


def append_span_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    generation: int | None = None,
    live_lineage_checkpoint: str | None = None,
) -> dict:
    """Fold a NEW generation of documents into the index as an atomic
    ``keys_delta/gen=N`` directory — per-key counts of the new docs
    only.  The shingle parameters come from the index's meta, so an
    append can never silently mix key families.  Commit semantics are
    :func:`pedsnetdcc_spark.datapipe.delta_index.append`'s:

    - SINGLE-WRITER (enforced): holds the ``.writer.lock``; a
      concurrent writer fails with
      :class:`~pedsnetdcc_spark.util.IndexWriterLocked`.
    - ``generation=None`` auto-numbers above every committed or folded
      generation and is NOT retry-idempotent (a blind re-run folds the
      same documents again); an at-least-once scheduler passes an
      explicit ``generation``, and a retry then REPLACES its delta.
    - A tagged generation at or below meta's
      ``folded_through_generation`` is a no-op, returned as
      ``{"generation": n, "skipped_folded_replay": True}``.
    - A batch with zero shingle keys commits nothing:
      ``{"generation": n, "empty": True}``.

    Otherwise returns ``{"generation": n}``."""
    return DI.append(
        df, path, _SPAN, generation,
        lambda batch, meta: _span_counts(batch, meta, text_col),
        live_lineage_checkpoint=live_lineage_checkpoint,
    )


def _span_index_gens(path: str) -> list[str]:
    """The COMMITTED generation deltas as ``gen=N`` names."""
    return [f"gen={n}" for n in DI.committed_ids(path, _SPAN)]


def _span_index_counts(spark, path: str, recover: bool = True) -> DataFrame:
    """The index's current per-key counts: base ∪ deltas, summed — or
    the base alone when no delta is committed (one row per key by
    construction, so the sum would be a shuffle for nothing).  A
    crashed compaction is rolled forward first; ``recover=False``
    raises instead (read-only mounts)."""
    return DI.read(spark, path, _SPAN, recover=recover)


def compact_span_index(spark, path: str) -> dict:
    """Fold the generation deltas back into the base keys — sum counts
    per key, restore the one-directory key-clustered layout, swap by
    rename, drop the deltas.  Bounds the per-query re-aggregation the
    way compact_ivf_index bounds the cell listing.  Crash-safe and
    single-writer (:func:`pedsnetdcc_spark.datapipe.delta_index.compact`);
    records ``folded_through_generation`` before the swap so a replayed
    folded generation is a no-op.  Returns ``{"keys": n,
    "generations_folded": g}`` (``keys`` None when nothing to fold)."""
    return DI.compact(spark, path, _SPAN)


def maybe_compact_span_index(
    spark,
    path: str,
    max_generations: int | None = None,
    max_delta_fraction: float | None = None,
) -> dict:
    """Auto-compact policy: :func:`compact_span_index` iff committed
    generations exceed ``max_generations`` or delta bytes exceed
    ``max_delta_fraction`` of the base ``keys/``.  Every read with a
    delta present pays a full re-aggregation shuffle, so run this after
    each append (CLI: ``span-index --append --auto-compact-gens/--frac``)
    and the index self-bounds.  Thresholds are opt-in (``None`` =
    unbounded) so a bulk backfill can defer the fold.  Adds
    ``triggered`` (and ``reason``) to the compaction receipt."""
    return DI.maybe_compact(spark, path, _SPAN, max_generations,
                            max_delta_fraction)


def next_generation_offset(path: str) -> int:
    """The generation id a FRESH append stream must start from on an
    index with history: one past everything ever committed (folded
    generations via ``folded_through_generation``, unfolded ones via
    the delta listing).  A new checkpoint restarts Spark's epoch ids at
    0, and an id at or below the watermark reads as a crash-replay."""
    return DI.next_offset(path, _SPAN)


def stream_span_index_append(stream: DataFrame, path: str, *,
                             generation_offset: int,
                             text_col: str = "text",
                             checkpoint: str | None = None,
                             auto_compact_generations: int | None = None,
                             auto_compact_fraction: float | None = None):
    """Continuous index maintenance: a streaming sink that folds
    micro-batch ``e`` into the index as ``keys_delta/gen=<e +
    generation_offset>`` — the span twin of
    :func:`pedsnetdcc_spark.datapipe.similarity.stream_ivf_index_append`
    (both are :func:`pedsnetdcc_spark.datapipe.delta_index.stream_sink`).
    Returns a ``DataStreamWriter`` — caller adds trigger and
    ``.start()``.

    ``generation_offset`` is keyword-only with NO default: a fresh
    checkpoint on an index with history must pass
    ``next_generation_offset(path)`` (``0`` for a freshly built index),
    fixed for the checkpoint's life.  Pass ``checkpoint=`` to make that
    machine-checked (persisted as ``_span_generation_offset.json`` in
    the checkpoint, validated on every restart) and to register the
    stream as the index's one live lineage — a later wiring supersedes
    it, and its next batch fails with
    :class:`~pedsnetdcc_spark.util.StreamLineageSuperseded`.

    ``auto_compact_generations`` / ``auto_compact_fraction`` run
    :func:`maybe_compact_span_index` after each micro-batch; the
    watermark keeps a crash-replay across a fold exactly-once."""
    return DI.stream_sink(
        stream, path, _SPAN,
        lambda batch, meta: _span_counts(batch, meta, text_col),
        offset=generation_offset, checkpoint=checkpoint,
        auto_compact_deltas=auto_compact_generations,
        auto_compact_fraction=auto_compact_fraction,
    )


def duplicate_spans_against_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    min_count: int = 2,
    recover: bool = True,
) -> DataFrame:
    """Maximal duplicated token spans of NEW documents against a
    persisted corpus: a position is duplicated when its shingle's
    combined count — occurrences in the indexed corpus PLUS in the new
    batch itself — reaches ``min_count``, so both cross-generation
    repeats and repeats internal to the new batch surface.  Same output
    contract as :func:`duplicate_spans`; the indexed corpus's text is
    never read (only its slim digest counts).

    Scale shape: one hash aggregate over the NEW batch + one join
    against the index counts (left join — an unindexed shingle still
    counts its in-batch occurrences) + the per-doc island window.  The
    index side arrives key-clustered from the build/compact write.

    Opening an index whose compaction crashed performs recovery WRITES
    (:func:`pedsnetdcc_spark.datapipe.delta_index.recover_compaction`); on a read-only mount pass
    ``recover=False`` to raise loudly instead."""
    spark = df.sparkSession
    meta = DI.read_meta(path)
    k, sep, digest = meta["k"], meta["sep"], meta["digest"]
    id_col = meta["id_col"]
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), _regex_literal(sep)).alias("__arr")
    ).where(F.size("__arr") >= k)
    sh = _span_shingle_keys(toks, id_col, k, sep, digest)
    own = sh.groupBy("__key").agg(F.count(F.lit(1)).alias("__own"))
    idx = _span_index_counts(spark, path, recover=recover).withColumnRenamed(
        "cnt", "__idx"
    )
    combined = own.join(idx, "__key", "left").select(
        "__key",
        (F.col("__own") + F.coalesce(F.col("__idx"), F.lit(0))).alias("__cnt"),
    )
    dup = (
        sh.join(combined, "__key")
        .where(F.col("__cnt") >= min_count)
        .select(id_col, "__pos")
    )
    return _merge_span_islands(dup, id_col, k)


def drop_duplicate_spans_against_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    min_count: int = 2,
    recover: bool = True,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Cut the spans :func:`duplicate_spans_against_index` finds and
    reassemble each new document — existing-corpus-wins semantics: the
    indexed occurrences are already published, so EVERY covered
    position in the new batch is removed (the keep="first" survivor is
    by construction in the old corpus whenever the index count is
    non-zero; a shingle repeated only within the new batch keeps no
    copy either, matching keep="unique" locally — the conservative
    incremental-publish behavior).  Output contract matches
    :func:`drop_duplicate_spans`.

    ``spans``: a caller that already built
    :func:`duplicate_spans_against_index` over the SAME ``df``/``path``/
    ``min_count`` may pass it in, sharing one plan subtree instead of
    constructing the aggregate+join pipeline twice — the ``shingles=``
    sharing seam of :func:`ngram_jaccard_pairs`, applied to the index
    form (the executed work was already deduplicated by exchange
    reuse; this removes the duplicate plan-construction cost).
    CONTRACT: the passed DataFrame must be that exact function's
    output over the same inputs — columns ``(<the index's id_col>,
    span_start, span_end)`` with spans derived under the index's
    ``sep``/``k`` and this call's ``min_count``; a mismatched spans
    table silently produces wrong dedup output (advice r13)."""
    meta = DI.read_meta(path)
    sep = meta["sep"]
    id_col = meta["id_col"]
    if spans is None:
        spans = duplicate_spans_against_index(
            df, path, text_col=text_col, min_count=min_count, recover=recover
        )
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), _regex_literal(sep)).alias("__arr")
    )
    covered = spans.select(
        id_col,
        F.explode(F.expr("sequence(span_start, span_end)")).alias("__pos"),
    )
    positions = toks.select(
        id_col, F.posexplode(F.col("__arr")).alias("__pos", "__tok")
    )
    kept = positions.join(covered, [id_col, "__pos"], "left_anti")
    survivors = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__tok")))
                ),
                lambda s: s["__tok"],
            ),
            sep,
        ).alias("__text"),
        F.count(F.lit(1)).alias("__kept"),
    )
    return (
        toks.select(id_col, F.size("__arr").alias("__total"))
        .join(survivors, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__text"), F.lit("")).alias("text_deduped"),
            F.coalesce(F.col("__kept"), F.lit(0)).alias("n_tokens"),
            (F.col("__total") - F.coalesce(F.col("__kept"), F.lit(0))).alias(
                "n_tokens_dropped"
            ),
        )
    )
