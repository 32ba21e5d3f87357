"""Deterministic sampling, splitting, mixing, packing, and shuffling —
the corpus-assembly half of a training-data pipeline.

Every operator here is **hash-deterministic**: membership / position is
a pure function of ``(id, seed)``, never of RNG state, partitioning, or
arrival order.  That is the property a 100 TB pipeline needs —

- reruns, retries, and speculative tasks reproduce the identical
  sample (no ``rand()`` whose value depends on task replay);
- the sample composes: a 10% sample is a strict subset of the 20%
  sample at the same seed, so sweeps can be nested without rereading;
- membership is auditable by an external engine: with the ``portable``
  hash family the bucket is renderable in ANSI SQL, so every operator
  is oracle-checkable end to end (`portable_hash64_sql`).

Scale shape: sampling / splitting / mixing are pure scan-project stages
(no shuffle, trivially parallel, filter evaluated inside whole-stage
codegen).  Packing and shuffling shuffle exactly once, on an explicitly
chosen shard key, then run per-shard window passes — the global-order
variants exist for parity testing and small corpora and say so.

**Seed discipline:** all operators here share one bucket function, so
the SAME ``(id, seed)`` yields the SAME bucket everywhere — e.g.
``sample_fraction(df, id, 10, seed=0)`` selects exactly the ``test``
partition of ``train_val_test_split(df, id, …, test_pct=10, seed=0)``.
That identity is a feature within one operator (nested samples) but a
correlation hazard across operators: give each independent decision on
a corpus its own seed.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pedsnetdcc_spark.datapipe.dedup import _seeded_hash


def source_seed_offset(name: str) -> int:
    """Stable per-source seed offset: the first 4 bytes of
    ``sha256(name)`` as an int.  A pure function of the NAME (not of
    the source set, not of ``PYTHONHASHSEED``), so a source keeps its
    sample when sibling sources come and go, and the offset is
    precomputable by an oracle rendering the same pipeline in SQL."""
    import hashlib

    return int.from_bytes(hashlib.sha256(name.encode()).digest()[:4], "big")


def hash_bucket(
    col: Column,
    seed: int = 0,
    buckets: int = 100,
    hash_family: str = "portable",
) -> Column:
    """Deterministic bucket in ``[0, buckets)`` for a key column.

    The key is cast to string first so numeric and string ids hash
    identically to their SQL rendering (``'seed:' || id``); the
    ``portable`` family is reproducible in DuckDB via
    :func:`~pedsnetdcc_spark.datapipe.dedup.portable_hash64_sql`,
    ``xxhash64`` is the cheaper JVM-only production default.
    """
    return F.pmod(_seeded_hash(col.cast("string"), seed, hash_family), F.lit(buckets))


def sample_fraction(
    df: DataFrame,
    id_col: str,
    pct: int,
    seed: int = 0,
    hash_family: str = "portable",
) -> DataFrame:
    """Keep a deterministic ``pct``% of rows by id-hash bucket.

    Nested property: ``sample_fraction(df, id, 10, s)`` ⊆
    ``sample_fraction(df, id, 20, s)`` — buckets are compared against
    the threshold, not re-drawn.
    """
    if not 0 <= pct <= 100:
        raise ValueError(f"pct must be in [0, 100], got {pct}")
    return df.where(hash_bucket(F.col(id_col), seed, 100, hash_family) < pct)


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    val_pct: int,
    test_pct: int,
    seed: int = 0,
    split_col: str = "split",
    hash_family: str = "portable",
) -> DataFrame:
    """Append a ``split`` column ∈ {train, val, test} by id-hash bucket.

    Deterministic and leakage-safe: the assignment depends only on the
    id, so re-ingesting a document (or running on a different cluster)
    can never move it across the split boundary — the invariant
    held-out evaluation needs.
    """
    if val_pct + test_pct > 100:
        raise ValueError("val_pct + test_pct must be ≤ 100")
    b = hash_bucket(F.col(id_col), seed, 100, hash_family)
    split = (
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn(split_col, split)


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    rates: Mapping[str, int],
    default_pct: int = 0,
    seed: int = 0,
    hash_family: str = "portable",
) -> DataFrame:
    """Per-stratum deterministic sampling: keep ``rates[stratum]``% of
    each stratum's rows (id-hash bucket < per-stratum threshold),
    ``default_pct`` for strata not listed.

    The rate lookup is a literal CASE chain — broadcast-free,
    whole-stage-codegen'd, no join: up/down-sampling languages or
    sources in one scan is the bread-and-butter rebalancing step of
    corpus assembly.
    """
    pct: Column = F.lit(int(default_pct))
    for stratum, rate in sorted(rates.items()):
        pct = F.when(F.col(strata_col) == stratum, F.lit(int(rate))).otherwise(pct)
    return df.where(hash_bucket(F.col(id_col), seed, 100, hash_family) < pct)


def mix_corpora(
    sources: Mapping[str, tuple[DataFrame, int]],
    id_col: str,
    seed: int = 0,
    source_col: str = "mix_source",
    hash_family: str = "portable",
) -> DataFrame:
    """Weighted mixture of corpora: for each ``name -> (df, pct)`` keep
    a deterministic ``pct``% of that source and union the survivors,
    tagged with the source name.

    Each source is sampled under a distinct seed derived from the
    SOURCE NAME (``seed`` + :func:`source_seed_offset`), so identical
    ids in different sources are independent draws AND adding or
    removing a source never shifts any other source's seed — an
    index-based derivation would silently resample every
    alphabetically-later source whenever the set changes.  The union is
    unionByName over the shared columns — sources must agree on schema
    (project before mixing if not).
    """
    parts = []
    for name in sorted(sources):
        src_df, pct = sources[name]
        kept = sample_fraction(
            src_df, id_col, pct, seed + source_seed_offset(name), hash_family
        )
        parts.append(kept.withColumn(source_col, F.lit(name)))
    if not parts:
        raise ValueError("mix_corpora needs at least one source")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pack_sequences(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    budget: int,
    shards: int = 1,
    seed: int = 0,
    hash_family: str = "portable",
) -> DataFrame:
    """Assign documents to fixed-token-budget training bins
    (concatenate-in-order-and-chop semantics): within each shard,
    documents are laid head-to-tail in id order and the bin boundary
    falls every ``budget`` tokens; a document belongs to the bin where
    it STARTS.  Returns ``(id, shard, bin, bin_offset)``.

    This is the streaming packing used by LLM training pipelines (docs
    are concatenated into one token stream, then split into
    budget-sized windows) — not bin-packing-with-search, which is
    sequential and order-sensitive.  The layout is a pure function of
    (id set, seed), so it reproduces across reruns.

    Scale shape: ``shards`` is the parallelism unit — rows shuffle ONCE
    on the deterministic shard hash, then one window pass per shard
    computes the running offset.  One shard = one task's worth of
    window state, so size ``shards`` to the cluster (e.g. 4× executors).
    ``shards=1`` degenerates to a single global window (parity/testing
    only; the plan warns itself via WindowExec-without-partition).
    """
    shard = (
        hash_bucket(F.col(id_col), seed, shards, hash_family)
        if shards > 1
        else F.lit(0)
    )
    out = df.select(
        F.col(id_col),
        shard.cast("int").alias("shard"),
        F.col(ntok_col).cast("long").alias("__ntok"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("__ntok").over(w), F.lit(0))
    return (
        out.withColumn("bin", F.floor(cum_before / budget))
        .withColumn("bin_offset", cum_before - F.col("bin") * budget)
        .drop("__ntok")
    )


def global_shuffle(
    df: DataFrame,
    id_col: str,
    seed: int = 0,
    pos_col: str = "shuffle_pos",
    mode: str = "distributed",
    hash_family: str = "portable",
) -> DataFrame:
    """Deterministic pseudo-random total order for training-example
    delivery: ``pos_col`` = 1-based rank in ``(hash(id, seed), id)``
    order.  Same seed → same permutation on any cluster; a new seed is
    a fresh epoch-level shuffle.

    ``mode="distributed"`` (default) is ``ids.assign_surrogate_ids``'
    distributed mode on the hash (the 100 TB path): range-partition on
    the hash, each row's position in its sorted partition plus a
    broadcast prefix offset of the per-partition counts, with no global
    sort task and no job at plan-build time.  Its result reads a cached
    relation the caller releases after its action
    (``util.release_cached``).  ``mode="window"`` is the single-task
    global window kept for plan parity in tests.
    """
    from pedsnetdcc_spark.operators.ids import assign_surrogate_ids

    h = _seeded_hash(F.col(id_col).cast("string"), seed, hash_family)
    tagged = df.withColumn("__shuffle_key", h)
    ranked = assign_surrogate_ids(
        tagged,
        pos_col,
        ["__shuffle_key", id_col],
        base=0,
        mode=mode,
    )
    return ranked.drop("__shuffle_key")


def sample_per_group(
    df: DataFrame,
    id_col: str,
    group_col: str,
    n_per_group: int,
    seed: int = 0,
    hash_family: str = "portable",
) -> DataFrame:
    """Deterministic fixed-size sample: the ``n_per_group`` rows per
    group that rank first in seeded id-hash order — "N examples per
    language/source" eval-set construction.  Unlike rate-based
    sampling, the output size per group is exact (min(n, group size));
    like it, membership is a pure function of (id, seed).

    One window pass partitioned by the group — work shards across
    groups with the shuffle, no global ordering anywhere.
    """
    h = _seeded_hash(F.col(id_col).cast("string"), seed, hash_family)
    w = Window.partitionBy(group_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n_per_group)
        .drop("__rk")
    )


def source_seed_offset_col(name_col: Column) -> Column:
    """In-plan rendering of :func:`source_seed_offset` for a source-name
    COLUMN: first 4 bytes of sha256(name) as a BIGINT — identical to
    the Python constant for any literal name, and reproducible in SQL
    (``('0x' || substr(sha256(name), 1, 8))::BIGINT``)."""
    return F.conv(F.substring(F.sha2(name_col, 256), 1, 8), 16, 10).cast("long")


def temperature_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    seed: int = 0,
    buckets: int = 1_000_000,
) -> DataFrame:
    """Temperature-based mixture reweighting: sample each source at a
    rate proportional to ``n_s^alpha`` (renormalized), the standard
    remedy for head-heavy corpus mixes (multilingual temperature
    sampling; alpha→1 keeps natural proportions, alpha→0 equalizes
    sources).  Source ``s`` keeps ``min(1, budget_frac·N·q_s/n_s)`` of
    its rows where ``q_s = n_s^alpha / Σ_t n_t^alpha`` — the expected
    total is ≤ ``budget_frac·N`` with over-demanded small sources
    capped at 100%.

    Fully in-plan and deterministic: per-source counts are a grouped
    aggregate (map-side combine; the counting pass prunes to one
    column at scan time), rates broadcast back, and membership is the
    same seeded-hash-bucket predicate as :func:`sample_fraction`
    under a per-source seed derived from sha256 of the source NAME
    (stable under source-set changes).  The keep threshold is an
    INTEGER bucket cut (``floor(rate·buckets)``) so the decision is
    engine-exact; with the default ``alpha=0.5`` the weight is
    ``sqrt`` (IEEE correctly-rounded, bit-identical across engines) —
    other alphas go through ``pow``, whose last-ulp rounding is
    platform-defined, fine for production but not for cross-engine
    hash parity.

    Two scans of the corpus (count + filter); at 100 TB the count scan
    reads one column and the filter is scan-fused behind a broadcast
    join on the handful-of-rows rate table.
    """
    from pyspark.sql import Window

    nd = F.col("__n").cast("double")
    w = (
        df.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn(
            "__w", F.sqrt(nd) if alpha == 0.5 else F.pow(nd, F.lit(alpha))
        )
    )
    # normalization over the PER-SOURCE table — an unpartitioned window
    # is fine here: the frame holds one row per source (a handful), not
    # per document, and it sidesteps the self-join lineage ambiguity a
    # crossJoin with this table's own aggregate would create
    everything = Window.partitionBy()
    rates = w.withColumn(
        "__rate",
        F.least(
            F.lit(1.0),
            F.lit(budget_frac)
            * F.sum("__n").over(everything).cast("double")
            * (F.col("__w") / F.sum("__w").over(everything))
            / nd,
        ),
    )
    cuts = rates.select(
        source_col,
        F.floor(F.col("__rate") * buckets).cast("long").alias("__cut"),
    )
    src_seed = F.lit(seed) + source_seed_offset_col(F.col(source_col))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    src_seed.cast("string"),
                    F.lit(":"),
                    F.col(id_col).cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.join(F.broadcast(cuts), source_col)
        .where(F.pmod(h, F.lit(buckets)) < F.col("__cut"))
        .drop("__cut")
    )
