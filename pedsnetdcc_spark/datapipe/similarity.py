"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk`` — exact brute-force: broadcast the (small) query set
  against all candidates; dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, no UDF).  The per-query top-k uses a
  window over similarity with deterministic tie-breaking.  This is the
  baseline/verifier.
- ``lsh_bucketed_topk`` — the scale path: deterministic random-
  hyperplane LSH (sign sketch built from seeded xxhash64 projections of
  the dimension index — no RNG state) buckets candidates; each query
  probes only its bucket (plus optional Hamming-1 neighbor buckets),
  turning the n×m cross product into bucket-local joins.  Recall is
  tunable via bits/probes; verified against ``cosine_topk`` in tests.

At 100 TB-scale embedding tables the brute-force path still distributes
(the cross join is per-partition with the queries broadcast), but the
LSH path bounds per-query work; ``ivf_topk`` replaces the hash buckets
with k-means centroids (same join shape), and the PERSISTENT form —
``build_ivf_index`` / ``open_ivf_index`` / ``stream_ivf_index_append``
/ ``compact_ivf_index`` — lays the corpus out partitioned by cell so a
query batch's scan is partition-pruned to its probed cells (measured
FLAT across 2k→2M vectors, SCALE.md round 10).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _read_codebook_rows(path: str, sort_cols: list[str]) -> list[dict]:
    """Driver-side read of a tiny codebook parquet directory (k×dim
    doubles), sorted by ``sort_cols`` — pyarrow, NO Spark job.  The
    codebooks are kilobytes and land on the driver anyway (``collect``);
    routing them through a distributed scan cost 1-2 scheduled jobs per
    read, and the streaming append pays that read EVERY micro-batch
    (round-13 profile: ~10 such jobs per ann_index_roundtrip
    lifecycle).  Byte-identical values: same parquet files, same
    decode, same sort.  Scheme-dispatched (round-14): a local path
    reads directly, any ``pyarrow.fs`` URI (s3/gcs/hdfs) through its
    filesystem — same coverage as the ``spark.read.parquet`` this
    replaced."""
    import pyarrow.parquet as _pq

    from pedsnetdcc_spark.util import pyarrow_fs_and_path

    filesystem, p = pyarrow_fs_and_path(path)
    tbl = _pq.read_table(p, filesystem=filesystem)
    df = tbl.to_pandas().sort_values(sort_cols, kind="mergesort")
    return df.to_dict("records")


def _write_codebook_parquet(
    rows: list[tuple], schema_ddl: str, path: str
) -> None:
    """Driver-side single-file parquet write of a tiny codebook —
    pyarrow, NO Spark job — into a directory Spark reads exactly like
    the previous ``createDataFrame(...).repartition(1).write`` layout
    (one data file inside ``path``; Spark's reader needs no _SUCCESS
    marker).  ``schema_ddl`` fields of the form ``name type`` with
    types int / array<double> only (all the codebooks need).
    Scheme-dispatched like :func:`_read_codebook_rows` (round-14): the
    replace + write run through the path's ``pyarrow.fs`` filesystem,
    so codebooks land on object storage the same way the Spark write
    this replaced did."""
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pedsnetdcc_spark.util import pyarrow_fs_and_path

    fields = []
    for part in schema_ddl.split(","):
        name, typ = part.strip().split(None, 1)
        if typ == "int":
            fields.append(_pa.field(name, _pa.int32()))
        elif typ == "array<double>":
            fields.append(_pa.field(name, _pa.list_(_pa.float64())))
        else:  # pragma: no cover - guarded by the two call sites
            raise ValueError(f"unsupported codebook field type {typ!r}")
    schema = _pa.schema(fields)
    cols = list(zip(*rows)) if rows else [[] for _ in fields]
    tbl = _pa.table(
        {f.name: list(c) for f, c in zip(schema, cols)}, schema=schema
    )
    filesystem, p = pyarrow_fs_and_path(path)
    try:
        filesystem.delete_dir(p)
    except FileNotFoundError:
        pass
    filesystem.create_dir(p, recursive=True)
    with filesystem.open_output_stream(f"{p}/part-00000.parquet") as out:
        _pq.write_table(tbl, out, compression="zstd")


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


_COSINE_BATCH_UDF = None


def _cosine_batch(a: Column, b: Column) -> Column:
    """Vectorized cosine for the APPROXIMATE paths only: numpy summation
    order differs from the sequential fold, so oracle-checked operators
    keep :func:`cosine_similarity` (bit-identical to DuckDB).  The UDF
    is built lazily — decorating at import time needs a live session."""
    global _COSINE_BATCH_UDF
    if _COSINE_BATCH_UDF is None:

        @F.pandas_udf("double")
        def cosine_batch(x: pd.Series, y: pd.Series) -> pd.Series:
            A = np.stack(x.values)
            B = np.stack(y.values)
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            return pd.Series(num / den)

        _COSINE_BATCH_UDF = cosine_batch
    return _COSINE_BATCH_UDF(a, b)


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors per query: ``(query_id, rank,
    neighbor_id, cosine)``; ties broken by neighbor id ascending.

    Cast to double before the fold so accumulation is in float64 on
    every engine.
    """
    from pedsnetdcc_spark.util import ensure_parallelism

    # norms are hoisted to the per-ROW side of the join: computing them
    # inside the n×m pair stream costs 2nm folds; here it is n+m, and
    # the cosine expression dot/(nq*nc) is arithmetically IDENTICAL
    # (same fold shapes, same operation order) so oracle hashes hold
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    c = ensure_parallelism(
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        )
    ).withColumn("__cn", _norm(F.col("__cv")))
    pairs = c.crossJoin(F.broadcast(q))
    if not include_self:
        pairs = pairs.where(F.col("neighbor_id") != F.col("query_id"))
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))).alias(
            "cosine"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def knn_label_vote(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    neighbors: DataFrame | None = None,
) -> DataFrame:
    """kNN majority-vote label prediction per query vector —
    ``(query_id, predicted_label, votes)`` — the embedding-space
    quality eval a training-data pipeline runs against a labeled
    hold-out (weak labeling / embedding drift checks).  Neighbors come
    from the exact :func:`cosine_topk` baseline by default; pass
    ``neighbors=`` (any DataFrame with ``query_id``/``neighbor_id``
    columns — :func:`lsh_bucketed_topk` / :func:`ivf_topk` output) for
    the approximate path at corpus scale, the composition the
    agreement test in test_datapipe pins within an accuracy floor of
    the exact vote.  Fully deterministic: neighbor ties break by id
    ascending inside every top-k, vote ties by (count desc, label
    asc).

    Shuffle shape: the default top-k table is k·|queries| rows — tiny
    next to the candidate corpus — so the label attach broadcasts IT
    and the slim (id, label) projection of the candidates streams
    map-side; the vote aggregation then shuffles only k·|queries| rows
    keyed by query.  Nothing corpus-sized is exchanged after the scan.
    A caller-supplied ``neighbors=`` table is NOT force-broadcast —
    the approximate path exists precisely for query sets too big for
    the exact vote, where k·|queries| can exceed the broadcast limit;
    AQE converts the join to a broadcast at runtime when the real size
    allows."""
    labels = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__nl")
    )
    if neighbors is not None:
        joined = labels.join(neighbors, "neighbor_id")
    else:
        nn = cosine_topk(candidates, queries, id_col, vec_col, k=k)
        joined = labels.join(F.broadcast(nn), "neighbor_id")
    votes = (
        joined.groupBy("query_id", "__nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("__nl").asc()
    )
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select(
            "query_id", F.col("__nl").alias("predicted_label"), "votes"
        )
    )


def _plane_signs(seed: int, bit: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane, derived from a cryptographic hash of
    (seed, bit, j) at plan-build time — no RNG state, reproducible
    across runs, engines, and partitionings."""
    import hashlib

    return [
        1.0
        if hashlib.blake2b(f"{seed}:{bit}:{j}".encode(), digest_size=8).digest()[0] & 1
        else -1.0
        for j in range(dim)
    ]


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: ``(id_a, id_b,
    cosine)`` with id_a < id_b and cosine ≥ threshold.

    Brute-force verifier (all pairs, one broadcast self-join).  The
    scale path is :func:`lsh_bucketed_topk`-style bucketing first —
    run this only on LSH candidate pairs at corpus scale.
    """
    # norms hoisted out of the O(n²) pair stream (see cosine_topk) —
    # n + n folds instead of 2·n²/2, bit-identical cosine values
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).cast("array<double>").alias("__a")
    ).withColumn("__na", _norm(F.col("__a")))
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).cast("array<double>").alias("__b")
    ).withColumn("__nb", _norm(F.col("__b")))
    from pedsnetdcc_spark.util import ensure_parallelism

    pairs = ensure_parallelism(a).crossJoin(F.broadcast(b)).where(
        F.col("id_a") < F.col("id_b")
    )
    sims = pairs.select(
        "id_a",
        "id_b",
        (_dot(F.col("__a"), F.col("__b")) / (F.col("__na") * F.col("__nb"))).alias(
            "cosine"
        ),
    )
    return sims.where(F.col("cosine") >= threshold)


def _hash_sample_rows(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    sample_size: int,
    seed: int,
    n: int | None = None,
) -> list:
    """The ``sample_size`` rows with the smallest ``xxhash64(id, seed)``
    — partition-independent (same sample whatever the layout) and
    deterministic, the shared sample for every codebook trainer.

    ``orderBy(__h).limit(n)`` compiles to TakeOrderedAndProject: no
    full sort and no shuffle at any table size — but each task returns
    its LOCAL top-n to the driver, so driver results are
    ``tasks × sample_size`` rows (measured: the 20M-vector probe
    decade at sample_size=156k × 40 tasks blew the 1 GiB
    ``spark.driver.maxResultSize``).  The scan is therefore
    pre-filtered to ``__h ≤ T`` with T the 8·sample_size/n hash
    quantile (one count to learn n): only ~8·sample_size rows survive
    FLEET-WIDE, so the take returns ≤ that many to the driver.  The
    filter provably cannot change the sample — a row it excludes has a
    hash above T, and if T were below the global sample_size-th
    smallest hash then FEWER than sample_size rows would pass, which
    is detected (len < sample_size) and falls back to the exact
    unfiltered take (also the n ≤ 8·sample_size path).  The returned
    rows are bit-identical to the unfiltered form in every case, so
    trained codebooks — and everything downstream of them — are
    unchanged.

    ``n=``: a caller that already knows (or will reuse) the table's
    row count passes it in — the package's standard stats seam — so a
    build that trains BOTH a cell codebook and PQ sub-codebooks on the
    same table pays ONE count action, not one per trainer."""
    base = df.select(
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
    )
    if n is None:
        n = df.count()
    if n > 8 * sample_size:
        frac = 8.0 * sample_size / n
        threshold = int(-(2 ** 63) + frac * 2 ** 64)
        rows = (
            base.where(F.col("__h") <= F.lit(threshold))
            .orderBy("__h")
            .limit(sample_size)
            .collect()
        )
        if len(rows) >= sample_size:
            return rows
        # astronomically unlikely (Chernoff at 8x margin), but the
        # exact take is always available as ground truth
    return base.orderBy("__h").limit(sample_size).collect()


def train_kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 0,
    n: int | None = None,
) -> np.ndarray:
    """Deterministic sampled spherical k-means: Lloyd iterations on a
    bounded driver sample (:func:`_hash_sample_rows` — smallest-xxhash
    sample, driver results bounded at any table size), cosine objective
    (unit-normalized points and centroids, assignment by max dot
    product).  Init is seeded k-means++ on the sample.  Returns a
    unit-normalized ``(k, dim)`` array.  ``n=`` skips the sampler's
    count action when the caller already paid it (stats seam).
    """
    rows = _hash_sample_rows(df, id_col, vec_col, sample_size, seed, n=n)
    if not rows:
        raise ValueError("cannot train k-means centroids on an empty table")
    X = np.stack([r["__v"] for r in rows]).astype(np.float64)
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    return _lloyd_numpy(X / n, k, iters, seed)


def _lloyd_numpy(Xn: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations on unit-normalized rows
    (cosine objective, assignment by max dot).  Incremental-max
    k-means++ so init is O(k·sample·dim), not O(k²·sample·dim).
    Returns a unit-normalized ``(k, dim)`` array."""
    k = min(k, len(Xn))
    rng = np.random.RandomState(seed)
    idx = [int(rng.randint(len(Xn)))]
    best = Xn @ Xn[idx[0]]  # running max-similarity to any chosen seed
    for _ in range(1, k):
        d = np.clip(1.0 - best, 0.0, None)
        total = d.sum()
        if total <= 0:
            probs = np.full(len(Xn), 1.0 / len(Xn))
        else:
            probs = d / total
        j = int(rng.choice(len(Xn), p=probs))
        idx.append(j)
        np.maximum(best, Xn @ Xn[j], out=best)
    C = Xn[idx].copy()
    for _ in range(iters):
        assign = (Xn @ C.T).argmax(axis=1)
        for j in range(k):
            members = Xn[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        cn = np.linalg.norm(C, axis=1, keepdims=True)
        cn[cn == 0] = 1.0
        C = C / cn
    return C


#: codebook size at which the hierarchical-assign paths switch from the
#: driver trainer to :func:`train_kmeans_centroids_hier`.  Below it the
#: driver Lloyd is cheap and every existing codebook (registry queries,
#: units, the x100/x1000 probe decades — all k ≤ 3906) stays
#: bit-identical; above it the driver path is the measured wall (k and
#: the 4·k sample grow together, so the assignment matmul materializes
#: a sample×k float64 matrix: 48 GB/iteration at the 20M-vector decade).
_HIER_TRAIN_MIN_K = 4096


def train_kmeans_centroids_hier(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4096,
    sample_size: int | None = None,
    iters: int = 10,
    seed: int = 0,
    n: int | None = None,
) -> np.ndarray:
    """Distributed two-level codebook trainer — the big-``k`` path
    :func:`train_kmeans_centroids` cannot take.  The driver trainer's
    Lloyd step is O(sample·k·dim) time and O(sample·k) MEMORY per
    iteration (the assignment matmul materializes the full similarity
    matrix): with the hierarchical-IVF sizing rule (sample = 4·k,
    k = n/512) that is O(n²) on ONE machine — measured at the
    20M-vector probe decade as a 156 250 × 39 063 float64 matrix
    (48 GB) rebuilt ten times, 2 712 s end-to-end.

    Two-level shape instead: a ``k1 = ceil(sqrt(k))`` coarse codebook
    is trained on the driver from a bounded 64·k1-row subsample (both
    factors are sqrt-scale, so the driver matmul is ~64·k rows — KB to
    MB); the full sample is then cut AS A DATAFRAME (hash-threshold
    rule, never collected), every sample row is routed to its coarse
    group by an Arrow-batched argmax, and each group's ``k_g`` fine
    centroids (largest-remainder proportional allocation summing to
    ``k``) are trained by an independent per-group Lloyd inside one
    ``applyInPandas`` pass — groups run in parallel across executors
    and each group's matrices are (sample/k1) × (k/k1), ~1/k of the
    flat trainer's.  Only the finished (k, dim) codebook is collected;
    it must fit the driver, which is inherent — downstream assignment
    closure-ships it to executors anyway.

    Determinism: the sample is the partition-layout-independent
    ``xxhash64(id, seed) ≤ T`` rule with ``T`` the ``sample_size/n``
    hash quantile (size is Binomial(n, s/n) — concentrated at
    ``sample_size`` ± sqrt; unlike :func:`_hash_sample_rows` no exact
    top-n cut is applied, because that would funnel the sample through
    one task's sort and the trainer only needs the sample SIZE, not an
    exact count); group rows are sorted by (hash, id) before Lloyd;
    per-group seeds derive from (seed, group); output is ordered by
    (group, local index).  The result is a valid codebook but NOT
    bit-identical to the driver trainer's (different optimization
    path) — which is why callers gate on ``k ≥ _HIER_TRAIN_MIN_K``.
    """
    import math

    k = int(k)
    if sample_size is None:
        sample_size = 4 * k
    if n is None:
        # aggregate-only; both in-package callers pass ``n=`` from the
        # auto-sizing count they already paid.  Counted BEFORE the
        # coarse trainer so its sampler shares the same count (stats
        # seam) instead of re-counting the table.
        n = df.count()
    k1 = max(2, math.ceil(math.sqrt(k)))
    coarse_sample = min(sample_size, max(4096, 64 * k1))
    C1 = train_kmeans_centroids(
        df, id_col, vec_col, k=k1, sample_size=coarse_sample,
        iters=iters, seed=seed, n=n,
    )
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.xxhash64(F.col(id_col), F.lit(seed)).alias("__h"),
    )
    if n > sample_size:
        frac = float(sample_size) / n
        threshold = int(-(2 ** 63) + frac * 2 ** 64)
        S = base.where(F.col("__h") <= F.lit(threshold))
    else:
        S = base
    assign_coarse, _ = _cell_assign_udfs(C1, nprobe=1)
    Sg = S.withColumn("__g", assign_coarse(F.col("__v")))
    counts = {
        int(r["__g"]): int(r["cnt"])
        for r in Sg.groupBy("__g").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    total = sum(counts.values())
    if total == 0:
        # pathological (n > 0 but the threshold caught nothing — only
        # reachable for tiny n just above sample_size with an extreme
        # hash draw): the driver trainer is affordable there
        return train_kmeans_centroids(
            df, id_col, vec_col, k=k, sample_size=sample_size,
            iters=iters, seed=seed, n=n,
        )
    k_eff = min(k, total)
    # largest-remainder allocation of k_eff fine centroids across the
    # coarse groups, proportional to sampled population and capped by
    # it (a group cannot yield more centroids than it has rows)
    quota = {g: k_eff * c / total for g, c in counts.items()}
    alloc = {g: min(counts[g], int(quota[g])) for g in counts}
    rem = k_eff - sum(alloc.values())
    order = sorted(counts, key=lambda g: (-(quota[g] - int(quota[g])), g))
    while rem > 0:
        progressed = False
        for g in order:
            if rem <= 0:
                break
            if alloc[g] < counts[g]:
                alloc[g] += 1
                rem -= 1
                progressed = True
        if not progressed:  # pragma: no cover - sum(counts) >= k_eff
            break
    alloc = {g: a for g, a in alloc.items() if a > 0}

    def _train_group(pdf: pd.DataFrame) -> pd.DataFrame:
        g = int(pdf["__g"].iloc[0])
        kg = alloc.get(g, 0)
        if kg == 0 or not len(pdf):
            return pd.DataFrame({
                "__g": pd.Series(dtype="int32"),
                "__idx": pd.Series(dtype="int32"),
                "__c": pd.Series(dtype=object),
            })
        pdf = pdf.sort_values(["__h", "__id"])
        X = np.stack(pdf["__v"].values).astype(np.float64)
        nrm = np.linalg.norm(X, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        Cg = _lloyd_numpy(X / nrm, kg, iters, seed + 1000003 * (g + 1))
        return pd.DataFrame({
            "__g": np.full(len(Cg), g, dtype=np.int32),
            "__idx": np.arange(len(Cg), dtype=np.int32),
            "__c": list(Cg),
        })

    rows = (
        Sg.groupBy("__g")
        .applyInPandas(_train_group, schema="__g int, __idx int, __c array<double>")
        .collect()  # k_eff rows of dim doubles — the codebook itself
    )
    rows.sort(key=lambda r: (r["__g"], r["__idx"]))
    return np.stack([np.asarray(r["__c"], dtype=np.float64) for r in rows])


def _hier_assign_udf(C: np.ndarray, k1: int, iters: int, seed: int):
    """Two-stage argmax assignment against a closure-captured codebook:
    the ``total`` fine centroids are themselves clustered into ``k1``
    coarse groups (driver Lloyd on total×dim — tiny), and each batch
    assigns by one ``(batch, dim) @ (dim, k1)`` coarse matmul followed
    by a per-group fine matmul over only the rows routed there —
    ``O(k1 + total/k1)`` dots per vector instead of ``O(total)``.
    Returns ``(assign_udf, coarse_of_fine)``.  A vector whose globally
    nearest fine centroid sits in a different coarse group lands in its
    coarse-local best — the standard IVF-hierarchical approximation
    (same shape as semantic_cells' two-level grid), acceptable because
    the probe stage re-ranks with exact cosine anyway."""
    C1 = _lloyd_numpy(C.copy(), k1, iters, seed + 1)
    group_of_fine = (C @ C1.T).argmax(axis=1).astype(np.int64)
    members = [np.where(group_of_fine == g)[0] for g in range(len(C1))]

    @F.pandas_udf("int")
    def assign_cell(v: pd.Series) -> pd.Series:
        X = np.stack(v.values).astype(np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0] = 1.0
        Xn = X / n
        coarse = (Xn @ C1.T).argmax(axis=1)
        out = np.zeros(len(Xn), dtype=np.int32)
        for g in range(len(C1)):
            rows = np.where(coarse == g)[0]
            if not len(rows):
                continue
            m = members[g]
            if not len(m):
                # empty coarse group (possible when Lloyd collapses a
                # cluster): fall back to the flat argmax for these rows
                out[rows] = (Xn[rows] @ C.T).argmax(axis=1).astype(np.int32)
                continue
            local = (Xn[rows] @ C[m].T).argmax(axis=1)
            out[rows] = m[local].astype(np.int32)
        return pd.Series(out)

    return assign_cell, group_of_fine


def _cell_assign_udfs(C: np.ndarray, nprobe: int):
    """Arrow-batched assignment against a CLOSURE-CAPTURED centroid
    matrix: one ``(batch, dim) @ (dim, k)`` matmul per Arrow batch —
    the centroids ride to executors inside the serialized UDF (they are
    k×dim floats, trivially broadcastable), so assignment is a
    shuffle-free scan instead of a crossJoin + window pass.
    Ties break toward the lowest centroid index (argmax-first /
    stable argsort), deterministically."""
    from pyspark.sql.types import ArrayType, IntegerType

    @F.pandas_udf("int")
    def assign_cell(v: pd.Series) -> pd.Series:
        X = np.stack(v.values).astype(np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0] = 1.0
        sims = (X / n) @ C.T
        return pd.Series(sims.argmax(axis=1).astype(np.int32))

    @F.pandas_udf(ArrayType(IntegerType()))
    def probe_cells(v: pd.Series) -> pd.Series:
        X = np.stack(v.values).astype(np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0] = 1.0
        sims = (X / n) @ C.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    return assign_cell, probe_cells


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: "int | str" = "auto",
    tables: int = 8,
    dim: int = 64,
    max_bucket: int | None = 1024,
    target_bucket: int = 64,
    n: int | None = None,
) -> DataFrame:
    """The SCALE path for embedding near-dup: multi-table hyperplane
    LSH buckets generate candidate pairs (two vectors are candidates iff
    they share any table's bucket), then the exact cosine verifies —
    per-vector work is bounded by bucket sizes, not the corpus, versus
    the n² all-pairs verifier :func:`embedding_near_dup_pairs`.

    Recall ≈ 1 − (1 − p^bits)^tables with p = 1 − θ/π per bit; tune
    ``tables`` up / ``bits`` down for higher recall.  **``bits``
    must track the corpus** — a table has 2^bits buckets and the pair
    join costs Σ bucket², so a FIXED bits is quadratic (n²/2^bits) and,
    worse, once average buckets cross ``max_bucket`` the skew guard
    drops them and recall silently collapses.  The default
    ``bits="auto"`` therefore sizes ``2^bits ≈ n / target_bucket``
    (one count action), keeping bucket populations ≈ ``target_bucket``
    at any corpus size: candidates ≈ n·target_bucket·tables — linear —
    and the cap never binds on benign data.  Raise ``tables`` to buy
    recall back at large n (the per-pair bucket-collision probability
    p^bits falls as auto-bits grows — that is the inherent LSH trade,
    the same one SemDeDup-style cells make).  ``max_bucket`` stays as
    the adversarial-skew guard: a degenerate bucket (e.g. a mass of
    zero/duplicate vectors) never costs more than cap² pairs, and its
    members still pair through their other ``tables−1`` sketches
    (counted BEFORE any bucket is materialized, same count-first shape
    as the n-gram DF cap).  Deterministic (seeded hyperplanes), so
    recall on a fixed corpus is reproducible — pinned against the
    exact operator in tests.

    Shuffle budget (VERIFY-BEFORE-DISTINCT — the PassJoin lesson): the
    only payload shuffle is the banding exchange, n·tables rows each
    carrying one dim-wide vector — **at SOURCE precision** (round 13):
    embeddings arrive as ``array<float>``, and float32 widens to
    float64 exactly, so casting to double at VERIFY time (inside the
    post-join fold) is bit-identical to casting before the exchange
    while halving the banding payload.  Measured consequence at the
    20M-vector probe decade: the double-payload exchange is ~2 ×
    20M × 8 × 512 B ≈ 160 GB of shuffle (both join sides), which
    exhausted this box's ~66 GB scratch; the float32 payload fits.
    The sketch UDF still receives the double cast (float32 matmul
    could flip near-zero projection signs and change bucketing).
    The bucket join then produces
    candidate pairs with BOTH vectors already co-located, the exact
    cosine verifies IN-STAGE (sequential JVM fold — bit-identical to
    the brute-force verifier and to DuckDB's list_dot_product), and
    only the survivors (true near-dups, tiny) reach the cross-table
    dropDuplicates.  A pair co-bucketing in k tables is verified k
    times — folds are cheap; the alternative (dedup bare id pairs
    FIRST, then re-attach vectors by two id joins) shuffles every
    candidate id pair through sort-merge joins carrying dim-wide
    payloads — measured at the 100× probe point (200k vectors, ~200M
    candidates at target_bucket=256) it spilled >75 GB and filled the
    disk, vs ~1 GB of banding shuffle here.
    """
    if bits == "auto":
        import math

        if n is None:
            # aggregate-only action; pass ``n=`` from a composing
            # pipeline that already counted this relation
            n = df.count()
        bits = max(2, min(24, math.ceil(math.log2(max(n / target_bucket, 2.0)))))
    v = df.select(
        F.col(id_col).alias("__id"),
        # source precision (array<float> halves the banding payload);
        # every arithmetic consumer below casts to double first
        F.col(vec_col).alias("__v"),
    ).withColumn("__nv", _norm(F.col("__v").cast("array<double>")))
    sk = hyperplane_sketches_batch(bits, tables, dim)
    banded = v.withColumn(
        "__sks", sk(F.col("__v").cast("array<double>"))
    ).select(
        "__id", "__v", "__nv", F.posexplode("__sks").alias("tbl", "bucket")
    )
    if max_bucket is not None:
        sizes = banded.groupBy("tbl", "bucket").agg(F.count(F.lit(1)).alias("__n"))
        banded = banded.join(
            sizes.where(F.col("__n") <= max_bucket).select("tbl", "bucket"),
            ["tbl", "bucket"],
        )
    a = banded.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__nv").alias("__na"),
        "tbl",
        "bucket",
    )
    b = banded.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__nv").alias("__nb"),
        "tbl",
        "bucket",
    )
    sims = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                _dot(
                    F.col("__va").cast("array<double>"),
                    F.col("__vb").cast("array<double>"),
                )
                / (F.col("__na") * F.col("__nb"))
            ).alias("cosine"),
        )
    )
    # survivors only — the cosine is deterministic (same fold either
    # side), so the kept row of a cross-table duplicate is
    # value-identical whichever table won
    return sims.where(F.col("cosine") >= threshold).dropDuplicates(["id_a", "id_b"])


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: "int | str" = "auto",
    nprobe: int = 4,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 0,
    centroids: np.ndarray | None = None,
    target_cell: int = 512,
    n: int | None = None,
    assign: str = "flat",
) -> DataFrame:
    """IVF approximate top-k: sampled-k-means centroids
    (:func:`train_kmeans_centroids`), each candidate assigned to its
    single nearest cell, each query probing its ``nprobe`` nearest
    cells; exact cosine within the probed cells.

    ``n_centroids`` must track the corpus (cells hold ≈ n/n_centroids
    candidates, so a FIXED value makes per-query work linear in n);
    the default ``"auto"`` sizes ``max(16, min(1024, ceil(n /
    target_cell)))`` from one count action — the 1024 cap bounds the
    flat assignment scan (O(n·k) dots) and the driver Lloyd cost
    against the 4096-row sample.

    ``assign="hierarchical"`` is the big-corpus path that LIFTS the
    cap (measured: the capped grid's cells grow 4× at 2M vectors,
    sim_deep e=0.58): auto sizing becomes ``max(16, ceil(n /
    target_cell))`` uncapped with ``sample_size`` raised to ≥
    4·n_centroids, and candidate assignment routes through
    :func:`_hier_assign_udf` — the fine codebook is clustered into
    ``≈sqrt(total)`` coarse groups and each vector pays ``O(sqrt(
    total))`` dots instead of ``O(total)`` (the IMI/hierarchical-IVF
    shape; queries still score the full fine codebook — bounded query
    sets make that the cheap side).  Past ~10M vectors train the
    codebook off the driver and pass ``centroids=`` instead (Lloyd on
    the 4·total sample is the driver bound).

    Scale shape: training is one TakeOrdered sample + driver Lloyd
    (centroids are k×dim — tiny); assignment is a shuffle-free scan
    (centroids closure-broadcast into an Arrow-batched argmax UDF);
    the probe join is cell-local, bounding per-query comparisons to
    ~``nprobe/n_centroids`` of the corpus.  A candidate lives in
    exactly one cell, so no candidate-pair dedup pass is needed.
    Pass ``centroids`` to reuse a trained codebook across calls.
    """
    import math

    if assign not in ("flat", "hierarchical"):
        raise ValueError(f"unknown assign mode {assign!r}")
    if centroids is None:
        if n_centroids == "auto":
            if n is None:
                # aggregate-only; pass ``n=`` from a composing pipeline
                n = candidates.count()
            n_centroids = max(16, math.ceil(n / target_cell))
            if assign == "flat":
                n_centroids = min(1024, n_centroids)
        if assign == "hierarchical":
            sample_size = max(sample_size, 4 * int(n_centroids))
        if assign == "hierarchical" and int(n_centroids) >= _HIER_TRAIN_MIN_K:
            # past the gate the driver trainer's sample×k Lloyd matmul
            # is the wall (48 GB/iter at the 20M decade) — train the
            # codebook distributed instead
            centroids = train_kmeans_centroids_hier(
                candidates, id_col, vec_col, k=int(n_centroids),
                sample_size=sample_size, iters=iters, seed=seed, n=n,
            )
        else:
            centroids = train_kmeans_centroids(
                candidates, id_col, vec_col, k=n_centroids,
                sample_size=sample_size, iters=iters, seed=seed, n=n,
            )
    C = np.asarray(centroids, dtype=np.float64)
    _flat_assign, probe_cells = _cell_assign_udfs(C, nprobe)
    if assign == "hierarchical" and len(C) >= 64:
        assign_cell, _ = _hier_assign_udf(
            C, k1=math.ceil(math.sqrt(len(C))), iters=iters, seed=seed
        )
    else:
        assign_cell = _flat_assign
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("centroid_id", assign_cell(F.col("__cv")))
    qa = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
        .withColumn("__cells", probe_cells(F.col("__qv")))
        .select("query_id", "__qv", F.explode("__cells").alias("centroid_id"))
    )
    pairs = c.join(F.broadcast(qa), "centroid_id").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    sims = pairs.select(
        "query_id", "neighbor_id",
        _cosine_batch(F.col("__qv"), F.col("__cv")).alias("cosine"),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: "int | str" = "auto",
    target_cell: int = 512,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 0,
    assign: str = "hierarchical",
    n: int | None = None,
    pq_m: int | None = None,
    pq_codebook_size: int = 64,
    force: bool = False,
) -> dict:
    """PERSISTENT IVF index: train the codebook once, assign every
    vector to its cell, and lay the corpus out on disk PARTITIONED BY
    CELL — the build-offline / query-online pattern :func:`ivf_topk`
    (which re-derives everything per call) cannot amortize.

    Layout under ``path``::

        centroids.parquet            (centroid_id, centroid)  — k rows
        cells/centroid_id=N/*.parquet  (id, vector)           — the corpus
        meta.json                    (dim, n, params)

    The partition layout is the index: a query batch probing ``nprobe``
    cells reads ONLY those directories (Spark partition pruning — the
    scan never lists, opens, or decodes the other cells' files), so
    per-batch IO is ``≈ nprobe/n_centroids`` of the corpus instead of a
    full scan.  At 100 TB that is the difference between an ANN query
    service and a nightly job.  Build cost is one assignment scan + one
    shuffle-free partitioned write; the codebook (k×dim) rides in
    ``centroids.parquet`` and is the only thing the query side ever
    collects.

    ``assign``/sizing semantics match :func:`ivf_topk` (hierarchical
    assignment lifts the 1024-cell cap; ``n=`` skips the count).
    Returns the meta dict (also persisted as ``meta.json``).

    Building REPLACES the index wholesale (matching
    ``dedup.build_span_index``, round 12): any existing cells,
    streaming epoch deltas, compaction debris, codebooks, and meta at
    ``path`` are removed first — otherwise a rebuild would leave stale
    ``cells_delta`` epochs (assigned under the OLD codebook) for the
    next open to union with the new base, quietly corrupting counts
    and recall.  A ``path`` that exists, is non-empty, and does not
    look like an IVF index is REFUSED unless ``force=True``, so
    transposed arguments cannot silently delete a data directory.

    SINGLE-WRITER: holds the index's ``.writer.lock``
    (:func:`pedsnetdcc_spark.util.index_writer_lock`) for the whole
    replace, so a concurrent build/append/compact fails immediately
    with :class:`~pedsnetdcc_spark.util.IndexWriterLocked` instead of
    racing the replace window."""
    import json as _json
    import math
    import os as _os

    from pedsnetdcc_spark.util import clear_index_children, index_writer_lock

    if assign not in ("flat", "hierarchical"):
        raise ValueError(f"unknown assign mode {assign!r}")
    if _os.path.isdir(path) and _os.listdir(path):
        looks_like_index = any(
            _os.path.exists(_os.path.join(path, p))
            for p in ("meta.json", "cells", ".cells.compact.tmp",
                      ".writer.lock")
        )
        if not looks_like_index and not force:
            raise ValueError(
                f"refusing to replace {path!r}: it exists, is non-empty, "
                "and does not look like an IVF index (no meta.json). "
                "Pass force=True (CLI: --force) to overwrite it anyway."
            )
    with index_writer_lock(path, "build"):
        clear_index_children(path)
        # one count action for the whole build (stats seam): auto
        # sizing, the cell trainer's sampler, and the PQ trainer's
        # sampler all reuse it — before the seam an IVF-PQ build
        # counted the same table up to three times
        if n is None:
            n = df.count()
        if n_centroids == "auto":
            n_centroids = max(16, math.ceil(n / target_cell))
            if assign == "flat":
                n_centroids = min(1024, n_centroids)
        if assign == "hierarchical":
            sample_size = max(sample_size, 4 * int(n_centroids))
        if assign == "hierarchical" and int(n_centroids) >= _HIER_TRAIN_MIN_K:
            # see ivf_topk: distributed trainer past the driver-Lloyd gate
            C = train_kmeans_centroids_hier(
                df, id_col, vec_col, k=int(n_centroids),
                sample_size=sample_size, iters=iters, seed=seed, n=n,
            )
        else:
            C = train_kmeans_centroids(
                df, id_col, vec_col, k=int(n_centroids),
                sample_size=sample_size, iters=iters, seed=seed, n=n,
            )
        spark = df.sparkSession
        if assign == "hierarchical" and len(C) >= 64:
            assign_cell, _ = _hier_assign_udf(
                C, k1=math.ceil(math.sqrt(len(C))), iters=iters, seed=seed
            )
        else:
            assign_cell, _ = _cell_assign_udfs(C, nprobe=1)
        from pedsnetdcc_spark.util import repartition_by_key

        assigned = (
            df.select(
                F.col(id_col),
                F.col(vec_col).cast("array<double>").alias(vec_col),
            )
            .withColumn("centroid_id", assign_cell(F.col(vec_col)))
        )
        if pq_m is not None:
            # IVF-PQ: store each vector's PQ codes IN the cells so a query
            # batch's coarse (ADC) stage reads m small ints per row instead
            # of the full vector — column pruning turns the pruned-cell
            # scan into a ~dim/m-times-smaller read; the exact re-rank
            # fetches real vectors only for the shortlist.
            pq_cb = train_pq_codebooks(
                df, id_col, vec_col, m=pq_m, codebook_size=pq_codebook_size,
                sample_size=sample_size, iters=iters, seed=seed + 1, n=n,
            )
            assigned = pq_encode(assigned, pq_cb, id_col, vec_col)
            cb_rows = [
                (j, c, [float(x) for x in pq_cb[j, c]])
                for j in range(pq_cb.shape[0])
                for c in range(pq_cb.shape[1])
            ]
            # the codebook already lives on the driver — write it with
            # pyarrow (no round trip through createDataFrame + a Spark
            # write job; round 13, replacing the repartition(1) form)
            _write_codebook_parquet(
                cb_rows,
                "subspace int, code int, centroid array<double>",
                _os.path.join(path, "pq_codebooks.parquet"),
            )
        # cluster rows by cell BEFORE the partitioned write: without this,
        # every write task emits a file into every cell directory it holds
        # rows for (tasks × cells small files); hashed on centroid_id, each
        # cell's rows land in exactly one task → one file per cell
        repartition_by_key(assigned, "centroid_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(_os.path.join(path, "cells"))
        # driver-side pyarrow write, like the PQ codebook above
        _write_codebook_parquet(
            [(i, [float(x) for x in row]) for i, row in enumerate(C)],
            "centroid_id int, centroid array<double>",
            _os.path.join(path, "centroids.parquet"),
        )
        meta = {
            "id_col": id_col,
            "vec_col": vec_col,
            "dim": int(C.shape[1]),
            "n_centroids": int(len(C)),
            "assign": assign,
            "seed": seed,
            "iters": iters,
            "pq_m": pq_m,
            "pq_codebook_size": pq_codebook_size if pq_m is not None else None,
        }
        # atomic meta commit (tmp + replace), matching build_span_index
        # and the compaction watermark: a crash mid-write must leave
        # no truncated meta.json behind
        tmp_meta = _os.path.join(path, ".meta.json.tmp")
        with open(tmp_meta, "w") as f:
            _json.dump(meta, f, sort_keys=True)
        _os.replace(tmp_meta, _os.path.join(path, "meta.json"))
        return meta


class _ProbeAssignment:
    """:meth:`IvfIndexHandle.probe_assignments` result: unpacks as the
    documented ``(qa, probed)`` pair and additionally carries the
    collected probe rows (``.qrows`` — one row per query, first probed
    cell) so the PQ path's driver-side LUT build needs no second
    collect of the query vectors."""

    __slots__ = ("qa", "probed", "qrows")

    def __init__(self, qa, probed, qrows):
        self.qa = qa
        self.probed = probed
        self.qrows = qrows

    def __iter__(self):
        return iter((self.qa, self.probed))


class IvfIndexHandle:
    """An opened :func:`build_ivf_index` layout, held for repeated
    query batches — the serving pattern.

    Opening lists the cell directories ONCE (measured at 2M vectors /
    3,906 cells: the listing is ~5.5 s of the ~8 s one-shot query —
    the pruned data read itself is sub-second) and caches the codebook;
    every :meth:`query` then plans against the cached FileIndex, so
    partition pruning still applies per batch but the listing cost is
    paid once per process, not per query."""

    def __init__(self, spark, path: str, recover: bool = True):
        import json as _json
        import os as _os

        with open(_os.path.join(path, "meta.json")) as f:
            self.meta = _json.load(f)
        # driver-side pyarrow reads (no Spark jobs) — the codebooks are
        # kilobytes and end up on the driver either way
        crows = _read_codebook_rows(
            _os.path.join(path, "centroids.parquet"), ["centroid_id"]
        )
        self.centroids = np.array(
            [r["centroid"] for r in crows], dtype=np.float64
        )
        self.pq_codebooks = None
        if self.meta.get("pq_m"):
            pq_rows = _read_codebook_rows(
                _os.path.join(path, "pq_codebooks.parquet"),
                ["subspace", "code"],
            )
            m = self.meta["pq_m"]
            k = self.meta["pq_codebook_size"]
            self.pq_codebooks = np.array(
                [r["centroid"] for r in pq_rows], dtype=np.float64
            ).reshape(m, k, -1)
        # ONE listing; the FileIndex (and its partition spec) is cached
        # on this DataFrame and reused by every query plan.  (A
        # compaction that crashed between its renames is rolled forward
        # first — see _recover_ivf_compaction; note this means an OPEN
        # can perform recovery writes — pass recover=False on a
        # read-only mount to raise loudly instead.)
        _recover_ivf_compaction(path, recover=recover)
        self.cells = spark.read.parquet(_os.path.join(path, "cells"))
        delta = _os.path.join(path, "cells_delta")
        if _committed_epochs(delta):
            # streaming appends (stream_ivf_index_append): union the
            # epoch deltas in; the centroid_id filter pushes through
            # the union, so BOTH sides stay partition-pruned.  A delta
            # holding only a crashed batch's orphan temp is skipped:
            # schema inference fails on a directory with no epoch.
            self.cells = self.cells.unionByName(
                spark.read.parquet(delta).drop("epoch")
            )

    def probe_assignments(
        self,
        queries: DataFrame,
        nprobe: int = 4,
        id_col: str | None = None,
        vec_col: str | None = None,
    ) -> tuple[DataFrame, list]:
        """The query→probed-cell assignment ``(qa, probed)`` a
        :meth:`query` call plans against: ``qa`` = one row per (query,
        probed cell) with the cast query vector, ``probed`` = the
        sorted distinct cell ids (ONE bounded collect — the literal
        IN-list Catalyst needs for plan-time partition pruning).

        Exposed so a caller answering the SAME query batch through
        several scoring paths (the roundtrip proof runs both the exact
        and the ADC path) derives the assignment ONCE and passes it to
        each call via ``query(probe=...)`` — the probe UDF pass and its
        bounded collect are per-batch costs, not per-scoring-path costs
        (round-14; guide §5: don't repeat driver actions whose inputs
        are unchanged).  ONE collect serves both driver needs: the
        distinct probed-cell list AND the per-query vectors the PQ
        path's LUT build wants (``.qrows`` on the returned object) —
        previously two separate jobs."""
        id_col = id_col or self.meta["id_col"]
        vec_col = vec_col or self.meta["vec_col"]
        _, probe_cells = _cell_assign_udfs(self.centroids, nprobe)
        qa = (
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("__qv"),
            )
            .withColumn("__cells", probe_cells(F.col("__qv")))
            .select(
                "query_id", "__qv", F.explode("__cells").alias("centroid_id")
            )
        )
        # bounded by contract: <= queries × nprobe rows
        rows = qa.collect()
        probed = sorted({r["centroid_id"] for r in rows})
        qrows = list({r["query_id"]: r for r in rows}.values())
        return _ProbeAssignment(qa, probed, qrows)

    def query(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        id_col: str | None = None,
        vec_col: str | None = None,
        scoring: str = "exact",
        rerank_factor: int = 4,
        probe: "tuple[DataFrame, list] | None" = None,
    ) -> DataFrame:
        """Probe each query's ``nprobe`` nearest cells, scan ONLY those
        cell directories (partition pruning — plan-asserted and proven
        functionally in tests), exact cosine within, per-query top-k.

        Driver state is bounded by construction: the codebook (k×dim)
        and the distinct probed-cell id list (≤ min(n_centroids,
        queries×nprobe) ints — needed as a literal IN-list so Catalyst
        prunes partitions at PLAN time; a join could not prune the
        scan).  Results match :func:`ivf_topk` run with the same
        codebook exactly (equivalence-tested).

        ``probe``: a precomputed :meth:`probe_assignments` result for
        THESE queries at THIS nprobe — share it across scoring paths
        to pay the probe job once per batch."""
        id_col = id_col or self.meta["id_col"]
        vec_col = vec_col or self.meta["vec_col"]
        if probe is None:
            probe = self.probe_assignments(queries, nprobe, id_col, vec_col)
        qa, probed = probe
        if scoring == "pq":
            return self._query_pq(
                queries, qa, probed, k, id_col, vec_col, rerank_factor,
                qrows=getattr(probe, "qrows", None),
            )
        if scoring != "exact":
            raise ValueError(f"scoring must be 'exact' or 'pq', got {scoring!r}")
        cand = self.cells.where(F.col("centroid_id").isin(probed)).select(
            F.col("centroid_id"),
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
        )
        pairs = cand.join(F.broadcast(qa), "centroid_id").where(
            F.col("neighbor_id") != F.col("query_id")
        )
        sims = pairs.select(
            "query_id", "neighbor_id",
            _cosine_batch(F.col("__qv"), F.col("__cv")).alias("cosine"),
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            sims.withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cosine")
        )

    def _query_pq(
        self, queries, qa, probed, k, id_col, vec_col, rerank_factor,
        qrows=None,
    ) -> DataFrame:
        """IVF-PQ (ADC) serving path: the coarse stage scans ONLY
        ``(id, pq_code, centroid_id)`` of the probed cells — column
        pruning makes the read ~dim·8/m bytes smaller per row than the
        vector scan — scores every candidate ENTIRELY JVM-side (each
        query's flattened LUT rides the broadcast join; the ADC sum is
        zip_with + element_at + aggregate inside whole-stage codegen),
        and the exact cosine re-rank reads real vectors for just the
        ``k·rerank_factor`` shortlist.  Same output contract as the
        exact path; recall is bounded by the PQ approximation
        (recall-tested; structure-dependent — 40/40 on the sf0.01
        embeddings, ~57% on unstructured gaussian probe data whose
        cosine gaps are below the quantization noise).

        Regime (measured, SCALE.md round 10): at local[32] with 64-dim
        page-cached vectors the exact path wins (1.7 vs 3.5 s warm at
        200k vectors / 200 queries) — scan bytes never bind locally and
        PQ adds a shortlist window + a vector re-fetch join.  The PQ
        path is for the storage-bound regime: remote object storage or
        high-dim vectors (at 1024-dim float32, codes are 512× fewer
        bytes per row), where the coarse scan IS the query cost."""
        if self.pq_codebooks is None:
            raise ValueError(
                "index was built without pq_m; rebuild with "
                "build_ivf_index(..., pq_m=...) to use scoring='pq'"
            )
        cb = self.pq_codebooks
        m, ksub, dsub = cb.shape
        if qrows is None:
            # standalone PQ call: collect the (bounded) query vectors;
            # a shared probe_assignments already carries them (qrows=)
            qrows = queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).cast("array<double>").alias("__qv"),
            ).collect()  # bounded by contract: the probe set
        spark = queries.sparkSession
        luts = []
        for r in qrows:
            qv = np.asarray(r["__qv"], dtype=np.float64)
            n = np.linalg.norm(qv) or 1.0
            qn = qv / n
            # flattened (m × ksub) lookup table for this query
            lut = np.concatenate(
                [qn[j * dsub : (j + 1) * dsub] @ cb[j].T for j in range(m)]
            )
            luts.append((r["query_id"], [float(x) for x in lut]))
        lut_df = spark.createDataFrame(
            luts, "query_id long, __lut array<double>"
        )
        coarse_in = self.cells.where(F.col("centroid_id").isin(probed)).select(
            F.col("centroid_id"),
            F.col(id_col).alias("neighbor_id"),
            F.col("pq_code"),
        )
        # ADC entirely JVM-side: per candidate, m element_at lookups into
        # the query's broadcast LUT summed by aggregate — whole-stage
        # codegen, no Python boundary on the hot path
        adc = F.aggregate(
            F.zip_with(
                F.col("pq_code"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda c, j: F.element_at(
                    F.col("__lut"), (j * ksub + c + 1).cast("int")
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        joined = (
            coarse_in.join(
                F.broadcast(
                    qa.select("query_id", "centroid_id").join(lut_df, "query_id")
                ),
                "centroid_id",
            )
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn("__adc", adc)
            .drop("__lut")
        )
        wq = Window.partitionBy("query_id").orderBy(
            F.col("__adc").desc(), F.col("neighbor_id").asc()
        )
        shortlist = (
            joined.withColumn("__crank", F.row_number().over(wq))
            .where(F.col("__crank") <= k * rerank_factor)
            .select("query_id", "neighbor_id")
        )
        vecs = self.cells.where(F.col("centroid_id").isin(probed)).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
        )
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
        sims = (
            shortlist.join(vecs, "neighbor_id")
            .join(F.broadcast(q), "query_id")
            .select(
                "query_id",
                "neighbor_id",
                _cosine_batch(F.col("__qv"), F.col("__cv")).alias("cosine"),
            )
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id").asc()
        )
        return (
            sims.withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "cosine")
        )


def open_ivf_index(spark, path: str, recover: bool = True) -> IvfIndexHandle:
    """Open a persistent IVF index for repeated query batches (one
    directory listing + codebook load, amortized across queries).
    ``recover=False`` raises instead of rolling a crashed compaction
    forward (read-only mounts)."""
    return IvfIndexHandle(spark, path, recover=recover)


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str | None = None,
    vec_col: str | None = None,
) -> DataFrame:
    """One-shot form of :meth:`IvfIndexHandle.query` (opens the index,
    queries once).  A service issuing repeated batches should hold
    :func:`open_ivf_index` instead — the cell-directory listing is the
    dominant one-shot cost at large cell counts."""
    return IvfIndexHandle(spark, path).query(
        queries, k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col
    )


def _append_ivf_epoch(batch_df: DataFrame, epoch_id: int, path: str,
                      live_lineage_checkpoint: str | None = None) -> None:
    """One micro-batch of new vectors → one atomic
    ``cells_delta/epoch=NNNNNN`` directory, cell-partitioned like the
    base layout.  Write-to-temp + rename, so a replayed epoch REPLACES
    its partial output instead of appending duplicates (the
    exactly-once pattern of the streaming WebDataset export).

    A compaction that crashed in its no-``cells/`` window is rolled
    forward FIRST (:func:`_recover_ivf_compaction`) — otherwise this
    epoch could land in a ``cells_delta`` whose contents the next
    open's recovery is contractually required to delete, silently
    losing the epoch.  SINGLE-WRITER contract (ENFORCED per epoch):
    each micro-batch holds the index's ``.writer.lock``
    (:func:`pedsnetdcc_spark.util.index_writer_lock`) for its whole
    write+rename, so a concurrent compaction/build/second-stream epoch
    fails immediately with
    :class:`~pedsnetdcc_spark.util.IndexWriterLocked` instead of
    racing; BETWEEN epochs the lock is released, so a compaction can
    legally interleave with a live stream (the watermark below keeps
    that interleaving exactly-once).  Within ONE stream the checkpoint
    serializes epoch numbering and a replayed epoch must REPLACE its
    partial output (hence the pre-rename rmtree of ``final``); that
    same replacement semantics means a SECOND independent stream
    pointed at the index clobbers the first's epochs whenever their
    ids collide.  For checkpoint-routed streams this is now ENFORCED,
    not convention: pass ``live_lineage_checkpoint`` (the sink does)
    and the batch asserts — inside this same lock — that its
    checkpoint is still the index's ONE registered live lineage
    (:func:`pedsnetdcc_spark.util.assert_live_lineage`); wiring a new
    lineage supersedes the old, whose next batch fails loudly with
    :class:`~pedsnetdcc_spark.util.StreamLineageSuperseded` instead of
    silently interleaving ids.

    A replayed epoch at or below meta's ``folded_through_epoch``
    watermark is a NO-OP: a compaction already folded its rows into
    the base (legal between a stream crash and its restart), so
    re-writing the delta would double-count — see
    :func:`compact_ivf_index`.

    An EMPTY micro-batch commits nothing (early return): an
    ``epoch=N`` directory holding zero parquet files would make
    ``spark.read.parquet(cells_delta)`` schema inference fragile if
    every sibling epoch were also empty, and there is nothing to
    replay-protect — the checkpoint still advances."""
    from pedsnetdcc_spark.util import assert_live_lineage, index_writer_lock

    with index_writer_lock(path, "append-epoch"):
        if live_lineage_checkpoint is not None:
            # streaming sink's liveness guard (checked INSIDE the lock,
            # registration happens under the same lock): a superseded
            # stream fails loudly here instead of committing an epoch
            # whose id range collides with its successor's
            assert_live_lineage(path, live_lineage_checkpoint)
        _append_ivf_epoch_locked(batch_df, epoch_id, path)


def _append_ivf_epoch_locked(
    batch_df: DataFrame, epoch_id: int, path: str
) -> None:
    import json as _json
    import math
    import os as _os
    import shutil as _shutil

    from pedsnetdcc_spark.util import repartition_by_key

    _recover_ivf_compaction(path)
    with open(_os.path.join(path, "meta.json")) as f:
        meta = _json.load(f)
    if epoch_id <= meta.get("folded_through_epoch", -1):
        # a compaction already folded this epoch into the base between
        # the original commit and this replay (stream crashed before
        # its checkpoint committed) — re-writing it would double-count
        # every row next to its folded copy; the replay is a no-op
        return
    # (Emptiness is decided AFTER the tmp write from the parquet
    # footers — the span-index append's pattern — instead of a
    # pre-write isEmpty(), which scheduled one extra scan job on EVERY
    # micro-batch to protect against the rare empty one; round-14.)
    # frozen codebooks, read driver-side (pyarrow — no Spark job): the
    # stream pays this read EVERY micro-batch
    crows = _read_codebook_rows(
        _os.path.join(path, "centroids.parquet"), ["centroid_id"]
    )
    C = np.array([r["centroid"] for r in crows], dtype=np.float64)
    if meta["assign"] == "hierarchical" and len(C) >= 64:
        assign_cell, _ = _hier_assign_udf(
            C, k1=math.ceil(math.sqrt(len(C))),
            iters=meta["iters"], seed=meta["seed"],
        )
    else:
        assign_cell, _ = _cell_assign_udfs(C, nprobe=1)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    assigned = batch_df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias(vec_col),
    ).withColumn("centroid_id", assign_cell(F.col(vec_col)))
    if meta.get("pq_m"):
        # frozen PQ codebooks, like the frozen cell codebook above
        pq_rows = _read_codebook_rows(
            _os.path.join(path, "pq_codebooks.parquet"), ["subspace", "code"]
        )
        pq_cb = np.array(
            [r["centroid"] for r in pq_rows], dtype=np.float64
        ).reshape(meta["pq_m"], meta["pq_codebook_size"], -1)
        assigned = pq_encode(assigned, pq_cb, id_col, vec_col)
    final = _os.path.join(path, "cells_delta", f"epoch={epoch_id:06d}")
    # dot-prefixed temp: Spark's partition discovery IGNORES dot/underscore
    # paths, so an orphaned temp from a crashed epoch can never be read
    # as a bogus `epoch=...tmp` partition value
    tmp = _os.path.join(
        _os.path.dirname(final), f".tmp-epoch-{epoch_id:06d}"
    )
    _shutil.rmtree(tmp, ignore_errors=True)
    repartition_by_key(assigned, "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(tmp)
    from pedsnetdcc_spark.util import parquet_dir_num_rows

    if parquet_dir_num_rows(tmp) == 0:
        # empty micro-batch: commit nothing (an all-empty epoch dir is
        # the one delta state spark.read.parquet can fail schema
        # inference on, and there is nothing to replay-protect — the
        # checkpoint still advances).  Decided from the written tmp's
        # footers (driver-side, no job) instead of a pre-write
        # isEmpty() scan job every batch paid.  The tmp write may have
        # created the cells_delta parent as a side effect — drop it
        # again if this left it empty, or the next open would schema-
        # infer over a contentless delta dir (we hold the writer lock,
        # so no concurrent epoch can be mid-commit here).
        _shutil.rmtree(tmp, ignore_errors=True)
        delta_parent = _os.path.dirname(final)
        if _os.path.isdir(delta_parent) and not _os.listdir(delta_parent):
            _os.rmdir(delta_parent)
        return
    _shutil.rmtree(final, ignore_errors=True)
    _os.makedirs(_os.path.dirname(final), exist_ok=True)
    _os.rename(tmp, final)


def _recover_ivf_compaction(path: str, recover: bool = True) -> None:
    """Roll a crashed compaction FORWARD: if ``cells/`` is missing but
    the fully-written ``.cells.compact.tmp`` exists (the temp is always
    complete before the base moves aside), finish the swap and drop the
    delta — whichever name the crash left it under; the temp already
    contains every epoch, so removing it can never lose data and
    keeping it would double-count.  EVERY lifecycle entry point (open,
    epoch append, compact) runs this first, so no writer can commit an
    epoch into a delta dir a later recovery would delete.

    ``recover=False`` (for read-only mounts) raises instead of
    mutating when the crashed state is present."""
    import os as _os
    import shutil as _shutil

    cells_dir = _os.path.join(path, "cells")
    tmp = _os.path.join(path, ".cells.compact.tmp")
    if _os.path.isdir(cells_dir) or not _os.path.isdir(tmp):
        return
    if not recover:
        raise RuntimeError(
            f"IVF index at {path!r} has a crashed compaction (cells/ "
            "missing, .cells.compact.tmp complete) and recover=False was "
            "requested; run compact_ivf_index (or open with recover=True) "
            "on a writable mount to roll the swap forward"
        )
    _os.rename(tmp, cells_dir)
    for leftover in (".cells.old", "cells_delta", ".cells_delta.old"):
        _shutil.rmtree(_os.path.join(path, leftover), ignore_errors=True)


def compact_ivf_index(spark, path: str) -> dict:
    """Fold the streaming epoch deltas back into the base cells — the
    LSM compaction step: read base ∪ delta, re-cluster by cell (one
    file per cell again), swap the directories, drop the delta.

    Assignments are already consistent (the append path froze the
    codebook), so compaction is pure layout maintenance: it bounds the
    handle's listing cost (epochs × cells directories shrink back to
    cells) and restores one-file-per-cell reads.  Crash-safety
    contract (matched with dedup.compact_span_index, round 11): the
    folded layout is FULLY written to a dot-prefixed temp before
    anything moves, and the delta dir is renamed aside BEFORE the temp
    lands — so no reachable crash state double-counts an epoch (the
    temp already contains it) or loses one; the single no-``cells/``
    window is rolled forward by the next open/compact.

    Streaming-replay seam (round-12 review finding): a stream can
    crash AFTER its epoch's delta landed but BEFORE the checkpoint
    committed; if a compaction folds that epoch before the stream
    restarts, the replay would re-write the epoch's rows NEXT TO their
    folded copies — double-counting.  Compaction therefore records the
    highest epoch id it folded in ``meta.json`` (atomic replace,
    BEFORE any rename so every crash state is covered), and
    :func:`_append_ivf_epoch` drops a replayed epoch at or below that
    watermark as an idempotent no-op.  Single-writer contract
    (ENFORCED via ``.writer.lock``; a live stream's epochs interleave
    legally because the sink holds the lock per-epoch, not
    per-stream): see :func:`_append_ivf_epoch`.  Returns
    ``{"cells": n, "rows": m, "epochs_folded": e}``."""
    import json as _json
    import os as _os
    import shutil as _shutil

    from pedsnetdcc_spark.util import index_writer_lock, repartition_by_key

    with index_writer_lock(path, "compact"):
        return _compact_ivf_index_locked(spark, path)


def _compact_ivf_index_locked(spark, path: str) -> dict:
    import json as _json
    import os as _os
    import shutil as _shutil

    from pedsnetdcc_spark.util import repartition_by_key

    _recover_ivf_compaction(path)
    cells_dir = _os.path.join(path, "cells")
    delta_dir = _os.path.join(path, "cells_delta")
    epochs = _committed_epochs(delta_dir)
    if not epochs:
        return {"cells": None, "rows": None, "epochs_folded": 0}
    base = spark.read.parquet(cells_dir)
    delta = spark.read.parquet(delta_dir).drop("epoch")
    merged = base.unionByName(delta)
    tmp = _os.path.join(path, ".cells.compact.tmp")
    old = _os.path.join(path, ".cells.old")
    delta_old = _os.path.join(path, ".cells_delta.old")
    for stale in (tmp, old, delta_old):
        _shutil.rmtree(stale, ignore_errors=True)
    repartition_by_key(merged, "centroid_id").write.mode(
        "overwrite"
    ).partitionBy("centroid_id").parquet(tmp)
    # Watermark BEFORE the swap: if we crash between here and the
    # renames, the delta is still in place and counted exactly once
    # (the stale tmp is invisible), and a replayed epoch <= watermark
    # is skipped while its rows still live in the delta — still
    # exactly once.  After the swap the folded rows live in the base
    # and the watermark keeps the replay out.
    max_folded = max(epochs)
    meta_path = _os.path.join(path, "meta.json")
    with open(meta_path) as f:
        meta = _json.load(f)
    if meta.get("folded_through_epoch", -1) < max_folded:
        meta["folded_through_epoch"] = max_folded
        tmp_meta = _os.path.join(path, ".meta.json.tmp")
        with open(tmp_meta, "w") as f:
            _json.dump(meta, f, sort_keys=True)
        _os.replace(tmp_meta, meta_path)
    _os.rename(cells_dir, old)
    _os.rename(delta_dir, delta_old)
    _os.rename(tmp, cells_dir)
    _shutil.rmtree(old, ignore_errors=True)
    _shutil.rmtree(delta_old, ignore_errors=True)
    # receipt counts from the new base's LAYOUT (driver-side, no Spark
    # job; was one aggregate job, before that two full scans): the
    # cells are hive-partitioned by centroid_id, so the distinct-cell
    # count is the partition-directory listing — Spark only creates a
    # centroid_id=N dir for rows that exist, so listing == the data's
    # countDistinct — and the row total is the sum of the parquet
    # footers' num_rows.  A read-back scan of the just-compacted index
    # paid a full extra pass over it for numbers its metadata carries.
    # The listing goes through pyarrow.fs (round-14: scheme-dispatch,
    # same coverage as a Spark listing) and EXCLUDES the
    # __HIVE_DEFAULT_PARTITION__ dir a null centroid_id would create —
    # the countDistinct this replaced never counted NULL (advice r13).
    from pedsnetdcc_spark.util import parquet_dir_num_rows, pyarrow_fs_and_path

    _cfs, _croot = pyarrow_fs_and_path(cells_dir)
    from pyarrow import fs as _pafs

    n_cells = sum(
        1
        for info in _cfs.get_file_info(_pafs.FileSelector(_croot))
        if info.type == _pafs.FileType.Directory
        and info.base_name.startswith("centroid_id=")
        and info.base_name != "centroid_id=__HIVE_DEFAULT_PARTITION__"
    )
    return {
        "cells": n_cells,
        "rows": parquet_dir_num_rows(cells_dir),
        "epochs_folded": len(epochs),
    }


def maybe_compact_ivf_index(
    spark,
    path: str,
    max_epochs: int | None = None,
    max_delta_fraction: float | None = None,
) -> dict:
    """Auto-compact policy, IVF twin of
    :func:`pedsnetdcc_spark.datapipe.dedup.maybe_compact_span_index`:
    fold the epoch deltas iff committed epochs exceed ``max_epochs`` or
    delta bytes exceed ``max_delta_fraction`` of the base ``cells/``.
    Bounds the handle's open-time directory listing (epochs × cells
    dirs) and restores one-file-per-cell reads without requiring an
    operator to schedule compaction by hand (CLI: ``ann-compact
    --if-epochs-over / --if-frac-over``).  Thresholds are opt-in
    (``None`` = unbounded)."""
    import os as _os

    from pedsnetdcc_spark.datapipe.dedup import _dir_bytes

    delta = _os.path.join(path, "cells_delta")
    epochs = _committed_epochs(delta)
    reason = None
    if max_epochs is not None and len(epochs) > max_epochs:
        reason = f"epochs {len(epochs)} > {max_epochs}"
    elif max_delta_fraction is not None and epochs:
        base_b = _dir_bytes(_os.path.join(path, "cells"))
        delta_b = _dir_bytes(delta)
        if delta_b > max_delta_fraction * base_b:
            reason = (
                f"delta bytes {delta_b} > {max_delta_fraction} × base "
                f"{base_b}"
            )
    if reason is None:
        return {"cells": None, "rows": None, "epochs_folded": 0,
                "triggered": False}
    rep = compact_ivf_index(spark, path)
    rep["triggered"] = True
    rep["reason"] = reason
    return rep


def next_epoch_offset(path: str) -> int:
    """The epoch id a FRESH append stream must start from on an index
    with history: one past everything ever committed (folded epochs
    via meta's ``folded_through_epoch`` watermark, unfolded ones via
    the delta listing).  A new checkpoint restarts Spark's epoch ids
    at 0, and an id at or below the watermark is indistinguishable
    from a crash-replay — without the offset it would be silently
    dropped (or, pre-watermark, silently clobber an existing delta)."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, "meta.json")) as f:
        folded = _json.load(f).get("folded_through_epoch", -1)
    return max([folded, *_committed_epochs(_os.path.join(path, "cells_delta"))]) + 1


def _committed_epochs(delta: str) -> list[int]:
    """Epoch ids committed under an IVF index's ``cells_delta`` (its
    ``epoch=*`` children; an in-flight or orphaned ``.tmp-epoch-*`` is
    not one)."""
    import os as _os

    if not _os.path.isdir(delta):
        return []
    return [int(e.split("=", 1)[1]) for e in _os.listdir(delta) if e.startswith("epoch=")]


def _validate_lineage_offset(path: str, checkpoint: str,
                             epoch_offset: int) -> None:
    """Persist-and-validate a stream lineage's epoch offset next to its
    checkpoint, so a colliding fresh lineage RAISES instead of silently
    losing batches.

    First wiring of a checkpoint (no marker): the offset must be at
    least :func:`next_epoch_offset` — a fresh lineage restarts Spark's
    epoch ids at 0, so an offset below the index's committed frontier
    would drop epochs ≤ ``folded_through_epoch`` as phantom replays and
    clobber live deltas.  The offset is then written to
    ``_ivf_epoch_offset.json`` in the checkpoint dir (atomic replace;
    Spark ignores foreign files there).  Every later wiring of the SAME
    checkpoint must pass the SAME offset against the SAME index — the
    offset is part of the lineage's identity for its whole lifetime.
    (Shared core: :func:`pedsnetdcc_spark.util.validate_stream_offset`,
    also used by the span index's generation-offset twin.)"""
    from pedsnetdcc_spark.util import validate_stream_offset

    validate_stream_offset(
        path, checkpoint, epoch_offset,
        marker_name="_ivf_epoch_offset.json",
        offset_key="epoch_offset",
        frontier_noun="epoch",
        required=next_epoch_offset(path),
        hint="pass epoch_offset=next_epoch_offset(path)",
    )


def stream_ivf_index_append(stream: DataFrame, path: str, *,
                            epoch_offset: int,
                            checkpoint: str | None = None,
                            auto_compact_epochs: int | None = None,
                            auto_compact_fraction: float | None = None):
    """Continuous index maintenance: a streaming sink that assigns each
    micro-batch of new vectors to cells with the index's FROZEN codebook
    and lands it as an atomic ``cells_delta/epoch=NNNNNN`` directory —
    the base+delta (LSM-style) growth path of :func:`build_ivf_index`.

    :class:`IvfIndexHandle` unions the delta in at open time, with
    per-side partition pruning intact (the centroid_id filter pushes
    through the union).  Codebook drift under a shifting distribution
    is handled by REBUILDING (the codebook is frozen here — assignment
    must stay consistent with the base cells or recall silently decays);
    rebuild-and-swap via TableStore is the compaction story.  Returns a
    ``DataStreamWriter`` — caller adds trigger/checkpoint and
    ``.start()``, like the WebDataset streaming export.

    Epoch identity contract: within ONE checkpoint lineage Spark's
    epoch ids are monotonic and replay-safe (a replayed crashed batch
    REPLACES its partial delta; one already folded by an intervening
    compaction is a no-op via the watermark).  A stream started with a
    FRESH checkpoint on an index with history restarts ids at 0 and
    MUST pass ``epoch_offset=next_epoch_offset(path)`` — the offset is
    fixed for the checkpoint's whole lifetime (reuse the same value on
    every restart of that checkpoint), which is why it is an explicit
    KEYWORD-ONLY argument with NO DEFAULT (round-13 hardening: the old
    ``epoch_offset=0`` default made the one omission whose consequence
    is silent data loss type-check and run) and not read inside the
    sink.  Pass an explicit ``0`` for a freshly built index.

    Pass ``checkpoint=`` (instead of setting ``checkpointLocation``
    yourself) to make the contract machine-checked: the offset is
    persisted as ``_ivf_epoch_offset.json`` inside the checkpoint dir
    on first wiring and validated on every restart, so a fresh lineage
    colliding with the index's committed epoch frontier — or a restart
    with a different offset or a different index — raises at wiring
    time instead of silently losing batches
    (:func:`_validate_lineage_offset`); the returned writer already
    carries the ``checkpointLocation`` option.

    SELF-BOUNDING INGESTION: pass ``auto_compact_epochs`` /
    ``auto_compact_fraction`` to run :func:`maybe_compact_ivf_index`
    after each micro-batch — a never-compacted appender otherwise
    grows the handle's open-time delta fan-in without bound.  The fold
    runs between the batch's append lock release and the next batch
    (its own lock), the ``folded_through_epoch`` watermark keeps any
    crash-replay across it exactly-once, and the thresholds make it a
    cheap listing when nothing crossed them."""

    def _append(batch_df: DataFrame, epoch_id: int) -> None:
        _append_ivf_epoch(batch_df, epoch_id + epoch_offset, path,
                          live_lineage_checkpoint=checkpoint)
        if (auto_compact_epochs is not None
                or auto_compact_fraction is not None):
            maybe_compact_ivf_index(
                batch_df.sparkSession, path,
                max_epochs=auto_compact_epochs,
                max_delta_fraction=auto_compact_fraction,
            )

    writer = stream.writeStream.foreachBatch(_append).outputMode("append")
    if checkpoint is not None:
        # validate + register under the writer lock so two simultaneous
        # wirings serialize; registering makes THIS checkpoint the
        # index's one live append lineage (superseding any previous —
        # the superseded stream fails loudly at its next batch)
        from pedsnetdcc_spark.util import (
            index_writer_lock,
            register_live_lineage,
        )

        with index_writer_lock(path, "wire-lineage"):
            _validate_lineage_offset(path, checkpoint, epoch_offset)
            register_live_lineage(path, checkpoint)
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def hyperplane_sketch(vec: Column, bits: int = 8, seed: int = 0, dim: int = 64) -> Column:
    """Deterministic sign sketch: bit i = sign of ⟨plane(seed,i), v⟩.

    The planes are CONSTANT array literals baked into the plan, so the
    per-row work is ``bits`` fused zip_with/aggregate folds — no hashing
    in the data path (hashing per element per row costs ~bits×dim hash
    calls per row and dominated early profiles)."""
    sig = None
    for i in range(bits):
        plane = F.array(*[F.lit(s) for s in _plane_signs(seed, i, dim)])
        proj = F.aggregate(
            F.zip_with(vec, plane, lambda v, s: v * s),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sig


def hyperplane_sketches_batch(bits: int, tables: int, dim: int):
    """Arrow-batched Pandas UDF computing ALL table buckets in one
    vectorized matmul: ``(n, dim) @ (dim, tables*bits)`` → sign bits →
    per-table bucket ids (array<long> of length ``tables``).

    The expression-tree formulation (:func:`hyperplane_sketch`) runs as
    interpreted ArrayAggregate folds — ~0.5 s per table per 2k rows;
    the batched matmul does all 32 projections in one BLAS call per
    Arrow batch.  Planes are identical (same ``_plane_signs``), but
    float summation order differs, so near-zero projections may flip —
    fine for an approximate bucketing, not for oracle-checked paths.
    """
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [_plane_signs(t, i, dim) for t in range(tables) for i in range(bits)]
    )  # (tables*bits, dim)
    weights = np.array([1 << i for i in range(bits)], dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def sketches(v: pd.Series) -> pd.Series:
        X = np.stack(v.values).astype(np.float64)  # (n, dim)
        signs = (X @ planes.T) > 0  # (n, tables*bits)
        b = signs.reshape(len(X), tables, bits).astype(np.int64) @ weights  # (n, tables)
        return pd.Series(list(b))

    return sketches


def lsh_bucketed_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: "int | str" = "auto",
    tables: int = 8,
    probe_hamming1: bool = True,
    *,
    dim: int,
    target_bucket: int = 64,
    n: int | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: ``tables``
    independent sketches of ``bits`` bits each; a candidate is scored if
    it shares any table's bucket with the query (plus Hamming-1 probes).

    Recall ≈ 1 − (1 − p^bits)^tables with p = 1 − θ/π per bit — tune
    tables up / bits down for higher recall at more comparisons.  The
    candidate set stays bucket-local, so per-query work is bounded by
    bucket sizes — PROVIDED ``bits`` tracks the corpus (a fixed value
    leaves n/2^bits per bucket, linear per-query work); the default
    ``"auto"`` sizes 2^bits ≈ n/target_bucket from one count action,
    same grid rule as :func:`embedding_near_dup_pairs_lsh`.

    ``dim`` is required (static knowledge at every call site): inferring
    it with a ``.first()`` would run a driver job at plan-construction
    time — a foot-gun in composed pipelines.
    """
    if bits == "auto":
        import math

        if n is None:
            # aggregate-only; pass ``n=`` from a composing pipeline
            n = candidates.count()
        bits = max(2, min(24, math.ceil(math.log2(max(n / target_bucket, 2.0)))))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    # one vectorized pass per side computes every table's bucket
    sk = hyperplane_sketches_batch(bits, tables, dim)
    c = c.withColumn("__sks", sk(F.col("__cv")))
    q = q.withColumn("__sks", sk(F.col("__qv")))
    c_all = c.select(
        "neighbor_id",
        "__cv",
        F.posexplode("__sks").alias("tbl", "bucket"),
    )
    # the probe array — tables × (1 + bits) (tbl, bucket) structs — is
    # rendered as SQL TEXT parsed JVM-side in ONE Py4J round trip: the
    # per-probe Column loop cost ~6 gateway calls per struct (hundreds
    # of round trips at auto-sized bits) of pure driver latency at
    # plan-construction time.  Identical expression tree, so plans and
    # results are unchanged (same probes, same join keys).
    q_probe_entries = []
    for t in range(tables):
        sk_q = f"__sks[{t}]"
        probes = [sk_q] + (
            [f"({sk_q} ^ {1 << i})" for i in range(bits)]
            if probe_hamming1 else []
        )
        q_probe_entries.extend(
            f"struct({t} AS tbl, {p} AS bucket)" for p in probes
        )
    q_all = q.withColumn(
        "__tb", F.explode(F.expr(f"array({', '.join(q_probe_entries)})"))
    ).select(
        "query_id", "__qv", F.col("__tb.tbl").alias("tbl"), F.col("__tb.bucket").alias("bucket")
    )
    pairs = c_all.join(F.broadcast(q_all), ["tbl", "bucket"]).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    # dedupe candidate hits BEFORE the cosine fold — a pair surfaces in
    # up to tables×(1+bits) probe buckets and the fold is the expensive
    # part of the pipeline
    pairs = pairs.dropDuplicates(["query_id", "neighbor_id"])
    sims = pairs.select(
        "query_id",
        "neighbor_id",
        _cosine_batch(F.col("__qv"), F.col("__cv")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def _argmax_cell(scored: DataFrame, id_col: str, out_col: str) -> DataFrame:
    """argmax by (cosine desc, centroid id asc) via a min-struct — one
    hash aggregate with partial combine, not a window shuffle.  Input:
    ``(id_col, __cent, __cos)``."""
    best = scored.groupBy(id_col).agg(
        F.min(F.struct((-F.col("__cos")).alias("nc"), F.col("__cent"))).alias("__b")
    )
    return best.select(F.col(id_col), F.col("__b.__cent").alias(out_col))


def _score_cells(v: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """``(id, __cent, __cos)`` for every (vector, broadcast centroid)
    pair — scan-fused broadcast nested loop, no shuffle of ``v``."""
    return v.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col("__cent"),
        (_dot(F.col("__v"), F.col("__cv")) / (F.col("__n") * F.col("__cn"))).alias(
            "__cos"
        ),
    )


def auto_cell_grid(n: int, target_cell: int = 512, k_min: int = 16):
    """``(total, k1, k2)`` for the two-level auto cell grid over ``n``
    vectors: ``total = max(k_min, ceil(n / target_cell))`` cells,
    factored as ``k1 = ceil(sqrt(total))`` coarse × ``k2 =
    ceil(total / k1)`` fine.  Every step is plain IEEE-double
    arithmetic so a SQL oracle (``CEIL``/``SQRT``/``GREATEST``) lands
    on identical integers."""
    import math

    total = max(k_min, -(-n // target_cell))
    k1 = math.ceil(math.sqrt(total))
    k2 = math.ceil(total / k1)
    return total, k1, k2


def semantic_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: "int | str" = 16,
    seed: int = 0,
    target_cell: int = 512,
    n: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Assign every vector to the nearest of ``k`` deterministic seed
    centroids (by cosine): ``(id, cell)``.  Centroids are the top-k
    vectors in seeded-hash order — fully deterministic and
    reproducible cross-engine (no RNG, no iterative training), the
    partitioning step of cluster-then-dedup pipelines (SemDeDup, Abbas
    et al. 2023: semantic dedup = k-means cells, then near-dup search
    WITHIN cells only).

    ``k="auto"`` sizes the grid from the data — ``total = max(16,
    ceil(n / target_cell))`` cells — and assigns HIERARCHICALLY:
    ``k1 ≈ sqrt(total)`` coarse seed centroids partition the space,
    then ``k2 ≈ total/k1`` fine centroids are drawn per coarse cell
    (seeded-hash order WITHIN the cell) and each vector scores only
    its own coarse cell's fine centroids.  Assignment work is
    ``n·(k1+k2) = O(n·sqrt(n/target))`` dot products instead of the
    flat ``n·total = O(n²/target)`` — the same coarse-quantize-then-
    refine shape as IVF — while cell populations stay ≈ ``target_cell``
    so the downstream within-cell pair search is ``n·target`` = linear
    in n.  A vector whose globally-nearest fine centroid lives in a
    different coarse cell lands in its coarse-local best instead; like
    the cross-cell near-dup misses, that approximation is inherent to
    the technique and the oracle replays it exactly.

    Scale shape (flat): the k-row centroid table broadcasts; assignment
    is a scan-fused broadcast nested-loop over k centroids per vector
    with a map-side-combining argmax aggregate (no window over the n×k
    stream); ties break toward the lower centroid id.  Auto mode adds
    one aggregate-only driver action (the count that sizes the grid)
    and one n-row shuffle (the per-coarse-cell fine-centroid
    row_number); the fine-centroid table (= total rows) broadcasts
    while ``total`` fits the driver hint, else joins on the coarse key.
    """
    from pedsnetdcc_spark.datapipe.dedup import portable_hash64

    v = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    hcol = portable_hash64(F.col(id_col).cast("string"), seed)
    if k == "auto":
        if n is None or dim is None:
            # ONE aggregate-only action sizes the grid AND the broadcast
            # byte gate; pass ``n=``/``dim=`` from a composing pipeline
            # that already knows them
            stats = df.agg(
                F.count(F.lit(1)).alias("__cnt"),
                F.max(F.size(F.col(vec_col))).alias("__dim"),
            ).first()
            n = stats["__cnt"] if n is None else n
            dim = (stats["__dim"] or 0) if dim is None else dim
        _total, k1, k2 = auto_cell_grid(n, target_cell)
        hv = v.withColumn("__h", hcol)
        c1 = (
            hv.orderBy("__h", id_col)
            .limit(k1)
            .select(
                F.col(id_col).alias("__cent"),
                F.col("__v").alias("__cv"),
                F.col("__n").alias("__cn"),
            )
        )
        # coarse feeds both the fine-centroid draw and the final score;
        # checkpoint so the n×k1 argmax runs once, not per consumer
        coarse = _argmax_cell(_score_cells(v, c1, id_col), id_col, "__c1").localCheckpoint(eager=False)
        avh = hv.join(coarse, id_col)
        w = Window.partitionBy("__c1").orderBy("__h", id_col)
        c2 = (
            avh.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k2)
            .select(
                F.col("__c1"),
                F.col(id_col).alias("__cent"),
                F.col("__v").alias("__cv"),
                F.col("__n").alias("__cn"),
            )
        )
        # gate the broadcast hint on estimated BYTES, not rows: each
        # fine-centroid row carries a dim-wide double array, so at
        # dim=768 a 65536-row table is ~400 MB — a driver-OOM/broadcast
        # failure risk.  64 MB budget: dim 64 → ≤131072 rows, dim 768 →
        # ≤10922 rows; past it the join keys on __c1 instead.
        if _total * max(dim or 0, 1) * 8 <= (64 << 20):
            c2 = F.broadcast(c2)
        scored = (
            v.join(coarse, id_col)
            .join(c2, "__c1")
            .select(
                F.col(id_col),
                F.col("__cent"),
                (
                    _dot(F.col("__v"), F.col("__cv"))
                    / (F.col("__n") * F.col("__cn"))
                ).alias("__cos"),
            )
        )
        return _argmax_cell(scored, id_col, "cell")
    cents = (
        v.orderBy(hcol, F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col).alias("__cent"),
            F.col("__v").alias("__cv"),
            F.col("__n").alias("__cn"),
        )
    )
    return _argmax_cell(_score_cells(v, cents, id_col), id_col, "cell")


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: "int | str" = "auto",
    threshold: float = 0.45,
    seed: int = 0,
    target_cell: int = 512,
    n: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: ``(id, cell, dup_group,
    keep)`` for every vector.  Vectors are partitioned into ``k``
    nearest-seed-centroid cells (:func:`semantic_cells`); exact cosine
    near-dup pairs are generated WITHIN cells only; transitive closure
    labels each vector's duplicate group; ``keep`` marks the canonical
    (min-id) member.  Near-dups straddling a cell boundary are missed
    BY DESIGN — that is the trade the technique makes to turn the n²
    pair search into Σ cell² ≈ n·target_cell, and the oracle mirrors it.

    ``k="auto"`` (the default) sizes the cell grid from the data so
    cell populations stay ≈ ``target_cell`` regardless of corpus size —
    the within-cell pair search is then LINEAR in n (each vector scores
    ~target_cell neighbors), and the hierarchical assignment is
    O(n·sqrt(n/target)) with a tiny constant (see
    :func:`semantic_cells`).  The fixed-k form (pass an int) keeps the
    flat n·k assignment and n²/k pair search — fine when the caller
    pins k to the corpus, quadratic if they don't; the 100× scale probe
    measured exactly that (exponent 1.7/decade at k=16), which is why
    auto is the default.

    Scale shape (auto): one count action + one n-row shuffle in the
    assignment; the pair join shuffles once on ``cell`` (bucket sizes
    ≈ target_cell, skew-free by construction); components run on the
    slim pair list.
    """
    from pedsnetdcc_spark.datapipe.clusters import assign_clusters

    v = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    cells = semantic_cells(
        df, id_col, vec_col, k=k, seed=seed, target_cell=target_cell,
        n=n, dim=dim,
    )
    if k == "auto":
        # consumed by the pair join AND the final label join; the auto
        # assignment is too expensive to run twice
        cells = cells.localCheckpoint(eager=False)
    av = v.join(cells, id_col)
    a = av.select(
        F.col(id_col).alias("id_a"),
        F.col("cell"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = av.select(
        F.col(id_col).alias("id_b"),
        F.col("cell"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
            >= F.lit(threshold)
        )
        .select("id_a", "id_b")
    )
    labeled = assign_clusters(cells, id_col, pairs, cluster_col="dup_group")
    return labeled.select(
        F.col(id_col),
        F.col("cell"),
        F.col("dup_group"),
        (F.col("dup_group") == F.col(id_col)).alias("keep"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qvec_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: ``q[i] =
    round(v[i] * 127 / max|v|)`` plus the per-vector scale — the
    storage/bandwidth compression step of large ANN systems (FAISS
    ``SQ8``): 4× smaller than float32, 8× than float64, which at a
    100 TB embedding store is the difference between shuffling 100 TB
    and 25 TB.  Composable with IVF/LSH (quantize within cells).

    Deterministic: max/round/divide on doubles (round absorbs libm-free
    arithmetic; all ops here are IEEE-exact or half-up rounds identical
    across engines).  Zero vectors quantize to all-zeros with scale 0.
    """
    # stage v and scale in a projection first: an unstaged `scale`
    # referenced inside the quantizing lambda re-evaluates the
    # array_max fold per ELEMENT — O(dim²) per row (re-evaluation trap)
    staged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    ).withColumn("__qscale", F.array_max(F.transform(F.col("__qv"), lambda x: F.abs(x))))
    v, scale = F.col("__qv"), F.col("__qscale")
    q = F.when(scale > 0, F.transform(v, lambda x: F.round(x * 127.0 / scale).cast("int"))).otherwise(
        F.transform(v, lambda x: F.lit(0))
    )
    return staged.select(
        F.col(id_col),
        q.alias(qvec_col),
        F.coalesce(scale, F.lit(0.0)).alias(scale_col),
    )


def quantized_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank_factor: int = 4,
) -> DataFrame:
    """Two-stage ANN: coarse top-``k*rerank_factor`` by INT8 quantized
    dot product (exact integer arithmetic — deterministic, no floating
    summation at all), then exact float64 cosine re-rank of the
    survivors — the SQ-compression + re-rank pattern of production
    vector search.  Returns ``(query_id, rank, neighbor_id, cosine)``
    like :func:`cosine_topk`.

    Scale shape: the coarse stage streams int8 arrays (4× less data
    than the exact path) and the exact stage touches only
    ``k*rerank_factor`` candidates per query.  Both rankings tie-break
    on the neighbor id, so the result is a pure function of the data.
    """
    from pedsnetdcc_spark.util import ensure_parallelism

    qq = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("qvec").alias("__qq")
    )
    qc = quantize_embeddings(
        ensure_parallelism(candidates), id_col, vec_col
    ).select(F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("__qc"))
    coarse_dot = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("__qc"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__coarse").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        qc.crossJoin(F.broadcast(qq))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__coarse", coarse_dot)
        .withColumn("__crank", F.row_number().over(wq))
        .where(F.col("__crank") <= k * rerank_factor)
        .select("query_id", "neighbor_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", _norm(F.col("__cv")))
    sims = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the FAISS-style compression step past SQ8:
# each unit-normalized vector is split into m subvectors, each subvector
# replaced by the id of its nearest sub-codebook centroid, so a d-dim
# float32 vector becomes m small ints (64-dim, m=8, 256 centroids → 8
# bytes, 32× smaller than float32).  Query scoring is ADC (asymmetric
# distance computation): per query, ONE m×codebook_size lookup table of
# subspace dot products; a candidate's approximate cosine is m table
# lookups summed — no per-candidate float math at all.
# ---------------------------------------------------------------------------


def _lloyd_euclidean(X: np.ndarray, k: int, iters: int, seed: int) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations under the EUCLIDEAN
    objective (plain k-means, centroids NOT normalized) — PQ minimizes
    subvector reconstruction error, so spherical k-means
    (:func:`_lloyd_numpy`) is the wrong objective here.  Returns a
    ``(k, dim)`` array; deterministic for a fixed sample and seed."""
    k = min(k, len(X))
    rng = np.random.RandomState(seed)
    idx = [int(rng.randint(len(X)))]
    best = ((X - X[idx[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        total = best.sum()
        if total <= 0:
            probs = np.full(len(X), 1.0 / len(X))
        else:
            probs = best / total
        j = int(rng.choice(len(X), p=probs))
        idx.append(j)
        np.minimum(best, ((X - X[j]) ** 2).sum(axis=1), out=best)
    C = X[idx].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return C


def train_pq_codebooks(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    codebook_size: int = 256,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 0,
    n: int | None = None,
) -> np.ndarray:
    """Train the ``(m, codebook_size, dim/m)`` PQ sub-codebooks on a
    bounded deterministic sample (same partition-independent
    smallest-xxhash64 sample as :func:`train_kmeans_centroids`, driver
    results bounded via :func:`_hash_sample_rows` at any table size).
    Vectors are unit-normalized BEFORE splitting (cosine
    regime: approximate inner product of normalized vectors = cosine),
    then each of the ``m`` subspaces gets an independent Euclidean
    k-means with seed ``seed + j``.  ``dim`` must divide evenly by
    ``m``.  ``n=`` skips the sampler's count action when the caller
    already paid it (stats seam)."""
    rows = _hash_sample_rows(df, id_col, vec_col, sample_size, seed, n=n)
    if not rows:
        raise ValueError("cannot train PQ codebooks on an empty table")
    X = np.stack([r["__v"] for r in rows]).astype(np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    n = np.linalg.norm(X, axis=1, keepdims=True)
    n[n == 0] = 1.0
    Xn = X / n
    dsub = dim // m
    return np.stack(
        [
            _lloyd_euclidean(
                Xn[:, j * dsub : (j + 1) * dsub], codebook_size, iters, seed + j
            )
            for j in range(m)
        ]
    )


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode every vector as its ``m`` nearest-sub-centroid ids —
    one Arrow-vectorized pass (per batch: normalize rows, then per
    subspace one argmax of ``2x·cᵀ − |c|²`` over the codebook; no
    python-per-row).  Output column is ``array<int>`` of length ``m``.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    m, ksub, dsub = codebooks.shape
    C = codebooks.astype(np.float64)
    c2 = (C ** 2).sum(axis=2)  # (m, ksub)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0] = 1.0
        Xn = X / n
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            xj = Xn[:, j * dsub : (j + 1) * dsub]
            codes[:, j] = (2.0 * xj @ C[j].T - c2[j]).argmax(axis=1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _encode(F.col(vec_col).cast("array<double>")))


def pq_topk(
    candidates: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = 8,
    codebook_size: int = 256,
    rerank_factor: int = 4,
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 0,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """Two-stage PQ/ADC ANN: coarse top-``k*rerank_factor`` by
    asymmetric-distance lookup over the PQ codes, exact float64 cosine
    re-rank of the survivors — same contract and output shape as
    :func:`quantized_topk` (``(query_id, rank, neighbor_id, cosine)``),
    one more compression decade (m ints per vector vs d int8s).

    Scale shape: codebooks train on a bounded sample; the probe set is
    collected driver-side (bounded by contract — queries are the small
    side, exactly as every topk variant broadcasts them) and turned
    into per-query ``(m, codebook_size)`` float32 lookup tables; ONE
    Arrow pass over the candidates encodes each batch and scores ALL
    queries against it with pure numpy gathers (``nq × batch`` adds, no
    per-candidate dot products), keeping only the per-batch top-R per
    query — output is bounded at ``nq·R`` rows per batch, merged
    exactly by a global window (the (score desc, id asc) order is
    total, so batch-local top-R contains the batch's global-top-R
    members).  The exact re-rank touches ``k*rerank_factor`` rows per
    query.  Deterministic end to end: seeded sample + seeded k-means,
    float32 LUT sums in fixed subspace order, ties broken on id.
    """
    from pedsnetdcc_spark.util import ensure_parallelism

    if codebooks is None:
        codebooks = train_pq_codebooks(
            candidates, id_col, vec_col, m=m, codebook_size=codebook_size,
            sample_size=sample_size, iters=iters, seed=seed,
        )
    m, ksub, dsub = codebooks.shape
    C = codebooks.astype(np.float64)
    c2 = (C ** 2).sum(axis=2)
    qrows = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).collect()  # bounded by contract: the probe set
    if not qrows:
        return candidates.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cosine double"
        )
    qids = np.array([r["query_id"] for r in qrows])
    Q = np.stack([r["__qv"] for r in qrows]).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    Qn = Q / qn
    # per-query ADC tables: T[q, j, c] = q_sub_j . codebook_j[c]
    T = np.stack(
        [Qn[:, j * dsub : (j + 1) * dsub] @ C[j].T for j in range(m)], axis=1
    ).astype(np.float32)  # (nq, m, ksub)
    R = k * rerank_factor

    def _score(batches):
        for pdf in batches:
            if not len(pdf):  # empty partition batch: nothing to score
                continue
            X = np.stack(pdf["__cv"].to_numpy()).astype(np.float64)
            n = np.linalg.norm(X, axis=1, keepdims=True)
            n[n == 0] = 1.0
            Xn = X / n
            codes = np.empty((len(X), m), dtype=np.int64)
            for j in range(m):
                xj = Xn[:, j * dsub : (j + 1) * dsub]
                codes[:, j] = (2.0 * xj @ C[j].T - c2[j]).argmax(axis=1)
            scores = np.zeros((len(qids), len(X)), dtype=np.float32)
            for j in range(m):
                scores += T[:, j, codes[:, j]]
            nb = np.asarray(pdf["neighbor_id"].to_numpy())
            # R+1: the query's own row (filtered AFTER this) may occupy
            # one batch-local slot; the spare keeps the merge exact
            r = min(R + 1, len(X))
            # total order (score desc, neighbor asc): sort ids ascending
            # first, then stable-argsort scores descending
            order = np.argsort(nb, kind="stable")
            s_sorted, nb_sorted = scores[:, order], nb[order]
            top = np.argsort(-s_sorted, axis=1, kind="stable")[:, :r]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, r),
                    "neighbor_id": nb_sorted[top].ravel(),
                    "__adc": np.take_along_axis(s_sorted, top, axis=1)
                    .astype(np.float64)
                    .ravel(),
                }
            )

    enc_in = ensure_parallelism(candidates).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    scored = enc_in.mapInPandas(
        _score, "query_id long, neighbor_id long, __adc double"
    ).where(F.col("neighbor_id") != F.col("query_id"))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__adc").desc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("__crank", F.row_number().over(wq))
        .where(F.col("__crank") <= R)
        .select("query_id", "neighbor_id")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__cn", _norm(F.col("__cv")))
    sims = (
        shortlist.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                _dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qn") * F.col("__cn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
