"""Surrogate-ID infrastructure: range allocator, contiguous assignment,
key remapping (including the polymorphic fact_relationship dispatch).

Reference semantics (pedsnetdcc/id_mapping_transform.py:14-31,47-179;
id_maps.py:20-66; era.py:695-846):

1. count rows needing ids (left-anti join of source vs map table);
2. atomically reserve a contiguous range from a one-row ``last_id``
   allocator table (``LOCK``; ``UPDATE last_id = last_id + n RETURNING``);
3. assign ``row_number() + old_last_id`` to the unmapped rows, insert
   ``(site_id, dcc_id)`` pairs into the map table;
4. rewrite the table replacing PK/FK values with ``dcc_id`` — INNER join
   for non-nullable FKs, LEFT OUTER for nullable ones, original kept as
   ``site_id`` (id_mapping_transform.py:213-294);
5. ``fact_relationship`` ids are remapped per-domain via a CASE over
   aliased joins (id_mapping_transform.py:296-363).

Spark design (SURVEY.md §2.9): allocator state is a small driver-side
JSON store (one read-modify-write per reservation — the analog of the
single-row locked UPDATE; on a production deployment this would be a
Delta table transaction).  Assignment offers two modes:

- ``window``     — ``row_number() over (order by site_id) + base``:
  bit-identical to the reference, but a global window is a single-task
  sort — fine for the *new-rows-only* slice it is applied to (only
  unmapped rows are numbered), not for bulk backfills.
- ``distributed`` — range-partition by the order column, sort within
  partitions and cache each row's position in its partition; count rows
  per partition and turn the counts into exclusive-prefix-sum offsets
  with a broadcast self-join, all inside the one plan (no driver
  collect): contiguous, deterministic, and parallel — the 100 TB path
  (equivalent to RDD ``zipWithIndex`` but staying in the DataFrame API /
  Arrow pipeline).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


class IdAllocator:
    """Contiguous id-range allocator — the ``<idname>_<table>_id(last_id)``
    tables (id_maps.py:22-23) plus the lock/update/returning reservation
    (id_mapping_transform.py:20-25,136-151).

    State is one JSON file mapping allocator name → last issued id.
    Negative-direction allocation supports the reference's negative-id
    sequences for derived records (era.py:726-733: START -2147483647).
    """

    def __init__(self, state_path: str):
        self.state_path = state_path

    def _load(self) -> dict[str, int]:
        if os.path.exists(self.state_path):
            with open(self.state_path) as f:
                return json.load(f)
        return {}

    def _save(self, state: dict[str, int]) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.state_path)

    def seed(self, name: str, last_id: int) -> None:
        """``populate_last_id``: seed the allocator from the current max
        of the target table (id_maps.py:27-66)."""
        state = self._load()
        state[name] = max(int(last_id), state.get(name, int(last_id)))
        self._save(state)

    def reserve(self, name: str, n: int, start: int = 0) -> int:
        """Reserve ``n`` ids; returns the exclusive base (ids are
        ``base+1 … base+n``)."""
        state = self._load()
        base = state.get(name, start)
        state[name] = base + n
        self._save(state)
        return base


# derived-record ids count up from the negative range so they never
# collide with site-assigned positive ids (era.py:726-733:
# ``START WITH -2147483647 … MAXVALUE 0``)
NEGATIVE_ID_START = -2_147_483_648


def reserve_negative(allocator: IdAllocator, name: str, n: int) -> int:
    """Reserve from the negative-id sequence (ids ``base+1 … base+n``,
    all ≤ 0 until the 2^31 range is exhausted)."""
    base = allocator.reserve(name, n, start=NEGATIVE_ID_START)
    if base + n > 0:
        raise OverflowError(f"negative id range exhausted for {name!r}")
    return base


def assign_surrogate_ids(
    df: DataFrame,
    id_name: str,
    order_col: str | Sequence[str],
    base: int = 0,
    mode: str = "window",
    num_partitions: int | None = None,
) -> DataFrame:
    """Append a contiguous surrogate id column ``base+1 … base+count``
    ordered by ``order_col`` — one column or a composite key
    (id_mapping_transform.py:28-31).

    ``mode="distributed"`` runs no job while the plan is built.  Its
    result reads a cached relation (the range-partitioned input with
    each row's partition and position), which must stay cached until
    the caller's action on the result has run; the caller releases it
    afterwards (``util.release_cached(result)``).  Rows with equal
    order keys get their ids in an arbitrary order, as in ``window``
    mode.
    """
    order_cols = [order_col] if isinstance(order_col, str) else list(order_col)
    if mode == "window":
        w = Window.orderBy(*order_cols)
        return df.withColumn(id_name, F.row_number().over(w) + F.lit(base))
    if mode != "distributed":
        raise ValueError(f"unknown mode {mode!r}")

    n_parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    pid = F.spark_partition_id()
    # monotonically_increasing_id() is (partition index << 33) + row
    # index, so subtracting the partition's base leaves each row's
    # 0-based position in the sorted partition
    ranged = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", pid)
        .withColumn("__pos", F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33))
    )
    # Load-bearing: the count branch and the id branch below must read
    # ONE materialization.  Uncached, each branch runs its own range
    # exchange, whose sampled bounds can differ, and ids go wrong.
    ranged = ranged.cache()
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # exclusive prefix sum from a broadcast self-join of the ≤ n_parts-row
    # count table (a global window here would be a single-task
    # exchange); both sides are the same aggregate, so it runs once
    upto = counts.select(F.col("__pid").alias("__upto"), F.col("__cnt").alias("__n"))
    offsets = (
        counts.join(F.broadcast(upto), F.col("__upto") <= F.col("__pid"))
        .groupBy("__pid", "__cnt")
        .agg((F.sum("__n") - F.col("__cnt")).alias("__offset"))
        .drop("__cnt")
    )
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn(id_name, F.col("__pos") + F.col("__offset") + F.lit(base + 1))
        .drop("__pid", "__pos", "__offset")
    )


def build_id_map(
    df: DataFrame,
    existing_map: DataFrame | None,
    site_col: str,
    allocator: IdAllocator,
    name: str,
    mode: str = "window",
) -> DataFrame:
    """Extend (or create) a ``(site_id, dcc_id)`` map table with ids for
    keys not yet mapped — steps 1-3 of the reference flow.

    Returns the full updated map.  Deterministic: new keys are numbered
    in ``site_col`` order from the reserved base.
    """
    keys = df.select(F.col(site_col).alias("site_id")).distinct()
    if existing_map is not None:
        unmapped = keys.join(existing_map.select("site_id"), "site_id", "left_anti")
    else:
        unmapped = keys
    n = unmapped.count()  # new_id_count_sql (id_mapping_transform.py:14-16)
    base = allocator.reserve(name, n)
    new_rows = assign_surrogate_ids(unmapped, "dcc_id", "site_id", base=base, mode=mode)
    new_rows = new_rows.select("site_id", F.col("dcc_id").cast("long"))
    if existing_map is not None:
        return existing_map.select("site_id", "dcc_id").unionByName(new_rows)
    return new_rows


def remap_keys(
    df: DataFrame,
    id_map: DataFrame,
    col: str,
    nullable: bool = False,
    keep_site_col: str | None = None,
    map_site_col: str = "site_id",
    map_id_col: str = "dcc_id",
) -> DataFrame:
    """Replace a PK/FK column with its mapped surrogate id
    (id_mapping_transform.py:213-294).

    INNER join for non-nullable columns, LEFT OUTER for nullable —
    exactly the reference's isouter switch (id_mapping_transform.py:
    274-279).  ``keep_site_col`` preserves the original value under a
    new name (the PK case keeps ``site_id``).

    Scale: map tables can be fact-sized, so no broadcast hint — AQE
    picks sort-merge/shuffle-hash; for repeated remaps against the same
    map, bucket both sides on the key to eliminate the exchange.
    """
    how = "left" if nullable else "inner"
    m = id_map.select(
        F.col(map_site_col).alias("__site"), F.col(map_id_col).alias("__dcc")
    )
    out = df.join(m, df[col].cast(m.schema["__site"].dataType) == m["__site"], how)
    if keep_site_col:
        out = out.withColumn(keep_site_col, F.col(col))
    return out.withColumn(col, F.col("__dcc")).drop("__site", "__dcc")


@dataclass(frozen=True)
class DomainMap:
    """One fact_relationship domain: its code and the id map for the
    table that domain's fact ids point into."""

    domain_code: int
    id_map: DataFrame


def remap_polymorphic(
    df: DataFrame,
    fact_col: str,
    domain_col: str,
    domains: Sequence[DomainMap],
    map_site_col: str = "site_id",
    map_id_col: str = "dcc_id",
) -> DataFrame:
    """Remap a polymorphic fact-id column: per domain, an aliased LEFT
    join on ``(fact_id = site_id AND domain = code)``, then a CASE over
    the domain code picks the mapped id (id_mapping_transform.py:296-363;
    golden SQL in reference tests/id_mapping_transform_test.py:42-99).

    Rows whose domain has no map, or whose id is unmapped, get NULL —
    matching the reference's LEFT OUTER + CASE fall-through.
    """
    out = df
    case: Column | None = None
    for i, dm in enumerate(domains):
        alias = f"__dcc_{i}"
        m = dm.id_map.select(
            F.col(map_site_col).alias(f"__site_{i}"), F.col(map_id_col).alias(alias)
        )
        out = out.join(
            m,
            (out[fact_col] == m[f"__site_{i}"])
            & (out[domain_col] == F.lit(dm.domain_code)),
            "left",
        ).drop(f"__site_{i}")
        branch = F.col(domain_col) == F.lit(dm.domain_code)
        case = (
            F.when(branch, F.col(alias))
            if case is None
            else case.when(branch, F.col(alias))
        )
    assert case is not None
    out = out.withColumn(fact_col, case.otherwise(F.lit(None)))
    return out.drop(*[f"__dcc_{i}" for i in range(len(domains))])
