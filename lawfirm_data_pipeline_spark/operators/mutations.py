"""Mutation transforms: the reference's write-path semantics on DataFrames.

The reference mutates Postgres through the Prisma delegates; this engine
re-expresses each mutation as a pure read → transform → overwrite on
columnar storage.  One transform per reference call site:

    merge_update        update({where:{id}, data})            A5  (runner/locator.ts:136-141)
    update_many         updateMany({where, data})             §2.B (Company.ts:992)
    delete_where        delete/deleteMany                     A7  (runner/syncCrm.ts:112)
    delete_cascade      FK ON DELETE CASCADE on the bridge        (migration.sql:100-103)
    dedup_insert        create w/ swallowed unique violation  A8  (extractGooglePlaces.ts:305-317)
    upsert              upsert({create, update})              §2.B (Company.ts:1041)
    connect_or_create   servicesOffered connectOrCreate       A9  (scrapeWebsite.ts:215-241)
    nested_create_1to1  crmSyncEvent nested create            A10 (runner/syncCrm.ts:156-163)

Uniqueness is not declared (no indexes in Spark) — it is *maintained*:
every insert path anti-joins on the unique key first, exactly the
semantics of the reference's swallowed `PlaceEntry_url_key` violations.

Unlike ``$transaction`` (effect.ts:369-396) these are not atomic across
tables; each table overwrite is atomic per write job.  A Delta/Iceberg
sink would restore multi-statement atomicity via MERGE — connectors are
stubbed behind import-tries (sources/), since their jars aren't in the
test image.

Scale notes: all transforms are single-shuffle joins on the unique key.
At 100 TB the base side stays partitioned on its key (bucketing or a
prior repartition) so repeated merges co-locate; the updates side is
usually small → broadcast.  Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..predicates import compile_where
from ..pin import pin


def merge_update(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    set_cols: list[str] | None = None,
    broadcast_updates: bool = True,
) -> DataFrame:
    """Keyed update: for rows whose key appears in ``updates``, replace
    ``set_cols`` with the update values; everything else unchanged.

    A5 (status write-back, locator.ts:136-141) and the composite-key
    re-queue A6 (syncCrm.ts:113-119 — keys=["name","url"]).
    """
    set_cols = set_cols or [c for c in updates.columns if c not in keys]
    u = updates.select(*keys, *[F.col(c).alias(f"__u_{c}") for c in set_cols])
    if broadcast_updates:
        u = F.broadcast(u)
    out = base.join(u, on=keys, how="left")
    for c in set_cols:
        # coalesce keeps the old value where no update row matched; a NULL
        # in the update payload therefore cannot null a column — callers
        # that need explicit null writes pass a sentinel and map it here.
        out = out.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
    return out.drop(*[f"__u_{c}" for c in set_cols])


def update_many(base: DataFrame, where: dict | None, data: dict[str, object]) -> DataFrame:
    """Predicated update: SET data for rows matching the Prisma filter.

    NULL predicate results leave the row unchanged (SQL three-valued
    logic, same as UPDATE ... WHERE in the reference's Postgres).
    """
    pred = compile_where(where)
    out = base
    for col, value in data.items():
        v = value if isinstance(value, Column) else F.lit(value)
        out = out.withColumn(col, F.when(pred, v).otherwise(F.col(col)))
    return out


def delete_where(base: DataFrame, where: dict) -> DataFrame:
    """delete/deleteMany ≡ keep rows NOT matching (false or NULL)."""
    pred = compile_where(where)
    return base.filter(~F.coalesce(pred, F.lit(False)))


def delete_cascade(
    parent: DataFrame,
    bridge: DataFrame,
    where: dict,
    parent_key: str,
    bridge_fk: str,
) -> tuple[DataFrame, DataFrame]:
    """Delete parents matching ``where`` plus their bridge rows, mirroring
    the FK ``ON DELETE CASCADE`` DDL (migration.sql:100-103).  Returns
    (new_parent, new_bridge)."""
    doomed = parent.filter(F.coalesce(compile_where(where), F.lit(False))).select(
        F.col(parent_key).alias("__k")
    )
    new_parent = parent.join(doomed, parent[parent_key] == F.col("__k"), "left_anti")
    new_bridge = bridge.join(doomed, bridge[bridge_fk] == F.col("__k"), "left_anti")
    return new_parent, new_bridge


def dedup_insert(
    existing: DataFrame,
    new: DataFrame,
    unique_key: list[str] | str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Insert-unless-duplicate on the unique key (A8).

    The reference inserts row-by-row and swallows unique violations
    (extractGooglePlaces.ts:305-317 + PlaceEntry_url_key): first insert
    wins, later duplicates vanish.  Batch equivalent: dedup the incoming
    batch on the key (ordered by ``tiebreak`` for determinism — the
    reference's arrival order doesn't exist in a parallel batch), then
    anti-join against existing keys and append.
    """
    keys = [unique_key] if isinstance(unique_key, str) else list(unique_key)
    if tiebreak:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy(*[F.col(c) for c in tiebreak])
        new = (
            new.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    else:
        new = new.dropDuplicates(keys)
    fresh = new.join(existing.select(*keys), on=keys, how="left_anti")
    return existing.unionByName(fresh)


def upsert(
    base: DataFrame,
    incoming: DataFrame,
    keys: list[str] | str,
    update_cols: list[str] | None = None,
) -> DataFrame:
    """MERGE: WHEN MATCHED update ``update_cols``, WHEN NOT MATCHED insert.

    Vanilla-parquet implementation of Prisma ``upsert`` (Company.ts:1041);
    with a Delta sink this becomes a single ``MERGE INTO``.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    updated = merge_update(base, incoming, keys, update_cols, broadcast_updates=False)
    fresh = incoming.join(base.select(*keys), on=keys, how="left_anti")
    # create-payload may be narrower than the table (Prisma fills defaults /
    # NULLs for omitted optional columns); pad with typed NULLs.
    for field in base.schema.fields:
        if field.name not in fresh.columns:
            fresh = fresh.withColumn(field.name, F.lit(None).cast(field.dataType))
    return updated.unionByName(fresh.select(*updated.columns))


def connect_or_create(
    facts_with_tags: DataFrame,
    dim: DataFrame,
    bridge: DataFrame,
    *,
    fact_key: str = "id",
    tags_col: str = "tags",
    dim_key: str = "id",
    dim_name: str = "name",
    bridge_fact_fk: str = "A",
    bridge_dim_fk: str = "B",
    dim_id_prefix: str = "fs_",
) -> tuple[DataFrame, DataFrame]:
    """``connectOrCreate`` for the m:n tag relation (A9).

    For every fact row carrying an array of tag names
    (scrapeWebsite.ts:215-241): connect to an existing dimension row by
    unique name, else create one; then append bridge rows.  Returns
    (new_dim, new_bridge).

    Idempotent: re-running with the same facts adds no dim or bridge rows
    (the reference gets this from unique indexes; we get it from the
    anti-joins).  Dimension ids must be deterministic in a distributed,
    re-runnable transform, so they derive from the unique name itself
    rather than a sequence — the reference's cuid() has no parallel-safe
    equivalent.

    Ordering contract (SURVEY.md §4): dim merge runs before bridge append
    so bridge rows always resolve.

    The merged dimension is pinned before the bridge derives from it.
    Every caller reads it twice (the bridge resolve joins it, and the
    caller writes or joins it), so without the pin the distinct and
    anti-join subtree would be planned and run once per read.  The
    ordering contract above already writes the dim merge before the
    bridge append, which is exactly this materialization.
    """
    tags = (
        facts_with_tags.select(F.explode(F.array_distinct(F.col(tags_col))).alias("__tag"), F.col(fact_key).alias("__fid"))
        .filter(F.col("__tag").isNotNull())
    )
    # 1. dimension merge (create the missing names)
    missing = (
        tags.select(F.col("__tag").alias(dim_name))
        .distinct()
        .join(dim.select(dim_name), on=dim_name, how="left_anti")
        .withColumn(dim_key, F.concat(F.lit(dim_id_prefix), F.sha2(F.col(dim_name), 256).substr(1, 24)))
    )
    # dim may carry audit columns (createdAt/updatedAt) the merge doesn't
    # synthesize; unionByName leaves them NULL for created rows.
    new_dim = dim.unionByName(
        missing.select(*[c for c in dim.columns if c in missing.columns]),
        allowMissingColumns=True,
    )
    new_dim = pin(new_dim)
    # 2. bridge append (connect), dedup'd against existing pairs
    resolved = tags.join(
        new_dim.select(F.col(dim_name).alias("__tag"), F.col(dim_key).alias("__did")),
        on="__tag",
    ).select(F.col("__fid").alias(bridge_fact_fk), F.col("__did").alias(bridge_dim_fk))
    fresh_pairs = resolved.dropDuplicates([bridge_fact_fk, bridge_dim_fk]).join(
        bridge, on=[bridge_fact_fk, bridge_dim_fk], how="left_anti"
    )
    new_bridge = bridge.unionByName(fresh_pairs)
    return new_dim, new_bridge


def nested_create_1to1(
    events: DataFrame,
    new_events: DataFrame,
    fk: str = "companyId",
) -> DataFrame:
    """Append 1:1 child rows, enforcing the unique FK (A10).

    ``crmSyncEvent: {create: {...}}`` keyed by companyId
    (runner/syncCrm.ts:156-163; unique index CrmSyncEvent_companyId_key).
    """
    return dedup_insert(events, new_events, fk)
