"""Partition statistics files (Iceberg spec "Partition Statistics").

Pins: spec field-ids in the parquet, file-served == computed rows,
delete-content accounting (parquet tombstones AND deletion vectors),
lifecycle (expire drops, orphan sweep collects lost files), and the
SQL surface (ANALYZE PARTITIONS / $PARTITION_STATS).
"""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from icepack import maintenance as M
from icepack.expr import col
from icepack.io import load
from icepack.stats import write_partition_stats
from icepack.table import IceTable

from .conftest import SF_DIR, rows_sorted


@pytest.fixture()
def ptable(spark, tmp_path):
    orders = load(spark, SF_DIR, "orders")
    t = IceTable.create(
        spark,
        str(tmp_path / "pt"),
        orders.schema,
        partition_by=[("o_orderdate", "month")],
        properties={
            "write.delete.mode": "merge-on-read",
            "write.delete.mor.strategy": "position",
        },
    )
    t.append(orders)
    return t, orders


def test_pstats_file_shape_and_field_ids(spark, ptable):
    t, _orders = ptable
    path = write_partition_stats(t)
    sch = pq.read_schema(path)
    ids = {
        f.name: (f.metadata or {}).get(b"PARQUET:field_id")
        for f in sch
    }
    # the spec-assigned ids, not positional accidents
    assert ids["partition"] == b"1"
    assert ids["spec_id"] == b"2"
    assert ids["data_record_count"] == b"3"
    assert ids["last_updated_snapshot_id"] == b"12"
    t.refresh()
    assert t.meta.partition_statistics[0]["statistics-path"] == path
    assert t.meta.partition_statistics[0]["file-size-in-bytes"] == os.path.getsize(
        path
    )


def test_pstats_served_equals_computed_and_counts(spark, ptable):
    t, orders = ptable
    t.delete(col("o_orderstatus") == "F")
    computed = rows_sorted(t.partition_stats())
    write_partition_stats(t)
    t.refresh()
    served = rows_sorted(t.partition_stats())
    assert served == computed
    total = sum(r[2] for r in served)  # data_record_count
    assert total == orders.count()  # MOR: data rows not rewritten
    dels = sum(r[5] for r in served)  # position_delete_record_count
    assert dels == orders.filter("o_orderstatus = 'F'").count()
    # spec: total_record_count is AFTER applying deletes.  This table's
    # delete files are unpartitioned ('{}' tuple) while data tuples are
    # partitioned — cross-tuple masks can't be attributed, so the
    # optional field is omitted (null) on data tuples rather than
    # published wrong; the delete-only tuple subtracts exactly.
    assert all(r[9] is None for r in served if r[2])
    assert all(r[9] == 0 for r in served if not r[2])
    # unpartitioned table: everything shares one tuple -> exact
    small = load(spark, SF_DIR, "orders").limit(200)
    import tempfile

    t2 = IceTable.create(
        spark,
        tempfile.mkdtemp(prefix="pstat-u-"),
        small.schema,
        properties={
            "write.delete.mode": "merge-on-read",
            "write.delete.mor.strategy": "position",
        },
    )
    t2.append(small)
    t2.delete(col("o_orderstatus") == "F")
    masked = t2.toDF().count()
    r = rows_sorted(t2.partition_stats())
    assert len(r) == 1 and r[0][9] == masked


def test_pstats_dv_counts_as_position_deletes(spark, ptable):
    t, orders = ptable
    t.delete(col("o_orderstatus") == "F")
    before = sum(r[5] for r in rows_sorted(t.partition_stats()))
    M.write_deletion_vectors(t)
    after_rows = rows_sorted(t.partition_stats())
    assert sum(r[5] for r in after_rows) == before
    # DV files group under the empty partition tuple like other
    # unpartitioned delete files
    assert any(r[0] == "{}" and r[5] == before for r in after_rows)


def test_pstats_expire_and_orphans(spark, ptable):
    t, orders = ptable
    p1 = write_partition_stats(t)
    t.append(orders.limit(5))
    p2 = write_partition_stats(t)
    t.refresh()
    assert len(t.meta.partition_statistics) == 2
    M.expire_snapshots(t, retain_last=1, older_than_ms=int(2**62))
    t.refresh()
    assert [e["statistics-path"] for e in t.meta.partition_statistics] == [p2]
    assert not os.path.exists(p1) and os.path.exists(p2)
    # a lost-CAS stats file is an orphan the sweep collects
    stray = os.path.join(
        t._mdir, "partition-stats-999-deadbeef.parquet"
    )
    with open(stray, "wb") as fh:
        fh.write(b"x")
    swept = M.remove_orphan_files(t, older_than_ms=int(2**62))
    assert stray in swept and os.path.exists(p2)


def test_pstats_sql_surface(spark, tmp_path):
    from icepack.sql import IceSQL

    q = IceSQL(spark, str(tmp_path / "wh"))
    q.sql(
        "CREATE ICEBERG TABLE pt (k BIGINT, grp STRING)"
        " PARTITION BY (grp)"
    )
    t = q.catalog.load_table("pt")
    t.append(
        spark.range(0, 90).select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 3)).alias("grp"),
        )
    )
    q.sql("ALTER ICEBERG TABLE pt ANALYZE PARTITIONS")
    rows = q.sql(
        "SELECT partition, data_record_count FROM pt$PARTITION_STATS"
        " ORDER BY partition"
    ).collect()
    assert [(r[0], r[1]) for r in rows] == [
        ('{"grp": "g0"}', 30),
        ('{"grp": "g1"}', 30),
        ('{"grp": "g2"}', 30),
    ]


def test_partition_stats_distributed_agg_matches_driver(spark, tmp_path, monkeypatch):
    """r10: on a plan-mode=distributed table the partition-stats
    aggregation runs in Spark over the raw manifest lines (partial
    per-task counters, summed by key) — zero driver entry decodes, and
    the resulting stats rows are IDENTICAL to the driver walk's."""
    def build(loc, mode):
        df = spark.range(60).selectExpr(
            "id", "CAST(id % 3 AS INT) p", "CAST(id AS DOUBLE) v"
        )
        t = IceTable.create(
            spark,
            loc,
            df.schema,
            partition_by=[("p", "identity")],
            properties={
                "write.delete.mode": "merge-on-read",
                "write.delete.mor.strategy": "position",
                "read.plan-mode": mode,
            },
        )
        t.append(df.filter("id < 30"))
        t.append(df.filter("id >= 30"))
        t.delete(col("id") < 6)
        return t

    rows = {}
    for lane in ("distributed", "driver"):
        t = build(str(tmp_path / lane), lane)
        calls = []
        orig = IceTable._read_mentries

        def counting(self, name):
            calls.append(name)
            return orig(self, name)

        monkeypatch.setattr(IceTable, "_read_mentries", counting)
        write_partition_stats(t)
        monkeypatch.setattr(IceTable, "_read_mentries", orig)
        if lane == "distributed":
            assert calls == [], f"driver decoded {sorted(set(calls))}"
        rows[lane] = rows_sorted(t.partition_stats())
    assert rows["distributed"] == rows["driver"] and rows["driver"]


def test_partition_stats_distributed_on_spec_primary(spark, tmp_path, monkeypatch):
    """ADVICE r10 (high): ANALYZE PARTITIONS on a spec-primary table
    past the distributed threshold used to feed Avro manifest binary to
    spark.read.text and crash in workers.  manifest_lines_df now
    decodes .avro manifests executor-side (read_spec_manifest) and
    re-emits native entry-JSON lines — stats must match the driver
    walk, with zero driver entry decodes on the distributed lane."""
    def build(loc, mode):
        df = spark.range(60).selectExpr(
            "id", "CAST(id % 3 AS INT) p", "CAST(id AS DOUBLE) v"
        )
        t = IceTable.create(
            spark,
            str(tmp_path / loc),
            df.schema,
            partition_by=[("p", "identity")],
            properties={
                "format.spec-primary": "true",
                "write.delete.mode": "merge-on-read",
                "write.delete.mor.strategy": "position",
                "read.plan-mode": mode,
            },
        )
        t.append(df.filter("id < 30"))
        t.append(df.filter("id >= 30"))
        t.delete(col("id") < 6)
        return t

    rows = {}
    for lane in ("distributed", "driver"):
        t = build(lane, lane)
        assert t.spec_primary
        calls = []
        orig = IceTable._read_mentries

        def counting(self, name):
            calls.append(name)
            return orig(self, name)

        monkeypatch.setattr(IceTable, "_read_mentries", counting)
        write_partition_stats(t)
        monkeypatch.setattr(IceTable, "_read_mentries", orig)
        if lane == "distributed":
            assert calls == [], f"driver decoded {sorted(set(calls))}"
        rows[lane] = rows_sorted(t.partition_stats())
    assert rows["distributed"] == rows["driver"] and rows["driver"]


def test_pstats_entry_threshold_auto_flip(spark, tmp_path, monkeypatch):
    """r11 (VERDICT r10 item 7): partition stats flips lanes on the
    ENTRY-count estimate (measured crossover ~256k), not the
    64-manifest count — a 128-manifest/small-entry table stays on the
    cheaper driver walk in auto mode, and the property override plus
    plan-mode pins still rule."""
    df = spark.range(40).selectExpr("id", "CAST(id % 2 AS INT) p")
    t = IceTable.create(
        spark, str(tmp_path / "t"), df.schema, partition_by=[("p", "identity")]
    )
    for lo in range(0, 40, 10):
        t.append(df.filter(f"id >= {lo} AND id < {lo + 10}"))
    descs = t._read_mlist(t.meta.current_snapshot.manifest_list)
    est = t._est_live_entries(descs)
    assert est >= 8
    key = "stats.partition.auto.entry-threshold"
    assert not t._distributed_by_entries(est, key, 262_144)  # small: driver
    t.set_properties(**{key: str(est)})
    assert t._distributed_by_entries(est, key, 262_144)  # override flips
    t.set_properties(**{"read.plan-mode": "driver"})
    assert not t._distributed_by_entries(est, key, 262_144)  # pin rules
    t.set_properties(**{"read.plan-mode": "distributed"})
    assert t._distributed_by_entries(0, key, 262_144)
