"""Iceberg v3 deletion vectors: roaring codec + table lifecycle.

Parity target: the reference's MOR delete story
(docs/08-acid-transactions.md:112-187) extended with the v3 deletion
vector format (public Iceberg table spec, "Delete Formats") —
roaring-bitmap position deletes in Puffin blobs.  The codec tests pin
the byte formats (icepack/roaring.py); the lifecycle tests pin that
every reader (native scan, DSv2 batch, DuckDB render, spec export)
applies DVs identically and every maintenance op folds/retires them.
"""

import os
import struct
import tempfile
import zlib

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from icepack import maintenance as M
from icepack import roaring as R
from icepack.expr import col
from icepack.interop import duckdb_snapshot_sql
from icepack.table import IceTable

from .conftest import rows_sorted


# --------------------------------------------------------------- codec


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2**45), max_size=400
    )
)
def test_roaring_roundtrip_property(vals):
    blob = R.dv_blob_bytes(vals)
    assert list(R.read_dv_blob(blob)) == sorted(set(vals))


def test_roaring_dense_bitmap_container():
    # >4096 values in one 16-bit chunk forces the bitmap container
    vals = list(range(10_000))
    assert list(R.deserialize_positions(R.serialize_positions(vals))) == vals


def test_roaring_foreign_run_container_decodes():
    # hand-built run-cookie bitmap: foreign writers run-optimize
    runs = [(100, 99), (500, 0)]  # 100..199 and 500
    body = struct.pack("<HH", R._SERIAL_COOKIE, 0)
    body += bytes([0b1])  # run-flag bitset: container 0 is a run
    body += struct.pack("<HH", 3, 100)  # key=3, cardinality-1
    body += struct.pack("<H", len(runs))
    for s, ln in runs:
        body += struct.pack("<HH", s, ln)
    bm64 = struct.pack("<Q", 1) + struct.pack("<I", 0) + body
    expect = [(3 << 16) + v for v in list(range(100, 200)) + [500]]
    assert list(R.deserialize_positions(bm64)) == expect


def test_dv_blob_rejects_corruption():
    blob = bytearray(R.dv_blob_bytes([1, 2, 3]))
    blob[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        R.read_dv_blob(bytes(blob))
    blob = bytearray(R.dv_blob_bytes([1]))
    blob[4] ^= 0xFF
    with pytest.raises(ValueError, match="magic"):
        R.read_dv_blob(bytes(blob))
    with pytest.raises(ValueError, match="negative"):
        R.dv_blob_bytes([-1])


def test_dv_blob_accepts_delta_magic_spelling():
    blob = bytearray(R.dv_blob_bytes([9, 10]))
    blob[5] = 0x33  # the Delta-documented byte order of the same format
    (length,) = struct.unpack_from(">I", blob, 0)
    body = bytes(blob[4 : 4 + length])
    blob[-4:] = struct.pack(">I", zlib.crc32(body))
    assert list(R.read_dv_blob(bytes(blob))) == [9, 10]


# ------------------------------------------------------------ lifecycle


def _mor_table(spark, tmp, n=600):
    df = spark.range(0, n).withColumn("v", (F.col("id") * 37) % 11)
    t = IceTable.create(
        spark,
        str(tmp / "dvt"),
        df.schema,
        properties={
            "write.delete.mode": "merge-on-read",
            "write.delete.mor.strategy": "position",
        },
    )
    t.append(df)
    return t, df


def test_dv_write_read_reverse_compact(spark, tmp_path):
    t, df = _mor_table(spark, tmp_path)
    t.delete(col("v") == 5)
    t.delete((col("id") >= 100) & (col("id") < 120))
    expect = rows_sorted(df.filter("v <> 5 and (id < 100 or id >= 120)"))
    assert rows_sorted(t.toDF()) == expect

    s = M.write_deletion_vectors(t)
    assert s is not None
    live = t.live_files(content="all")
    dvs = [f for f in live if f.content == "deletion-vectors"]
    assert dvs and not [f for f in live if f.content.endswith("-deletes")]
    # one puffin holds every blob; entry identity is (path, offset)
    assert len({f.path for f in dvs}) == 1
    assert len({(f.path, f.content_offset) for f in dvs}) == len(dvs)
    assert rows_sorted(t.toDF()) == expect
    # record_count == decoded cardinality (verify_table cross-check)
    assert M.verify_table(t, check_data=True) == []
    # idempotent
    assert M.write_deletion_vectors(t) is None

    # reverse migration: fold DVs back into parquet tombstones
    assert M.rewrite_position_deletes(t) is not None
    assert not [
        f for f in t.live_files(content="all") if f.content == "deletion-vectors"
    ]
    assert rows_sorted(t.toDF()) == expect

    # mixed state: DVs + a fresh parquet tombstone consolidate together
    M.write_deletion_vectors(t)
    t.delete(col("id") == 0)
    expect2 = rows_sorted(
        df.filter("v <> 5 and (id < 100 or id >= 120) and id <> 0")
    )
    assert rows_sorted(t.toDF()) == expect2
    s3 = M.write_deletion_vectors(t)
    assert s3 is not None
    assert rows_sorted(t.toDF()) == expect2

    # compaction folds and retires DVs; time travel still serves them
    M.compact(t)
    assert rows_sorted(t.toDF()) == expect2
    assert not [f for f in t.live_files(content="all") if f.content != "data"]
    assert rows_sorted(t.toDF(snapshot=t.as_of(snapshot_id=s3.snapshot_id))) == expect2

    # cold reload: DV fields survive the manifest JSON round-trip
    t2 = IceTable.load(spark, t.location)
    s4 = t2.as_of(snapshot_id=s3.snapshot_id)
    assert rows_sorted(t2.toDF(snapshot=s4)) == expect2


def test_dv_duckdb_render_and_dsv2(spark, tmp_path):
    from icepack.datasource import register

    register(spark)
    t, df = _mor_table(spark, tmp_path)
    t.delete(col("v") == 7)
    M.write_deletion_vectors(t)
    expect = rows_sorted(df.filter("v <> 7"))

    sql = duckdb_snapshot_sql(t)
    duck = sorted(duckdb.sql(f"SELECT id, v FROM ({sql})").fetchall())
    assert duck == [tuple(r) for r in sorted(expect)]

    got = spark.read.format("icepack").load(t.location)
    assert rows_sorted(got) == expect
    # pushdown keeps the DV mask
    assert rows_sorted(got.filter("id < 50")) == rows_sorted(
        df.filter("v <> 7 and id < 50")
    )

    # lazy path: cap=0 forces worker-side resolution for the parquet
    # tombstone while DV blobs ship by reference on both paths
    t.set_properties(**{"read.mor-delete-row-cap": "0"})
    t.delete(col("id") == 42)
    expect2 = rows_sorted(df.filter("v <> 7 and id <> 42"))
    assert (
        rows_sorted(spark.read.format("icepack").load(t.location)) == expect2
    )


def test_dv_export_roundtrip_read_iceberg(spark, tmp_path):
    from icepack.iceberg_export import export_iceberg
    from icepack.iceberg_import import read_iceberg

    t, df = _mor_table(spark, tmp_path, n=300)
    t.delete(col("v") == 2)
    M.write_deletion_vectors(t)
    expect = rows_sorted(df.filter("v <> 2"))
    dest = str(tmp_path / "exp")
    export_iceberg(t, dest)
    back = read_iceberg(spark, dest)
    assert rows_sorted(back.select("id", "v")) == expect


def test_dv_orphan_puffin_sweep(spark, tmp_path):
    t, df = _mor_table(spark, tmp_path, n=100)
    t.delete(col("id") < 5)
    M.write_deletion_vectors(t)
    live_puffins = {
        f.path
        for f in t.live_files(content="all")
        if f.content == "deletion-vectors"
    }
    stray = os.path.join(t.location, "data", "dv-deadbeef.puffin")
    with open(stray, "wb") as fh:
        fh.write(b"not a real puffin")
    swept = M.remove_orphan_files(t, older_than_ms=int(2**62))
    assert stray in swept and not os.path.exists(stray)
    for p in live_puffins:
        assert os.path.exists(p)
    assert rows_sorted(t.toDF()) == rows_sorted(df.filter("id >= 5"))


def test_dv_spec_primary_refusals(spark, tmp_path):
    t, _df = _mor_table(spark, tmp_path, n=100)
    t.delete(col("id") < 5)
    M.write_deletion_vectors(t)
    with pytest.raises(ValueError, match="rewrite_position_deletes"):
        M.convert_to_spec_primary(t)
    # fold back -> conversion proceeds (historical DV snapshots stay in
    # the native tree; only the live state must be v2-expressible)
    M.rewrite_position_deletes(t)
    M.convert_to_spec_primary(t)
    assert t.spec_primary
    with pytest.raises(ValueError, match="spec-primary"):
        M.write_deletion_vectors(t)


def test_dv_dangling_only_tombstones_retire_outright(spark, tmp_path):
    # every tombstone targets a file that a COW rewrite replaced:
    # consolidation commits a pure retirement, no puffin written
    t, df = _mor_table(spark, tmp_path, n=100)
    t.delete(col("id") < 5)  # MOR tombstone into the id<10 file(s)
    t.set_properties(**{"write.delete.mode": "copy-on-write"})
    # COW delete of a SUPERSET predicate rewrites exactly the files the
    # tombstone targets, leaving it dangling
    t.delete(col("id") < 10)
    expect = rows_sorted(df.filter("id >= 10"))
    assert rows_sorted(t.toDF()) == expect
    pos = [
        f
        for f in t.live_files(content="all")
        if f.content == "position-deletes"
    ]
    assert pos, "tombstone should survive the COW rewrite as dangling"
    M.write_deletion_vectors(t)
    assert not [
        f for f in t.live_files(content="all") if f.content != "data"
    ]
    assert rows_sorted(t.toDF()) == expect


def test_dv_sql_maintenance_spelling(spark, tmp_path):
    from icepack.sql import IceSQL

    wh = str(tmp_path / "wh")
    q = IceSQL(spark, wh)
    q.sql(
        "CREATE ICEBERG TABLE dt (id BIGINT, v BIGINT) TBLPROPERTIES ("
        "'write.delete.mode'='merge-on-read',"
        "'write.delete.mor.strategy'='position')"
    )
    t = q.catalog.load_table("dt")
    df = spark.range(0, 200).select(
        F.col("id"), (F.col("id") % 5).alias("v")
    )
    t.append(df)
    q.sql("DELETE FROM dt WHERE v = 2")
    q.sql("DELETE FROM dt WHERE id < 20")
    expect = rows_sorted(df.filter("v <> 2 and id >= 20"))
    q.sql("ALTER ICEBERG TABLE dt REWRITE DELETES TO DELETION VECTORS")
    t.refresh()
    assert [
        f for f in t.live_files(content="all") if f.content == "deletion-vectors"
    ]
    assert rows_sorted(q.sql("SELECT * FROM dt")) == expect
    q.sql("ALTER ICEBERG TABLE dt REWRITE DELETES")
    t.refresh()
    assert not [
        f for f in t.live_files(content="all") if f.content == "deletion-vectors"
    ]
    assert rows_sorted(q.sql("SELECT * FROM dt")) == expect


def test_dv_distributed_plan_mode(spark, tmp_path):
    # the distributed planner round-trips entries through a fixed
    # spark.read.json schema — dropping the DV identity fields there
    # silently skipped every DV on plan-mode=distributed tables
    # (resurrected rows); pinned here
    t, df = _mor_table(spark, tmp_path, n=300)
    t.set_properties(**{"read.plan-mode": "distributed"})
    t.delete(col("v") == 3)
    M.write_deletion_vectors(t)
    expect = rows_sorted(df.filter("v <> 3"))
    assert rows_sorted(t.toDF()) == expect
    # pruning predicate path too
    assert rows_sorted(t.toDF(col("id") < 100)) == rows_sorted(
        df.filter("v <> 3 and id < 100")
    )


def test_pstats_unpartitioned_table(spark, tmp_path):
    # parquet refuses childless struct groups: the unpartitioned case
    # carries a placeholder child and renders as the '{}' partition
    from icepack.stats import write_partition_stats

    df = spark.range(0, 50).withColumn("v", F.col("id") % 3)
    t = IceTable.create(spark, str(tmp_path / "up"), df.schema)
    t.append(df)
    computed = rows_sorted(t.partition_stats())
    write_partition_stats(t)
    t.refresh()
    assert rows_sorted(t.partition_stats()) == computed
    assert computed[0][0] == "{}" and computed[0][2] == 50


def test_dv_survives_rewrite_manifests_then_replace_commit(spark, tmp_path):
    # rewrite_manifests coalesces DV entries into the same manifest as
    # data files; the NEXT replace-type commit (here a COW delete)
    # rebuilds the kept entries of that manifest.  The rebuild must
    # preserve the DV identity triple (referenced_data_file,
    # content_offset, content_size) — a positional reconstruction once
    # nulled them, every reader then skipped the DVs, and MOR-deleted
    # rows resurrected.
    t, df = _mor_table(spark, tmp_path, n=100)
    t.delete((col("id") >= 10) & (col("id") < 20))  # MOR tombstone
    M.write_deletion_vectors(t)  # -> DV entries
    M.rewrite_manifests(t)  # coalesce DV + data entries together
    t.delete(col("id") == 50, mode="copy-on-write")  # replace commit
    expect = rows_sorted(df.filter("(id < 10 or id >= 20) and id <> 50"))
    assert rows_sorted(t.toDF()) == expect
    dvs = [
        f for f in t.live_files(content="all") if f.content == "deletion-vectors"
    ]
    assert dvs
    for f in dvs:
        assert f.referenced_data_file is not None
        assert f.content_offset is not None and f.content_size is not None
    assert M.verify_table(t, check_data=True) == []


def test_driver_scan_filters_irrelevant_dvs(spark, tmp_path):
    """r9: the driver-mode read path drops file-anchored delete entries
    (DVs, file-scoped pos deletes) that reference none of the scanned
    files — a pruned scan must not decode O(table) DV blobs.  Mirrors
    the distributed planner's Spark-side semi-join; rows unchanged."""
    from pyspark.sql import Row

    from icepack.expr import col
    from icepack.table import IceTable, _relevant_deletes

    rows = [Row(id=i, grp=i // 10, v=float(i)) for i in range(40)]
    df = spark.createDataFrame(rows)
    t = IceTable.create(
        spark,
        str(tmp_path / "dvp"),
        df.schema,
        properties={
            "write.delete.mode": "merge-on-read",
            "write.delete.mor.strategy": "position",
        },
    )
    for g in range(4):
        t.append(df.filter(f"grp = {g}").coalesce(1))
    t.delete(col("id").isin(3, 13, 23, 33))
    assert M.write_deletion_vectors(t) is not None

    files, _ = t.plan_files(col("grp") == 1)
    all_dels = t.live_files(content="deletes")
    dvs = [d for d in all_dels if d.content == "deletion-vectors"]
    assert len(dvs) == 4
    kept = _relevant_deletes(files, all_dels)
    kept_dvs = [d for d in kept if d.content == "deletion-vectors"]
    assert 0 < len(kept_dvs) < len(dvs)
    assert {d.referenced_data_file for d in kept_dvs} <= {f.path for f in files}
    # un-anchored deletes always pass through
    eq_like = [d for d in all_dels if d.referenced_data_file is None]
    assert [d for d in kept if d.referenced_data_file is None] == eq_like
    # end to end: the masked row stays masked on the pruned driver scan
    ids = {r.id for r in t.toDF(col("grp") == 1).collect()}
    assert ids == {10, 11, 12, 14, 15, 16, 17, 18, 19}


def test_fsck_flags_dangling_anchored_delete(spark, tmp_path):
    """r9: the planners skip file-anchored deletes whose
    referenced-data-file is not a live data path verbatim — fsck must
    flag such entries (retired-file residue or spelling drift), since
    the rows they were meant to mask silently resurrect."""
    import json

    from icepack.expr import col

    t, df = _mor_table(spark, tmp_path)
    t.delete(col("id") == 7)
    assert M.write_deletion_vectors(t) is not None
    assert M.verify_table(t) == []  # healthy: reference is live

    # corrupt the newest manifest: mis-spell the DV's reference the way
    # a buggy external writer would (file: URI instead of raw path)
    snap = t.meta.current_snapshot
    names = [m["manifest-path"] for m in t._read_mlist(snap.manifest_list)]
    broke = False
    for n in names:
        p = t.store.join(t._mdir, n)
        lines = t.store.read_text(p).splitlines()
        out = []
        for ln in lines:
            d = json.loads(ln)
            if d.get("content") == "deletion-vectors":
                d["referenced-data-file"] = "file://" + d["referenced-data-file"]
                broke = True
            out.append(json.dumps(d))
        with open(p, "w") as fh:
            fh.write("\n".join(out) + "\n")
    assert broke
    t.refresh()
    finds = M.verify_table(t)
    assert any("anchored delete references no live data file" in f for f in finds)


def test_dedupe_table_v3_merge_writes_dvs(spark, tmp_path):
    """VERDICT r12 task 7: dedupe_table's MERGE WHEN MATCHED DELETE on
    a spec-primary v3 MOR table commits the losers as DELETION VECTORS
    (never position-delete parquet), survivors are MIN(id) per content
    group, and the spec tree round-trips through the independent
    ``read_iceberg`` row-for-row after the full dedup pass."""
    from icepack.dedup import dedupe_table
    from icepack.iceberg_import import read_iceberg

    rows = [(i, f"doc-{i % 40}") for i in range(200)]  # 5x duplication
    df = spark.createDataFrame(rows, "doc_id long, text string")
    loc = str(tmp_path / "dd3")
    t = IceTable.create(
        spark, loc, df.schema,
        properties={
            "format.spec-primary": "true",
            "format.spec-version": "3",
            "write.merge.mode": "merge-on-read",
        },
    )
    t.append(df)
    r = dedupe_table(t, method="exact")
    assert r["dropped"] == 160 and r["groups"] == 40
    live = t.live_files(content="all")
    assert not [f for f in live if f.content == "position-deletes"]
    assert [f for f in live if f.content == "deletion-vectors"]
    got = sorted((r.doc_id, r.text) for r in t.toDF().collect())
    assert got == sorted((i, f"doc-{i}") for i in range(40))
    import os

    ext = read_iceberg(spark, os.path.join(loc, "metadata"))
    assert sorted((r.doc_id, r.text) for r in ext.collect()) == got


def test_v3_concurrent_dv_commits_conflict(spark, tmp_path):
    """v3 one-DV-per-file under CONCURRENCY: two handles that each
    compute a DV for the same data file from the same base must not
    both land (the tree would carry two live DVs for one file, which
    the public v3 spec forbids) — the second commit raises
    CommitConflict, and re-running it from fresh state merges both
    bitmaps into ONE DV."""
    from icepack.table import CommitConflict

    loc = str(tmp_path / "cc3")
    df = spark.range(100).selectExpr("id", "CAST(id % 5 AS LONG) k")
    t = IceTable.create(
        spark, loc, df.schema,
        properties={
            "format.spec-primary": "true",
            "format.spec-version": "3",
            "write.delete.mode": "merge-on-read",
            "write.delete.mor.strategy": "position",
        },
    )
    t.append(df.coalesce(1))  # one data file: guaranteed contention
    a = IceTable.load(spark, loc)
    b = IceTable.load(spark, loc)
    a.delete(col("k") == 1)
    with pytest.raises(CommitConflict, match="one DV per file"):
        b.delete(col("k") == 2)
    # the documented remedy: reload and re-run — merges both bitmaps
    b.refresh()
    b.delete(col("k") == 2)
    dvs = [
        f for f in b.live_files(content="all") if f.content == "deletion-vectors"
    ]
    assert len(dvs) == 1 and dvs[0].record_count == 40
    assert sorted(r.id for r in b.toDF().collect()) == [
        i for i in range(100) if i % 5 not in (1, 2)
    ]


def test_fsck_flags_multiple_dvs_per_file(spark, tmp_path):
    """fsck (verify_table) surfaces a one-DV-per-file violation — the
    state a concurrent-writer bug or manual surgery would leave, which
    commit-time validation now prevents our own DML from creating."""
    t, _df = _mor_table(spark, tmp_path, n=100)
    t.delete(col("id") < 5)
    M.write_deletion_vectors(t)
    assert M.verify_table(t) == []  # healthy: no false positive
    # surgery: duplicate the DV entry line in its (JSONL) manifest
    snap = t.meta.current_snapshot
    import json as _json

    for m in t._read_mlist(snap.manifest_list):
        mp = os.path.join(t._mdir, m["manifest-path"])
        lines = open(mp).read().splitlines()
        dv_lines = [
            ln for ln in lines if '"deletion-vectors"' in ln
        ]
        if not dv_lines:
            continue
        with open(mp, "a") as fh:
            fh.write(dv_lines[0] + "\n")
        break
    else:
        raise AssertionError("no DV manifest found")
    t.refresh()
    findings = M.verify_table(t)
    assert any("live deletion vectors" in f for f in findings)


# ------------------------------------------- r14 driver/executor lanes


def test_dv_decode_cardinality_gate(spark, tmp_path, monkeypatch):
    """r13 verdict item: the driver-decode gate must key on decoded
    CARDINALITY, not just serialized bytes — run-compressed roaring
    blobs decode to orders more positions than bytes.  Below the row
    gate the decode lane is a pure-JVM LocalTableScan; above it the
    executor mapInPandas lane serves the same rows."""
    import icepack.dv as dv

    t, _df = _mor_table(spark, tmp_path, n=300)
    t.delete(col("id") < 50)
    M.write_deletion_vectors(t)
    dvs = [f for f in t.live_files(content="all") if f.content == "deletion-vectors"]
    assert dvs and all(f.record_count for f in dvs)

    # within the row bound: driver lane
    tbl = dv.driver_deletes(dvs)
    assert tbl is not None and tbl.num_rows == 50
    plan_driver = dv.dv_positions_df(spark, dvs)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan_driver and "MapInPandas" not in plan_driver

    # cardinality above the row gate: executor lane even though the
    # serialized bytes stay tiny
    monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 10)
    assert dv.driver_deletes(dvs) is None
    df_exec = dv.dv_positions_df(spark, dvs)
    assert "MapInPandas" in df_exec._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.pos for r in df_exec.collect()) == sorted(tbl["pos"].to_pylist())

    # unknown cardinality: conservative executor lane, at the default bound
    import dataclasses as dc

    monkeypatch.undo()
    unk = [dc.replace(dvs[0], record_count=0)]
    assert dv.driver_deletes(unk) is None


def test_dv_blob_rows_matches_applyinpandas_lane(spark):
    """The driver bitmap builder must produce byte-identical blobs to
    the distributed ``build_dv_blobs`` lane over the same tombstones
    (duplicate positions included)."""
    import pandas as pd

    import icepack.dv as dv

    rows = [("f1", 3), ("f1", 1), ("f1", 3), ("f2", 7), ("f2", 0), ("f1", 9000)]
    sdf = spark.createDataFrame(rows, "file_path string, pos long")
    dist = {r["file_path"]: (bytes(r["blob"]), r["cardinality"])
            for r in dv.build_dv_blobs(sdf).collect()}
    local = {r["file_path"]: (bytes(r["blob"]), r["cardinality"])
             for r in dv.build_dv_blob_rows(
                 pd.DataFrame(rows, columns=["file_path", "pos"]))}
    assert dist == local and set(local) == {"f1", "f2"}


def test_dv_dml_lanes_agree_end_to_end(spark, tmp_path, monkeypatch):
    """A v3 MOR DELETE chain through the gated driver lane and through
    the distributed lane (gate forced shut) must produce identical
    visible rows AND identical DV blob bytes."""
    import icepack.dv as dv

    def chain(base, force_distributed):
        if force_distributed:
            monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 0)
        else:
            monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 4_000_000)
        df = spark.range(0, 400).withColumn("v", (F.col("id") * 13) % 7)
        t = IceTable.create(
            spark, str(tmp_path / base), df.schema,
            properties={
                "format.spec-version": "3",
                "write.delete.mode": "merge-on-read",
                "write.delete.mor.strategy": "position",
            },
        )
        t.append(df.coalesce(2))
        t.delete(col("v") == 2)
        t.delete(col("id") >= 350)  # second delete merges the prior DV
        dvs = sorted(
            (f for f in t.live_files(content="all")
             if f.content == "deletion-vectors"),
            key=lambda f: f.referenced_data_file,
        )
        blobs = []
        for e in dvs:
            with open(e.path, "rb") as fh:
                fh.seek(e.content_offset)
                blobs.append((e.record_count, fh.read(e.content_size)))
        return rows_sorted(t.toDF()), blobs

    rows_drv, blobs_drv = chain("drv", force_distributed=False)
    rows_dst, blobs_dst = chain("dst", force_distributed=True)
    assert rows_drv == rows_dst
    assert blobs_drv == blobs_dst


def test_consolidation_lanes_agree(spark, tmp_path, monkeypatch):
    """v2→DV consolidation through the zero-job driver lane vs the
    distributed lane: same visible rows, same per-file cardinality."""
    import icepack.dv as dv

    def run(base, force_distributed):
        monkeypatch.setattr(
            dv, "DRIVER_MAX_ROWS",
            0 if force_distributed else 4_000_000,
        )
        df = spark.range(0, 500).withColumn("v", (F.col("id") * 29) % 13)
        t = IceTable.create(
            spark, str(tmp_path / base), df.schema,
            properties={
                "write.delete.mode": "merge-on-read",
                "write.delete.mor.strategy": "position",
            },
        )
        t.append(df.coalesce(2))
        t.delete(col("v") == 3)
        t.delete(col("id") < 40)
        M.write_deletion_vectors(t)
        dvs = [f for f in t.live_files(content="all")
               if f.content == "deletion-vectors"]
        assert dvs and not [
            f for f in t.live_files(content="all")
            if f.content.endswith("-deletes")
        ]
        cards = sorted((f.referenced_data_file.rsplit("/", 1)[-1], f.record_count)
                       for f in dvs)
        return rows_sorted(t.toDF()), cards

    rows_drv, cards_drv = run("cdrv", False)
    rows_dst, cards_dst = run("cdst", True)
    assert rows_drv == rows_dst
    assert [c for _, c in cards_drv] == [c for _, c in cards_dst]


def test_pos_delete_scan_lanes_agree(spark, tmp_path, monkeypatch):
    """The gated LocalTableScan tombstone feed and the distributed
    parquet-read feed must mask identical rows (pre-consolidation MOR
    scan, the delete-then-read shape)."""
    import icepack.dv as dv

    def run(base, force_distributed):
        monkeypatch.setattr(
            dv, "DRIVER_MAX_ROWS",
            0 if force_distributed else 4_000_000,
        )
        df = spark.range(0, 300).withColumn("v", (F.col("id") * 7) % 5)
        t = IceTable.create(
            spark, str(tmp_path / base), df.schema,
            properties={
                "write.delete.mode": "merge-on-read",
                "write.delete.mor.strategy": "position",
            },
        )
        t.append(df.coalesce(2))
        t.delete(col("v") == 1)
        return rows_sorted(t.toDF())

    assert run("pdrv", False) == run("pdst", True)
    # gate refusal is observable directly too
    monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 4_000_000)
    t, _df = _mor_table(spark, tmp_path, n=100)
    t.delete(col("id") < 10)
    pos = [f for f in t.live_files(content="deletes")
           if f.content == "position-deletes"]
    assert dv.driver_deletes(pos) is not None
    monkeypatch.setattr(dv, "DRIVER_MAX_ROWS", 0)
    assert dv.driver_deletes(pos) is None


def _consolidation_inputs(spark, tmp_path):
    """A v2 MOR table with one position delete, then one folded into a
    DV and a second position delete: (table, pos, dvs)."""
    t, _df = _mor_table(spark, tmp_path, n=200)
    t.delete(col("id") < 10)
    M.write_deletion_vectors(t)
    t.delete((col("id") >= 100) & (col("id") < 110))
    live = t.live_files(content="all")
    pos = [f for f in live if f.content == "position-deletes"]
    dvs = [f for f in live if f.content == "deletion-vectors"]
    assert pos and dvs
    return t, pos, dvs


def test_consolidation_driver_lane_refuses_unknown_counts(spark, tmp_path):
    """The driver consolidation lane is gated on the tombstones' exact
    manifest record counts; an entry without one (adopted trees may
    omit it) must send the caller to the distributed lane, as the
    scan-side and DML driver lanes do."""
    import dataclasses

    import icepack.dv as dv

    _t, pos, dvs = _consolidation_inputs(spark, tmp_path)
    assert dv.driver_deletes([*pos, *dvs]) is not None
    for unknown in (None, 0):
        bad_pos = [dataclasses.replace(pos[0], record_count=unknown), *pos[1:]]
        assert dv.driver_deletes([*bad_pos, *dvs]) is None
        bad_dvs = [dataclasses.replace(dvs[0], record_count=unknown), *dvs[1:]]
        assert dv.driver_deletes([*pos, *bad_dvs]) is None


def test_consolidation_driver_lane_casts_tombstones(spark, tmp_path, monkeypatch):
    """Foreign tombstone files (dictionary-encoded paths, int32
    positions) reach the bitmap build as the canonical (file_path
    string, pos int64) frame, and build the same blobs as the
    engine's own files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import icepack.dv as dv

    build = dv.build_dv_blob_rows

    def consolidate(base, foreign):
        t, pos, _dvs = _consolidation_inputs(spark, tmp_path / base)
        if foreign:
            for f in pos:
                tbl = pq.read_table(f.path, columns=["file_path", "pos"])
                pq.write_table(
                    pa.table(
                        {
                            "file_path": tbl["file_path"].dictionary_encode(),
                            "pos": tbl["pos"].cast(pa.int32()),
                        }
                    ),
                    f.path,
                )
        seen, blobs = [], []

        def spy(pdf):
            seen.append(pdf.dtypes.astype(str).to_dict())
            out = build(pdf)
            blobs.extend(sorted((r["cardinality"], r["blob"]) for r in out))
            return out

        monkeypatch.setattr(dv, "build_dv_blob_rows", spy)
        assert M.write_deletion_vectors(t) is not None
        monkeypatch.setattr(dv, "build_dv_blob_rows", build)
        return seen, blobs

    _seen, want = consolidate("own", foreign=False)
    seen, got = consolidate("foreign", foreign=True)
    assert seen == [{"file_path": "object", "pos": "int64"}]
    assert got == want
