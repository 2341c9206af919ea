"""Table core: create/append/scan round-trips, time travel, pruning,
concurrent-commit CAS (SURVEY.md §5.3)."""

import glob
import os
import threading

import pytest
from pyspark.sql import functions as F

from icepack.catalog import Catalog
from icepack.expr import col
from icepack.io import load
from icepack.table import IceTable

from tests.conftest import SF_DIR, rows_sorted


def test_create_append_roundtrip(spark, warehouse):
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.orders", orders.schema)
    t.append(orders)
    assert rows_sorted(t.toDF()) == rows_sorted(orders)
    # reload from disk sees the same
    t2 = cat.load_table("db.orders")
    assert t2.toDF().count() == orders.count()
    assert t2.meta.table_uuid == t.meta.table_uuid


def test_create_duplicate_fails(spark, warehouse):
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    cat.create_table("db.orders", orders.schema)
    with pytest.raises(ValueError):
        cat.create_table("db.orders", orders.schema)


def test_time_travel(spark, warehouse):
    """append → append → as_of(first) reproduces the first slice
    (docs/05-snapshots-time-travel.md)."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    t = cat.create_table("db.o", orders.schema)
    s1 = t.append(a)
    t.append(b)
    assert t.toDF().count() == orders.count()
    assert rows_sorted(t.toDF(snapshot=t.as_of(snapshot_id=s1.snapshot_id))) == rows_sorted(a)
    # timestamp-based travel picks the same snapshot
    assert t.as_of(timestamp_ms=s1.timestamp_ms).snapshot_id == s1.snapshot_id


def test_partition_pruning_correct_and_effective(spark, warehouse):
    """Metamorphic: pruned scan ≡ full filter; and pruning actually
    skips files (hidden partitioning T2)."""
    cat = Catalog(spark, warehouse)
    ev = load(spark, SF_DIR, "events")
    t = cat.create_table(
        "db.ev", ev.schema, partition_by=[("event_type", "identity"), ("ts", "day")]
    )
    t.append(ev)
    pred = (col("ts") >= "2024-01-05") & (col("ts") < "2024-01-08") & (
        col("event_type") == "click"
    )
    expected = ev.filter(
        (F.col("ts") >= "2024-01-05") & (F.col("ts") < "2024-01-08")
        & (F.col("event_type") == "click")
    )
    assert rows_sorted(t.toDF(pred)) == rows_sorted(expected)
    _, report = t.plan_files(pred)
    assert report["files_scanned"] < report["files_total"]


def test_stats_file_pruning(spark, warehouse):
    """Unpartitioned table still prunes on per-file min/max stats
    (phase-2, docs/09:33-44)."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.o", orders.schema)
    # write in orderkey ranges so files have tight disjoint bounds
    t.append(orders.filter("o_orderkey < 500").coalesce(1))
    t.append(orders.filter("o_orderkey >= 500 and o_orderkey < 1000").coalesce(1))
    t.append(orders.filter("o_orderkey >= 1000").coalesce(1))
    pred = col("o_orderkey") < 100
    files, report = t.plan_files(pred)
    assert report["files_scanned"] == 1 and report["files_total"] == 3
    assert rows_sorted(t.toDF(pred)) == rows_sorted(orders.filter("o_orderkey < 100"))


def test_query_history_records_pruning(spark, warehouse):
    """query_history (docs/09:183-194): one row per scan, with the
    pruned scan showing files/bytes/partitions scanned < total."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.qh", orders.schema)
    t.append(orders.filter("o_orderkey < 1000").coalesce(1))
    t.append(orders.filter("o_orderkey >= 1000").coalesce(1))
    t.toDF()
    t.toDF(col("o_orderkey") < 100)
    h = {r["seq"]: r for r in t.query_history().collect()}
    assert len(h) == 2
    full, pruned = h[1], h[2]
    assert full["predicate"] is None
    assert full["files_scanned"] == full["files_total"] == 2
    assert full["bytes_scanned"] == full["bytes_total"] > 0
    assert pruned["predicate"] is not None
    assert pruned["files_scanned"] == 1 < pruned["files_total"] == 2
    assert 0 < pruned["bytes_scanned"] < pruned["bytes_total"]


def test_concurrent_append_cas_merges(spark, warehouse):
    """Two writers with independent handles both commit; CAS retry
    merges appends (docs/08-acid-transactions.md:54-78)."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    cat.create_table("db.o", orders.schema)
    h1 = IceTable.load(spark, cat._loc("db.o"))
    h2 = IceTable.load(spark, cat._loc("db.o"))
    a = orders.filter(F.col("o_orderkey") % 2 == 0)
    b = orders.filter(F.col("o_orderkey") % 2 == 1)
    errs = []

    def w(handle, df):
        try:
            handle.append(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=w, args=(h1, a))
    t2 = threading.Thread(target=w, args=(h2, b))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    final = IceTable.load(spark, cat._loc("db.o"))
    assert final.toDF().count() == orders.count()
    assert len(final.meta.snapshots) == 2


def test_metadata_tables(spark, warehouse):
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.o", orders.schema)
    t.append(orders.repartition(2))
    t.append(orders.repartition(1))
    assert t.snapshots().count() == 2
    assert t.files().count() == 3
    assert t.manifests().count() == 2  # incremental: one per append
    h = t.history().collect()
    assert h[-1]["is_current"]
    d = t.describe()
    assert d["snapshot-count"] == 2 and d["current-snapshot-id"] is not None


def test_incremental_manifest_reuse(spark, warehouse):
    """Append must NOT rewrite prior manifests (O(new) commits)."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.o", orders.schema)
    t.append(orders.coalesce(1))
    m1 = {r["manifest_path"] for r in t.manifests().collect()}
    t.append(orders.coalesce(1))
    m2 = {r["manifest_path"] for r in t.manifests().collect()}
    assert m1 < m2  # previous manifest referenced untouched


def test_partitions_metadata_table(spark, warehouse):
    cat = Catalog(spark, warehouse)
    ev = load(spark, SF_DIR, "events")
    t = cat.create_table(
        "db.evp", ev.schema, partition_by=[("event_type", "identity")]
    )
    t.append(ev)
    parts = {r["partition"]: r for r in t.partitions().collect()}
    n_types = ev.select("event_type").distinct().count()
    assert len(parts) == n_types
    assert sum(r["record_count"] for r in parts.values()) == ev.count()
    assert all(r["file_count"] >= 1 and r["total_bytes"] > 0 for r in parts.values())


def test_metadata_only_count(spark, warehouse):
    """COUNT(*) and stats-proven filtered counts come from manifests;
    unprovable predicates still count exactly via a partial scan."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.oc", orders.schema)
    t.append(orders.repartition(4))
    assert t.count() == orders.count()
    pred = col("o_totalprice") > 100000.0  # unprovable: scans remainder
    assert t.count(pred) == orders.filter("o_totalprice > 100000.0").count()
    # after a MOR delete the fast path must disable itself
    t2 = cat.create_table(
        "db.oc2", orders.schema,
        properties={"write.delete.mode": "merge-on-read",
                    "identifier-field-names": "o_orderkey"},
    )
    t2.append(orders)
    t2.delete(col("o_orderstatus") == "F")
    assert t2.count() == orders.filter("o_orderstatus <> 'F'").count()


def test_set_properties(spark, warehouse):
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.op", orders.schema)
    v = t._version
    t.set_properties(**{"write.sort-order": "o_orderkey", "tmp.key": "1"})
    t.set_properties(**{"tmp.key": None})
    assert t.meta.properties["write.sort-order"] == "o_orderkey"
    assert "tmp.key" not in t.meta.properties
    assert t._version == v + 2
    # a fresh load sees the committed properties
    assert IceTable.load(spark, cat._loc("db.op")).meta.properties[
        "write.sort-order"
    ] == "o_orderkey"


def test_bloom_filter_write_option(spark, warehouse):
    """The bloom-filter table property must reach the parquet writer:
    same data, bloom-enabled file is measurably larger (the filter
    bytes are embedded in the file)."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders").coalesce(1)
    plain = cat.create_table("db.nb", orders.schema)
    plain.append(orders)
    bloomy = cat.create_table(
        "db.wb", orders.schema,
        properties={"write.parquet.bloom-filter-enabled.column.o_orderkey": "true"},
    )
    bloomy.append(orders)
    size = lambda t: sum(f.file_size_bytes for f in t.live_files())
    assert size(bloomy) > size(plain) + 1024
    assert rows_sorted(bloomy.toDF()) == rows_sorted(plain.toDF())


def test_compression_codec_property(spark, warehouse):
    """write.parquet.compression-codec reaches the writer."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders").coalesce(1)
    raw = cat.create_table(
        "db.cnone", orders.schema,
        properties={"write.parquet.compression-codec": "none"},
    )
    raw.append(orders)
    gz = cat.create_table(
        "db.cgz", orders.schema,
        properties={"write.parquet.compression-codec": "gzip"},
    )
    gz.append(orders)
    size = lambda t: sum(f.file_size_bytes for f in t.live_files())
    assert size(raw) > size(gz)
    assert rows_sorted(raw.toDF()) == rows_sorted(gz.toDF())


def test_drop_undrop_table(spark, warehouse):
    """DROP moves to trash (UNDROP restorable, docs/01:80); PURGE and
    the retention sweep actually delete."""
    cat = Catalog(spark, warehouse)
    orders = load(spark, SF_DIR, "orders")
    t = cat.create_table("db.dropme", orders.schema)
    t.append(orders)
    before = rows_sorted(t.toDF())
    cat.drop_table("db.dropme")
    assert not cat.table_exists("db.dropme")
    assert "db.dropme" not in cat.list_tables()
    restored = cat.undrop_table("db.dropme")
    assert rows_sorted(restored.toDF()) == before
    assert "db.dropme" in cat.list_tables()
    # purge path: gone for good
    cat.drop_table("db.dropme")
    assert cat.purge_trash() != []
    try:
        cat.undrop_table("db.dropme")
        raise AssertionError("undrop after purge must fail")
    except ValueError:
        pass


def test_append_commit_never_reads_manifest_entries(spark, tmp_path, monkeypatch):
    """r9: a pure APPEND carries previous manifests forward from the
    LIST summary alone — zero driver-side manifest-entry decodes, so
    commit cost is O(manifests) not O(table entries) (profiled: 1.65 s
    per append at 100k entries before this path; streaming pays it per
    micro-batch).  Replace-type commits still read entries (path-level
    hit search)."""
    from pyspark.sql import Row

    from icepack.table import IceTable

    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(8)])
    t = IceTable.create(spark, str(tmp_path / "ap"), df.schema)
    t.append(df.filter("id < 4"))
    t.append(df.filter("id >= 4"))

    calls = []
    orig = IceTable._read_mentries

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    monkeypatch.setattr(IceTable, "_read_mentries", counting)
    from icepack.manifest import DataFile

    t._commit_snapshot(
        "append",
        [
            DataFile(
                path=str(tmp_path / "ap" / "data" / "x.parquet"),
                status="added",
                partition={},
                spec_id=t.meta.default_spec_id,
                schema_id=t.meta.current_schema_id,
                record_count=1,
                file_size_bytes=10,
                stats={},
            )
        ],
    )
    assert calls == [], "append commit decoded manifest entries driver-side"
    # summary stays on the live basis
    assert t.meta.current_snapshot.summary["total-data-files"] == "9"


def test_replace_commit_decodes_only_hit_manifests(spark, tmp_path, monkeypatch):
    """r9 verdict item 5: past ``commit.hit-search.threshold`` the
    replace-commit hit search (DELETE/UPDATE/MERGE) maps replaced paths
    to their containing manifests IN SPARK and the driver decodes only
    the HIT manifests — commit cost O(hit manifests), not O(table
    entries).  Pinned: a replace commit touching one manifest of eight
    decodes exactly that manifest; table contents stay correct."""
    from pyspark.sql import Row

    from icepack.table import IceTable

    df = spark.createDataFrame([Row(id=i, v=float(i)) for i in range(32)])
    t = IceTable.create(
        spark,
        str(tmp_path / "rh"),
        df.schema,
        # force the distributed hit search at fixture scale
        properties={"commit.hit-search.threshold": "1"},
    )
    for lo in range(0, 32, 4):  # 8 single-manifest appends
        t.append(df.filter(f"id >= {lo} AND id < {lo + 4}"))
    assert len(t.meta.snapshots) == 8
    victim = t.live_files()[3]  # one data file, in exactly one manifest

    calls = []
    orig = IceTable._read_mentries

    def counting(self, name):
        calls.append(name)
        return orig(self, name)

    monkeypatch.setattr(IceTable, "_read_mentries", counting)
    t._commit_snapshot("delete", [], replaced_paths={victim.path})
    monkeypatch.setattr(IceTable, "_read_mentries", orig)
    assert len(set(calls)) == 1, f"decoded {sorted(set(calls))}"
    assert t.toDF().count() == 32 - victim.record_count
    assert t.meta.current_snapshot.summary["total-data-files"] == "7"
    # and below the threshold the driver walk still works identically
    t.set_properties(**{"commit.hit-search.threshold": "131072"})
    v2 = t.live_files()[0]
    t._commit_snapshot("delete", [], replaced_paths={v2.path})
    assert t.toDF().count() == 32 - victim.record_count - v2.record_count


def test_metadata_only_handle_without_spark(spark, tmp_path):
    """r13: the Python Data Source plan/commit runner processes load
    tables with spark=None (building a session there launched a fresh
    local JVM per streaming run — measured +4 JVMs / ~26 s).  Every
    metadata operation those runners perform must work on a
    session-less handle, and the distributed-planner gates must all
    answer False rather than touching the missing session."""
    from icepack.io import load as load_fixture
    from tests.conftest import SF_DIR

    df = load_fixture(spark, SF_DIR, "orders").limit(64)
    loc = str(tmp_path / "nospark")
    t = IceTable.create(spark, loc, df.schema)
    t.append(df)

    h = IceTable.load(None, loc)
    assert h.spark is None
    assert h.meta.current_snapshot is not None
    files = h.live_files(content="all")
    assert files and all(f.content == "data" for f in files)
    snap = h.meta.current_snapshot
    assert h._use_distributed_planner(snap) is False
    assert h._distributed_by_entries(10**9, "x", 1) is False
    assert h._distributed_maintenance(10**9) is False
    # a metadata-only commit (what the sink commit runner does)
    before = len(h.meta.snapshots)
    h._commit_snapshot("append", [])
    assert len(h.meta.snapshots) == before + 1


def test_type_from_str_pure_python_parser():
    """r13: schema resolution must not need a SparkContext — the
    simpleString spellings type_to_str emits (bigint, decimal(p,s),
    nested array/map/struct) parse in pure Python, byte-identical to
    Spark's own parser (the runner processes have no JVM; the old
    fallback silently booted one per 'bigint' column)."""
    from pyspark.sql import types as T

    from icepack.metadata import type_from_str, type_to_str

    cases = [
        "bigint",
        "smallint",
        "tinyint",
        "decimal(12,2)",
        "array<float>",
        "array<array<int>>",
        "map<string,bigint>",
        "struct<a:int,b:array<double>,c:struct<x:string,y:decimal(10,0)>>",
        "map<struct<k:int>,array<string>>",
    ]
    for c in cases:
        t = type_from_str(c)
        assert t == T._parse_datatype_string(c), c
        assert type_from_str(type_to_str(t)) == t, c


def test_predicted_scan_spelling(spark, tmp_path):
    """Pin the _metadata.file_path spelling predictor against Spark
    itself: every safe-alphabet path predicts EXACTLY the URI the scan
    emits (a wrong prediction would silently resurrect MOR-deleted
    rows); every character that Hadoop percent-encodes declines."""
    from icepack.iceberg_import import canonical_file_path, predicted_scan_spelling

    safe_dirs = ["plain", "k=2024-01-01", "a.b-c_d", "x+y", "p(1),q;r@s~t'u&v"]
    for name in safe_dirs:
        d = str(tmp_path / name)
        spark.range(1).coalesce(1).write.parquet(d)
        got = spark.read.parquet(d).select("_metadata.file_path").first()[0]
        part = got.rsplit("/", 1)[-1]
        pred = predicted_scan_spelling(os.path.join(d, part))
        assert pred == got, (name, pred, got)
        # canonical form of the prediction is the raw path again
        assert canonical_file_path(pred) == os.path.join(d, part)
    # characters Spark encodes (space, %, #) and risky forms decline
    for bad in ["/a b/c", "/a%41/c", "/a#1/c", "/a//b", "rel/path",
                "s3://bucket/key", "file:/already/uri", "/uni/é.parquet"]:
        assert predicted_scan_spelling(bad) is None, bad
    # more explicit paths than the parallel-listing threshold (32), read
    # through the engine's reader: statuses listed on the driver must
    # spell each path exactly as the listing job's statuses do
    from icepack.io import read_files

    paths = []
    for name in safe_dirs:
        d = str(tmp_path / "wide" / name)
        spark.range(64).repartition(8).write.parquet(d)
        paths += sorted(glob.glob(os.path.join(d, "part-*.parquet")))
    assert len(paths) > 32
    got = {
        r[0] for r in read_files(spark, paths).select("_metadata.file_path").collect()
    }
    assert got == {predicted_scan_spelling(p) for p in paths}


def test_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    """r13 verdict item 1: the fixture schema memo keys on (path,
    mtime_ns, size), so a path REWRITTEN in-process with a different
    schema re-infers instead of serving nulls through a stale schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import icepack.io as io

    d = str(tmp_path)
    p = os.path.join(d, "part.parquet")
    pq.write_table(pa.table({"p_partkey": [0, 1, 2]}), p)
    first = io.load(spark, d, "part")
    assert first.columns == ["p_partkey"]
    assert any(k[0] == p for k in io._SCHEMA_MEMO)
    # rewrite the same path with a DIFFERENT schema (bump mtime to be
    # robust against same-second writes on coarse filesystems)
    pq.write_table(
        pa.table({"p_partkey": [0, 1, 2], "p_name": ["0", "1", "2"]}), p
    )
    os.utime(p, ns=(1, 1))
    second = io.load(spark, d, "part")
    assert second.columns == ["p_partkey", "p_name"]
    assert second.filter("p_name IS NULL").count() == 0


def test_schema_memo_skips_directory_layouts(spark, tmp_path):
    """A directory's mtime does not move when a file inside it is
    rewritten in place, so directory-style parquet is never memoized:
    the rewritten file's schema is read, not the first one."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import icepack.io as io

    d = str(tmp_path)
    p = os.path.join(d, "part.parquet")
    os.mkdir(p)
    part = os.path.join(p, "part-0.parquet")
    pq.write_table(pa.table({"p_partkey": [0, 1, 2]}), part)
    stamp = os.stat(p).st_mtime_ns
    assert io.load(spark, d, "part").columns == ["p_partkey"]
    assert not any(k[0] == p for k in io._SCHEMA_MEMO)
    pq.write_table(
        pa.table({"p_partkey": [0, 1, 2], "p_name": ["0", "1", "2"]}), part
    )
    assert os.stat(p).st_mtime_ns == stamp  # in-place rewrite
    second = io.load(spark, d, "part")
    assert second.columns == ["p_partkey", "p_name"]
    assert second.filter("p_name IS NULL").count() == 0


def test_entry_queries_repin_confs(spark):
    """__spark_entry__ query callables re-pin runtime confs even after
    an external harness mutates one mid-session (ensure_confs is
    otherwise one-shot per session)."""
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from icepack.session import RUNTIME_CONFS, ensure_confs

    ensure_confs(spark)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    qs = entrymod.queries()
    df = qs["a1_groupby_count"](spark, "/root/testdata/sf0.001")
    assert (
        spark.conf.get("spark.sql.session.timeZone")
        == RUNTIME_CONFS["spark.sql.session.timeZone"]
    )
    assert df.count() > 0
