"""Read SPEC-FORMAT Apache Iceberg v2 tables (the reverse of
:mod:`icepack.iceberg_export`): given a ``vN.metadata.json`` (or a
table directory with a ``version-hint.text``), resolve the requested
snapshot through its Avro manifest list/manifests with the generic
:mod:`icepack.avroenc` decoder and return the data as a DataFrame —
so icepack can consume tables written by ANY Iceberg engine
(docs/11-multi-engine-compatibility.md:31-42: interop is
bidirectional; the export covers our→them, this covers them→us).

``import_iceberg_files`` additionally ADOPTS an external table's live
parquet files into an icepack table via ``IceTable.add_files``
(metadata-only commit, footer stats harvested) — the docs/11 migration
path without copying data.

Semantics:
- v2 DELETE manifests (``content`` = 1) are APPLIED with the spec's
  sequence rules — position deletes mask ``data_seq <= delete_seq``,
  equality deletes ``data_seq < delete_seq`` with null-safe key
  equality; unknown delete content codes refuse loudly.
- column resolution follows the Iceberg reader rules for files without
  embedded field ids: current name first, then the table's
  ``schema.name-mapping.default`` historical names — so parquet
  written before a rename still resolves to the current column
  (see ``_read_with_name_mapping``); absent columns null-fill and
  widened types cast.
"""

from __future__ import annotations

import glob
import json
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .avroenc import read_container
from .io import read_files


def canonical_file_path(p: str) -> str:
    """ONE canonicalizer for every path comparison in this module —
    both sides of a join go through it, so URI-spelling drift cannot
    silently drop files (the old approach enumerated expected
    spellings of the manifest path; a foreign table whose manifests
    store ``file:/...`` or ``s3a://...`` URIs matched none of them).

    Rules: raw paths (no scheme) pass through untouched — a raw path
    with a literal ``%`` must not percent-decode.  ``file:`` URIs drop
    the scheme, collapse leading slashes, and percent-decode.  Object
    store / HDFS URIs keep ``scheme://`` (s3a/s3n unify to s3 — same
    bucket namespace, different Hadoop connectors) and percent-decode
    the authority+key."""
    import re
    from urllib.parse import unquote

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.\-]*):(.*)$", p)
    if not m:
        return p
    scheme, rest = m.group(1).lower(), m.group(2)
    if scheme == "file":
        return unquote("/" + rest.lstrip("/"))
    if scheme in ("s3a", "s3n"):
        scheme = "s3"
    return scheme + "://" + unquote(rest.lstrip("/"))


#: Characters Spark/Hadoop pass through UNENCODED when spelling a local
#: path as the ``_metadata.file_path`` URI (probed on Spark 4.1, pinned
#: by tests/test_table.py::test_predicted_scan_spelling).  Anything
#: outside (space, %, #, ?, unicode, ...) may be percent-encoded, so
#: prediction declines and the caller discovers spellings with a
#: metadata-column distinct instead.
_URI_SAFE = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "/._-=+,&;@~()'"
)


def predicted_scan_spelling(path: str) -> str | None:
    """The ``_metadata.file_path`` URI Spark will emit for a local raw
    path, when statically predictable: ``file:`` + the path verbatim.

    Scans that anti-join delete structures on the ``_file`` column need
    the scan-side spelling of each data file; running a distinct over
    ``_file`` costs one Spark job per scan construction (guide §1.2 —
    driver/latency work repeated per query).  Engine-written paths
    (tempdir + uuid hex + Spark part-file names) are URI-trivial, so
    the spelling is a pure function of the manifest path.  Returns
    None — caller falls back to the distinct job — for any path with
    characters Hadoop might encode, a scheme prefix, doubled slashes
    (Path normalization), or a relative form."""
    if not path.startswith("/") or "//" in path:
        return None
    if not all(c in _URI_SAFE for c in path):
        return None
    return "file:" + path


def _spark_type(t) -> T.DataType:
    """Iceberg schema-JSON type → Spark DataType (reverse of the
    export's `_iceberg_type`)."""
    if isinstance(t, str):
        prim = {
            "boolean": T.BooleanType(),
            "int": T.IntegerType(),
            "long": T.LongType(),
            "float": T.FloatType(),
            "double": T.DoubleType(),
            "date": T.DateType(),
            "time": T.LongType(),  # micros since midnight (io-compatible)
            "timestamp": T.TimestampNTZType(),
            "timestamptz": T.TimestampType(),
            "string": T.StringType(),
            "uuid": T.StringType(),
            "binary": T.BinaryType(),
        }
        if t in prim:
            return prim[t]
        if t.startswith("decimal("):
            p, s = t[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed["):
            return T.BinaryType()
        raise ValueError(f"unknown iceberg type {t!r}")
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(f["name"], _spark_type(f["type"]), not f["required"])
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(_spark_type(t["element"]), not t.get("element-required"))
    if kind == "map":
        return T.MapType(
            _spark_type(t["key"]),
            _spark_type(t["value"]),
            not t.get("value-required"),
        )
    raise ValueError(f"unknown iceberg type {t!r}")


def _current_schema_json(md: dict) -> dict:
    """The current schema's JSON — v2 keeps a ``schemas`` list keyed by
    ``current-schema-id``; v1 tables may carry only the singular
    ``schema`` field (both are read: foreign v1 tables must open)."""
    if "schemas" in md:
        cid = md.get("current-schema-id")
        return next(
            s for s in md["schemas"] if cid is None or s.get("schema-id") == cid
        )
    return md["schema"]


def _resolve_metadata(path: str) -> str:
    """Accept a metadata.json path, a metadata dir, or a table dir with
    the HadoopCatalog version-hint convention."""
    if path.endswith(".json"):
        return path
    for base in (path, os.path.join(path, "metadata")):
        hint = os.path.join(base, "version-hint.text")
        if os.path.exists(hint):
            v = open(hint).read().strip()
            return os.path.join(base, f"v{v}.metadata.json")
    # no hint (lost, or a tree written without the HadoopCatalog
    # convention): fall back to the highest surviving version file
    for base in (path, os.path.join(path, "metadata")):
        vs = []
        for p in glob.glob(os.path.join(base, "v*.metadata.json")):
            m = re.search(r"v(\d+)\.metadata\.json$", p)
            if m:
                vs.append((int(m.group(1)), p))
        if vs:
            return max(vs)[1]
    raise FileNotFoundError(f"no iceberg metadata at {path}")


def load_iceberg_metadata(path: str) -> dict:
    with open(_resolve_metadata(path)) as fh:
        return json.loads(fh.read())


def _snapshot_entries(md: dict, snapshot_id: int | None = None):
    """Walk manifest list → manifests; returns (data, deletes) lists of
    raw ``data_file`` records, each annotated with ``_seq`` (the
    entry's sequence number, inheriting the manifest's when the entry
    leaves it null — the v2 inheritance rule)."""
    sid = snapshot_id if snapshot_id is not None else md.get("current-snapshot-id")
    if sid in (None, -1):
        return [], []
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    with open(snap["manifest-list"], "rb") as fh:
        _, mlist = read_container(fh.read())
    data, deletes = [], []
    for m in mlist:
        with open(m["manifest_path"], "rb") as fh:
            _, entries = read_container(fh.read())
        # v3 row-id inheritance (public spec "Row Lineage"): data
        # entries without an explicit first_row_id take the manifest's
        # field-520 assignment plus the record counts of PRECEDING
        # null-id data entries, in manifest order (deleted entries
        # consumed their slot at write time, so they advance it too)
        running = m.get("first_row_id") if m.get("content", 0) == 0 else None
        for e in entries:
            dfr = e["data_file"]
            if (
                running is not None
                and dfr.get("content", 0) == 0
                and dfr.get("first_row_id") is None
            ):
                dfr["first_row_id"] = running
                running += dfr.get("record_count", 0) or 0
            if e["status"] == 2:  # deleted
                continue
            seq = e.get("sequence_number")
            rec = dict(e["data_file"])
            # foreign manifests may spell paths as file: URIs — decode
            # to an OPENABLE local path here (Hadoop/pyarrow treat %20
            # literally); non-file schemes keep their connector
            # spelling, the delete-mask join canonicalizes separately
            p = rec.get("file_path", "")
            if p.startswith("file:"):
                rec["file_path"] = canonical_file_path(p)
            rec["_seq"] = seq if seq is not None else m.get("sequence_number", 0)
            rec["_spec_id"] = m.get("partition_spec_id")
            if m.get("content", 0) != 0 or rec.get("content", 0) != 0:
                deletes.append(rec)
            else:
                data.append(rec)
    return data, deletes


def iceberg_live_files(md: dict, snapshot_id: int | None = None) -> list[dict]:
    """Live DATA-file entries of a snapshot.  Raises when the snapshot
    carries merge-on-read delete files — the bare file list would
    resurrect deleted rows; use :func:`read_iceberg` (which applies
    them) or compact in the source engine."""
    data, deletes = _snapshot_entries(md, snapshot_id)
    if deletes:
        raise ValueError(
            "snapshot holds DELETE files; the bare data-file list would "
            "resurrect deleted rows — read through read_iceberg (applies "
            "them) or compact the source table first"
        )
    return data


def iceberg_schema(md: dict) -> T.StructType:
    cur = _current_schema_json(md)
    return T.StructType(
        [
            T.StructField(f["name"], _spark_type(f["type"]), not f["required"])
            for f in cur["fields"]
        ]
    )


def _decode_bound(type_json, raw: bytes):
    """Reverse of the export's single-value serialization (spec
    Appendix D) for the stats types we prune on."""
    import struct

    if not isinstance(type_json, str) or raw is None:
        return None
    try:
        if type_json == "int":
            return struct.unpack("<i", raw)[0]
        if type_json == "long":
            return struct.unpack("<q", raw)[0]
        if type_json == "float":
            return struct.unpack("<f", raw)[0]
        if type_json == "double":
            return struct.unpack("<d", raw)[0]
        if type_json == "boolean":
            return raw == b"\x01"
        if type_json == "date":
            import datetime as _dt

            return (_dt.date(1970, 1, 1) + _dt.timedelta(days=struct.unpack("<i", raw)[0])).isoformat()
        if type_json in ("timestamp", "timestamptz"):
            import datetime as _dt

            micros = struct.unpack("<q", raw)[0]
            return (_dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=micros)).isoformat()
        if type_json == "string":
            return raw.decode("utf-8")
        if type_json.startswith("decimal("):
            # spec Appendix D: unscaled value, big-endian two's-complement
            import decimal as _decmod
            import re as _re

            m = _re.match(r"^decimal\(\s*\d+\s*,\s*(\d+)\s*\)$", type_json)
            if m and raw:
                u = int.from_bytes(raw, "big", signed=True)
                return _decmod.Decimal(u).scaleb(-int(m.group(1)))
    except (ValueError, struct.error):
        return None
    return None


def _lexical_partition_tuple(spec_fields: list, partition: dict) -> dict:
    """Exported partition values use the spec's numeric encodings;
    icepack's predicate projection compares lexical ones (transforms.py:
    year→int calendar year, month→"yyyy-MM", day→"yyyy-MM-dd",
    hour→"yyyy-MM-dd-HH") — convert back per field transform."""
    import datetime as _dt

    out = dict(partition)
    for pf in spec_fields:
        name, tr = pf["name"], pf["transform"]
        v = partition.get(name)
        if (
            isinstance(v, bytes)
            and tr.startswith("truncate[")
        ):
            # decimal truncate: avro decimal bytes = the truncated
            # UNSCALED value, big-endian two's-complement — exactly the
            # long domain icepack's projection produces (transforms.py)
            out[name] = int.from_bytes(v, "big", signed=True) if v else None
            continue
        if v is None or not isinstance(v, int):
            continue
        if tr == "year":
            out[name] = 1970 + v
        elif tr == "month":
            out[name] = f"{1970 + v // 12:04d}-{v % 12 + 1:02d}"
        elif tr == "day":
            out[name] = (_dt.date(1970, 1, 1) + _dt.timedelta(days=v)).isoformat()
        elif tr == "hour":
            d = _dt.datetime(1970, 1, 1) + _dt.timedelta(hours=v)
            out[name] = d.strftime("%Y-%m-%d-%H")
    return out


_COMPACT_TYPE = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
    "string": "string",
    "binary": "binary",
}


def _prune_files(md: dict, data: list, where) -> list:
    """Skip data files whose decoded lower/upper bounds OR partition
    tuple PROVE no row matches *where* (an icepack Expr) — the
    manifest-level pruning an external engine would run on the same
    metadata.  The partition check reuses the engine's own predicate
    projection (spec ``bucket[N]`` is murmur3 = our ``mmh3bucket[N]``,
    so point lookups skip other buckets; lexically-encoded transforms
    compare incomparably and conservatively keep).  Files without
    usable bounds are kept."""
    from .expr import partition_tuple_matches, project_to_partition
    from .metadata import IceSchema, NestedField, PartitionField, PartitionSpec

    cur = _current_schema_json(md)
    by_id = {f["id"]: f for f in cur["fields"]}
    schema = IceSchema(
        cur["schema-id"],
        [
            NestedField(
                f["id"],
                f["name"],
                _COMPACT_TYPE.get(
                    f["type"],
                    # decimal keeps its real type: projection needs the
                    # DecimalType scale to map literals onto the
                    # truncate transform's unscaled-long value domain
                    f["type"] if f["type"].startswith("decimal(") else "string",
                )
                if isinstance(f["type"], str)
                else "string",
                f.get("required", False),
            )
            for f in cur["fields"]
        ],
    )
    pexpr_by_spec: dict = {}
    for sp in md.get("partition-specs", []):
        fields = []
        for pf in sp["fields"]:
            tr = pf["transform"]
            if tr.startswith("bucket["):
                tr = "mmh3bucket[" + tr[len("bucket[") :]
            if tr == "void":
                continue  # produces nothing prunable
            try:
                fields.append(
                    PartitionField(pf["source-id"], pf["field-id"], tr, pf["name"])
                )
            except Exception:  # noqa: BLE001 — unknown foreign transform: skip
                continue
        spec = PartitionSpec(sp["spec-id"], fields)
        try:
            pexpr_by_spec[sp["spec-id"]] = project_to_partition(where, spec, schema)
        except Exception:  # noqa: BLE001 — unprojectable: no partition pruning
            pexpr_by_spec[sp["spec-id"]] = None
    spec_fields_by_id = {
        sp["spec-id"]: sp["fields"] for sp in md.get("partition-specs", [])
    }
    out = []
    for f in data:
        pexpr = pexpr_by_spec.get(f.get("_spec_id"))
        if pexpr is not None and isinstance(f.get("partition"), dict):
            # exported time-transform values are SPEC-NUMERIC (years/
            # months/days/hours since epoch); the engine's projection
            # produces LEXICAL values — convert the tuple back before
            # matching, else every file of a year-partitioned table
            # fails the comparison and is silently dropped (ice48
            # caught exactly that)
            tup = _lexical_partition_tuple(
                spec_fields_by_id.get(f.get("_spec_id"), []), f["partition"]
            )
            if not partition_tuple_matches(pexpr, tup):
                continue
        lowers = {kv["key"]: kv["value"] for kv in (f.get("lower_bounds") or [])}
        uppers = {kv["key"]: kv["value"] for kv in (f.get("upper_bounds") or [])}
        nulls = {kv["key"]: kv["value"] for kv in (f.get("null_value_counts") or [])}
        stats = {}
        for fid, fld in by_id.items():
            lo = _decode_bound(fld["type"], lowers.get(fid))
            hi = _decode_bound(fld["type"], uppers.get(fid))
            if lo is None and hi is None and fid not in nulls:
                continue
            stats[fld["name"]] = {"min": lo, "max": hi, "nulls": nulls.get(fid)}
        if where.may_match_file(stats, f.get("record_count", 0)):
            out.append(f)
    return out


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    where=None,
    row_lineage: bool = False,
) -> DataFrame:
    """Spec-format Iceberg table → DataFrame at the requested (default
    current) snapshot.  Time travel = any snapshot id present in the
    metadata's snapshots list.  Merge-on-read delete files (v2
    content=1 manifests) are APPLIED with the spec's sequence rules:
    position deletes mask (file_path, pos) rows of data files with
    ``data_seq <= delete_seq``; equality deletes mask key-matching
    rows of data files with ``data_seq < delete_seq``.

    *where* (an :mod:`icepack.expr` Expr) additionally PRUNES files
    whose exported bounds prove no match AND applies the predicate
    row-level — at scale an external read must skip files from the
    manifests exactly like a native scan, not open every footer.

    ``row_lineage=True`` (v3 trees) appends ``_row_id`` /
    ``_last_updated_sequence_number`` resolved exactly like the native
    ``toDF(row_lineage=True)``: materialized per-row columns win, else
    the entry's first_row_id (explicit, or inherited from the
    manifest-list field-520 assignment) + row position / the file's
    data sequence number — so an exported tree serves the SAME ids the
    source table does."""
    from pyspark.sql import functions as F

    md = load_iceberg_metadata(path)
    schema = iceberg_schema(md)
    if row_lineage:
        # mirror the native toDF(row_lineage=True) guards (ADVICE r12):
        # a v2 tree has no field-520 assignments — silently serving
        # all-NULL lineage would read as "no updates ever"; and a
        # schema that shadows the RESERVED column names would come back
        # duplicated from the name-mapping plan
        if int(md.get("format-version", 1)) < 3:
            raise ValueError(
                "row_lineage requires an Iceberg format-version 3 tree "
                "(row ids are assigned by v3 manifest-list commits); "
                f"this metadata declares format-version {md.get('format-version', 1)}"
            )
        clash = set(schema.fieldNames()) & {
            "_row_id",
            "_last_updated_sequence_number",
        }
        if clash:
            raise ValueError(
                f"table columns {sorted(clash)} shadow the reserved "
                "Iceberg v3 lineage metadata columns — rename them "
                "before reading with row_lineage=True"
            )
    data, deletes = _snapshot_entries(md, snapshot_id)
    if where is not None:
        data = _prune_files(md, data, where)
    bad = [r for r in deletes if r.get("content", 0) not in (1, 2)]
    if bad:
        raise ValueError(
            "delete manifest entries carry unknown content codes "
            f"{sorted({r.get('content', 0) for r in bad})} — refusing "
            "rather than guessing which rows they mask"
        )
    if not data:
        return spark.createDataFrame([], schema)
    df = _read_with_name_mapping(
        spark, md, schema, data,
        with_identity=bool(deletes) or row_lineage,
        lineage=row_lineage,
    )
    if where is not None:
        df = df.filter(where.to_column())  # pruning is a superset
    if not deletes and not row_lineage:
        return df
    # per-file sequence for the masks.  Spark reports
    # _metadata.file_path as a percent-ENCODED URI; manifests may store
    # raw paths OR any URI spelling — BOTH sides pass through the one
    # canonical_file_path (same lesson as the DML hit-scan: never
    # string-match a URI against a raw path).  r13: the data side's
    # spellings canonicalize via a DISTINCT-collect (O(files) strings,
    # column-pruned) + broadcast substitution map rather than a per-row
    # pandas UDF — the ArrowEvalPython stage sat on the scan hot path
    # of every foreign read, and both sides now run the SAME driver
    # Python function, so they still cannot drift.
    from .session import local_df

    rows, seen = [], {}
    for f in data:
        c = canonical_file_path(f["file_path"])
        if c in seen and seen[c] != f["file_path"]:
            raise ValueError(
                f"two data files canonicalize to the same path {c!r} "
                f"({seen[c]!r} vs {f['file_path']!r}) — delete masks "
                "would cross-apply; refusing"
            )
        seen[c] = f["file_path"]
        rows.append((c, f["_seq"], f.get("first_row_id")))
    seqdf = local_df(spark, rows, "_f string, _dataseq long, _frid long")
    sps = [r[0] for r in df.select("_furi").distinct().collect()]
    smap = local_df(
        spark, [(s, canonical_file_path(s)) for s in sps], "_furi string, _f string"
    )
    df = (
        df.join(F.broadcast(smap), "_furi", "inner")
        .drop("_furi")
        .join(F.broadcast(seqdf), "_f", "inner")
    )
    if row_lineage:
        df = df.withColumn(
            "_row_id", F.coalesce(F.col("_row_id"), F.col("_frid") + F.col("_p"))
        ).withColumn(
            "_last_updated_sequence_number",
            F.coalesce(
                F.col("_last_updated_sequence_number"), F.col("_dataseq")
            ),
        )
    id_to_name = {f.fid: f.name for f in _schema_field_ids(md)}
    for rec in deletes:
        content = rec.get("content", 0)
        if content == 1:  # position deletes (parquet rows or v3 DVs)
            if _is_dv_rec(rec):
                # v3 deletion vector: the entry points at a Puffin blob,
                # not a parquet file — pq.read_table on it would die
                # with an opaque ArrowInvalid.  Decode the roaring
                # bitmap (public Iceberg v3 spec framing) into the same
                # (file, pos) mask shape.
                ref, positions = _read_foreign_dv(rec)
                dels = local_df(
                    spark, [(ref, int(p)) for p in positions], "df_ string, dp_ long"
                ).withColumn("sq_", F.lit(rec["_seq"]))
            else:
                raw_dels = spark.read.parquet(rec["file_path"]).select(
                    "file_path", "pos"
                )
                dsp = [
                    r[0] for r in raw_dels.select("file_path").distinct().collect()
                ]
                dmap = local_df(
                    spark,
                    [(s, canonical_file_path(s)) for s in dsp],
                    "file_path string, df_ string",
                )
                dels = (
                    raw_dels.join(F.broadcast(dmap), "file_path")
                    .select("df_", F.col("pos").alias("dp_"))
                    .withColumn("sq_", F.lit(rec["_seq"]))
                )
            df = df.join(
                F.broadcast(dels),
                (df["_f"] == dels["df_"])
                & (df["_p"] == dels["dp_"])
                & (df["_dataseq"] <= dels["sq_"]),
                "left_anti",
            )
        elif content == 2:  # equality deletes
            eq_ids = rec.get("equality_ids") or []
            import pyarrow.parquet as pq

            file_cols = set(pq.read_schema(rec["file_path"]).names)
            cols = []
            for fid in eq_ids:
                name = _resolve_delete_column(md, fid, file_cols, id_to_name)
                cols.append((name, id_to_name.get(fid, name)))
            dels = spark.read.parquet(rec["file_path"]).select(
                *[F.col(src).alias(f"_d_{cur}") for src, cur in cols]
            )
            cond = F.lit(True)
            for _, cur in cols:
                cond = cond & F.col(cur).eqNullSafe(F.col(f"_d_{cur}"))
            cond = cond & (F.col("_dataseq") < F.lit(rec["_seq"]))
            df = df.join(F.broadcast(dels), cond, "left_anti")
        else:
            raise ValueError(f"unknown delete content code {content}")
    return df.drop("_f", "_p", "_dataseq", "_frid")


def _read_with_name_mapping(
    spark, md, schema, data, with_identity: bool, lineage: bool = False
):
    """Read the data files shaped to the CURRENT schema, resolving each
    file's columns like an Iceberg reader: current name first, then
    the name mapping's historical names (files written before a rename
    store the old name; a plain name-based read would null-fill them —
    the grid round-trip test caught exactly that).  Files group by
    their resolution plan so each group is one scan; absent columns
    null-fill, widened types cast.  ``with_identity`` additionally
    keeps ``_furi``/``_p`` for delete-mask application.

    Scale note: one parquet-footer read per data file on the driver —
    the planning cost every external-table reader pays; at warehouse
    scale this distributes the same way scanplan.py does for native
    planning."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    cur = _current_schema_json(md)
    nm = {}
    raw_nm = md.get("properties", {}).get("schema.name-mapping.default")
    if raw_nm:
        for e in json.loads(raw_nm):
            nm[e["field-id"]] = e["names"]
    groups: dict = {}
    for f in data:
        fsch = pq.read_schema(f["file_path"])
        names = {fld.name: str(fld.type) for fld in fsch}
        plan = []
        for fld in cur["fields"]:
            src = None
            if fld["name"] in names:
                src = fld["name"]
            else:
                for n in nm.get(fld["id"], []):
                    if n in names:
                        src = n
                        break
            # the file's PHYSICAL type joins the group key: files from
            # before a type widening (int32) must not share a scan with
            # post-widening files (int64) — Spark samples one schema per
            # read and would misread the other group
            plan.append((src, fld["name"], names.get(src)))
        if lineage:
            # materialized v3 lineage columns (written by
            # lineage-preserving rewrites): select when physically
            # present, null-fill otherwise — presence joins the group
            # key so mixed layouts never share a scan
            for lc in ("_row_id", "_last_updated_sequence_number"):
                plan.append((lc if lc in names else None, lc, "__lineage__"))
        groups.setdefault(tuple(plan), []).append(f["file_path"])
    parts = []
    spark_fields = {sf.name: sf.dataType for sf in schema.fields}
    # repr-keyed sort: plan tuples mix None and str at the src slot
    # (e.g. lineage-present vs lineage-absent file groups), which plain
    # tuple comparison cannot order
    for plan, paths in sorted(groups.items(), key=lambda kv: repr(kv[0])):
        raw = read_files(spark, paths)
        cols = []
        for src, cur_name, _ftype in plan:
            if _ftype == "__lineage__":
                cols.append(
                    F.col(src).cast("long").alias(cur_name)
                    if src is not None
                    else F.lit(None).cast("long").alias(cur_name)
                )
            elif src is not None:
                cols.append(F.col(src).cast(spark_fields[cur_name]).alias(cur_name))
            else:
                cols.append(F.lit(None).cast(spark_fields[cur_name]).alias(cur_name))
        if with_identity:
            cols += [
                F.col("_metadata.file_path").alias("_furi"),
                F.col("_metadata.row_index").alias("_p"),
            ]
        parts.append(raw.select(*cols))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


class _IdName:
    __slots__ = ("fid", "name")

    def __init__(self, fid, name):
        self.fid, self.name = fid, name


def _schema_field_ids(md: dict) -> list:
    cur = _current_schema_json(md)
    return [_IdName(f["id"], f["name"]) for f in cur["fields"]]


def _resolve_delete_column(md, fid, file_cols, id_to_name) -> str:
    """The NAME a delete file stores for field id *fid*: try the
    current name, then every historical name from the name mapping."""
    cur = id_to_name.get(fid)
    if cur in file_cols:
        return cur
    nm = md.get("properties", {}).get("schema.name-mapping.default")
    if nm:
        for e in json.loads(nm):
            if e["field-id"] == fid:
                for n in e["names"]:
                    if n in file_cols:
                        return n
    raise ValueError(
        f"equality-delete file lacks any known name for field id {fid}"
    )


def import_iceberg_files(spark: SparkSession, table, path: str) -> None:
    """Adopt an external Iceberg table's CURRENT live files into the
    icepack *table* (metadata-only for data files; footer stats
    harvested so pruning works immediately).  The icepack table must
    be unpartitioned (add_files' contract — no derivable partition
    tuple) and schema-compatible by name.

    MERGE-ON-READ tables adopt too (docs/11:91-110 — an external
    engine's MOR table becomes fully native, not just readable):
    external sequence groups replay as native commits in the spec's
    visibility order — equality deletes of sequence S (mask data_seq
    < S), then data of S, then position deletes of S (mask data_seq
    ≤ S) — so the native strict data_seq < delete_seq grouping
    reproduces the external masks exactly.  Equality-delete parquet
    adopts in place; position-delete parquet is REWRITTEN (delete
    files are KB-scale) because the native mask joins on Spark's
    ``_metadata.file_path`` spelling, which is recorded from the
    adopted files themselves rather than predicted."""
    md = load_iceberg_metadata(path)
    data, deletes = _snapshot_entries(md)
    if not deletes:
        if data:
            table.add_files([f["file_path"] for f in data])
        return
    bad = [r for r in deletes if r.get("content", 0) not in (1, 2)]
    if bad:
        raise ValueError(
            "delete manifest entries carry unknown content codes "
            f"{sorted({r.get('content', 0) for r in bad})} — refusing to adopt"
        )
    _adopt_mor(spark, table, md, data, deletes)


def _adopt_mor(spark: SparkSession, table, md: dict, data: list, deletes: list) -> None:
    from pyspark.sql import functions as F

    id_to_name = {f.fid: f.name for f in _schema_field_ids(md)}
    seqs = sorted({r["_seq"] for r in data} | {r["_seq"] for r in deletes})
    if any(r.get("content") == 1 for r in deletes):
        # adopted position deletes keep CANONICAL raw paths (no per-
        # file driver collect of Spark URI spellings — VERDICT r6 item
        # 7); this property makes every native read canonicalize BOTH
        # sides of the delete join (same Arrow-batched canonicalizer
        # the spec-primary path uses), so spelling drift can't
        # resurrect rows no matter how many files are adopted
        table.set_properties(**{"read.canonicalize-delete-file-paths": "true"})
    adopted: set[str] = set()  # canonical paths of adopted data files
    for s in seqs:
        eq = [r for r in deletes if r["_seq"] == s and r.get("content") == 2]
        dat = [r for r in data if r["_seq"] == s]
        pos = [r for r in deletes if r["_seq"] == s and r.get("content") == 1]
        if eq:
            table._commit_snapshot(
                "delete", [_adopt_eq_delete(table, r, md, id_to_name) for r in eq]
            )
        if dat:
            entries = table._adoption_entries([r["file_path"] for r in dat])
            if entries:
                table._commit_snapshot("append", entries)
                adopted.update(canonical_file_path(e.path) for e in entries)
        if pos:
            entries = [
                e
                for r in pos
                if (
                    e := (
                        _adopt_dv(table, r, adopted)
                        if _is_dv_rec(r)
                        else _adopt_pos_delete(table, r, adopted)
                    )
                )
                is not None
            ]
            if entries:
                table._commit_snapshot("delete", entries)


def _is_dv_rec(rec: dict) -> bool:
    """True for an Iceberg v3 deletion-vector manifest entry: spelled
    as delete content with ``file_format = PUFFIN`` and/or a located
    blob (``content_offset``).  ``referenced_data_file`` alone is NOT
    sufficient: v2 file-scoped position-delete PARQUET files legally
    populate it while content_offset/content_size stay null (newer
    writers use it as a pruning hint) — those must route to the
    parquet position-delete path, not the Puffin blob reader."""
    return (
        str(rec.get("file_format", "")).lower() == "puffin"
        or rec.get("content_offset") is not None
    )


def _read_foreign_dv(rec: dict) -> tuple[str, list[int]]:
    """(canonical referenced data file, sorted positions) from one
    foreign v3 DV entry — the blob framing is the public spec shape
    roaring.read_dv_blob decodes (length + magic + serialized 64-bit
    roaring bitmap + CRC)."""
    from .roaring import read_dv_blob

    ref = rec.get("referenced_data_file")
    off = rec.get("content_offset")
    ln = rec.get("content_size_in_bytes")
    if ref is None or off is None or ln is None:
        raise ValueError(
            f"v3 deletion-vector entry {rec.get('file_path')!r} lacks "
            "referenced-data-file/content-offset/content-size — cannot "
            "locate its blob; rewrite deletes in the source engine or "
            "drop the snapshot"
        )
    with open(rec["file_path"], "rb") as fh:
        fh.seek(off)
        blob = fh.read(ln)
    return canonical_file_path(ref), list(read_dv_blob(blob))


def _adopt_eq_delete(table, rec: dict, md: dict, id_to_name: dict):
    """External equality-delete parquet → native entry, in place.  The
    file's column names must resolve in the icepack schema (adoption is
    name-based); a historical external name absent from the table
    refuses loudly rather than silently masking nothing."""
    import pyarrow.parquet as pq

    from .manifest import DataFile

    file_cols = set(pq.read_schema(rec["file_path"]).names)
    cols = []
    for fid in rec.get("equality_ids") or []:
        name = _resolve_delete_column(md, fid, file_cols, id_to_name)
        if table.meta.schema.field_by_name(name) is None:
            raise ValueError(
                f"equality-delete file {rec['file_path']} keys on column "
                f"{name!r}, which the adopting table lacks — rename the "
                "table column to match or compact the source table first"
            )
        cols.append(name)
    if not cols:
        raise ValueError(
            f"equality-delete file {rec['file_path']} lists no equality_ids"
        )
    return DataFile(
        path=os.path.abspath(rec["file_path"]),
        status="added",
        partition={},
        spec_id=table.meta.spec.spec_id,
        schema_id=table.meta.schema.schema_id,
        record_count=rec.get("record_count", 0),
        file_size_bytes=rec.get("file_size_in_bytes", 0),
        content="equality-deletes",
        equality_columns=cols,
    )


def _adopt_dv(table, rec: dict, adopted: set):
    """Foreign v3 deletion vector → NATIVE DV entry, in place: the
    Puffin blob is already the format our readers decode (roaring.py),
    so adoption is a pure manifest entry — no decode-and-rewrite.  The
    blob IS decoded once here to validate framing and pin record_count
    to the true cardinality (verify_table cross-checks it).  A DV whose
    referenced file is not adopted at this sequence masks nothing per
    spec and drops (same dangling rule as _adopt_pos_delete)."""
    from .manifest import DataFile

    ref, positions = _read_foreign_dv(rec)
    if ref not in adopted:
        return None
    return DataFile(
        path=os.path.abspath(rec["file_path"]),
        status="added",
        partition={},
        spec_id=table.meta.spec.spec_id,
        schema_id=table.meta.schema.schema_id,
        record_count=len(positions),
        file_size_bytes=rec.get("file_size_in_bytes", 0),
        content="deletion-vectors",
        referenced_data_file=ref,
        content_offset=rec.get("content_offset"),
        content_size=rec.get("content_size_in_bytes"),
    )


def _adopt_pos_delete(table, rec: dict, adopted: set):
    """External position-delete parquet → native file under the table
    location, with ``file_path`` values rewritten to the CANONICAL
    raw spelling (the read join canonicalizes both sides under the
    ``read.canonicalize-delete-file-paths`` property, so no Spark-URI
    spelling needs to be harvested per adopted file).  Rows referencing
    files that are not adopted at this sequence are DANGLING per spec
    (they mask nothing) and drop; an all-dangling file returns None."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .manifest import DataFile

    tbl = pq.read_table(rec["file_path"], columns=["file_path", "pos"])
    rows = [
        (c, pos)
        for p, pos in zip(
            tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist()
        )
        if (c := canonical_file_path(p)) in adopted
    ]
    if not rows:
        return None
    out = pa.table(
        {
            "file_path": pa.array([r[0] for r in rows], pa.string()),
            "pos": pa.array([r[1] for r in rows], pa.int64()),
        }
    )
    dest_dir = os.path.join(table.location, "data")
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, f"adopted-pos-del-{_uuid.uuid4().hex}.parquet")
    pq.write_table(out, dest)
    return DataFile(
        path=dest,
        status="added",
        partition={},
        spec_id=table.meta.spec.spec_id,
        schema_id=table.meta.schema.schema_id,
        record_count=len(rows),
        file_size_bytes=os.path.getsize(dest),
        content="position-deletes",
    )
