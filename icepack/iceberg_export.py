"""Spec-format Apache Iceberg v2 metadata export.

icepack's native metadata is JSONL/JSON (SURVEY §1.1 deliberately maps
the docs' "Avro" manifests to JSONL); that is self-consistent but an
EXTERNAL Iceberg engine (Trino, Snowflake, Spark+iceberg-runtime —
docs/11-multi-engine-compatibility.md:31-42,174-183) cannot load an
icepack table directly.  ``export_iceberg(table, dest)`` closes that
gap: it writes the table's current state (optionally its full main
ancestry) as SPEC-COMPLIANT Iceberg v2 metadata —

- ``v1.metadata.json`` + ``version-hint.text`` (HadoopCatalog layout),
- one Avro manifest list per exported snapshot
  (``snap-<id>.avro``, manifest_file schema, spec field-ids 500-519),
- one Avro manifest per snapshot (``manifest_entry``/``data_file``
  records, field-ids 0-4 / 100-142, per-column value/null counts and
  single-value-serialized lower/upper bounds),

referencing the EXISTING immutable parquet data files by absolute
path — data is not copied.  Avro encoding comes from the from-scratch
:mod:`icepack.avroenc` (no avro library exists offline).

Fidelity notes (all mechanical, spec Appendix A/B/D):
- transforms: identity/year/month/day/hour, truncate[W] on string,
  integral, and decimal(p≤18) sources, and ``mmh3bucket[N]`` (exported
  as spec ``bucket[N]`` — murmur3-correct, see murmur3.py) map 1:1;
  icepack's native xxhash64 ``bucket[N]`` and truncate on wider
  decimals export as ``void`` — external engines then read every
  partition (correct, just unpruned) instead of pruning with a hash
  they can't reproduce (SURVEY §2.7 F6).
- partition VALUES are re-encoded from icepack's lexical forms to the
  spec's numeric forms (year→years since 1970, month→months since
  1970-01, day→days since epoch, hour→hours since epoch).
- merge-on-read delete files EXPORT as spec v2 delete manifests
  (content=1): position deletes are path-normalized (URI → raw),
  sorted by (file_path, pos), and stamped with the reserved field ids
  2147483546/2147483545; equality deletes carry their identifier
  columns' field ids (resolved through the delete-time schema) plus
  the ``equality_ids`` list — external engines apply the same masks
  the native scan does.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import struct
import uuid

from pyspark.sql import types as T

from .avroenc import write_container
from .metadata import PartitionSpec, type_from_str
from .murmur3 import timestamp_micros
from .transforms import _decimal_ps_str

_EPOCH = _dt.date(1970, 1, 1)
_EPOCH_DT = _dt.datetime(1970, 1, 1)


# ------------------------------------------------------------- type export


def _iceberg_type(dt: T.DataType, alloc) -> object:
    """Spark DataType → Iceberg schema-JSON type.  ``alloc()`` hands out
    fresh field ids for nested element/key/value positions (the spec
    requires every nested position to carry a unique id)."""
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.StructType):
        fields = []
        for f in dt.fields:
            fid = alloc()
            fields.append(
                {
                    "id": fid,
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _iceberg_type(f.dataType, alloc),
                }
            )
        return {"type": "struct", "fields": fields}
    if isinstance(dt, T.ArrayType):
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element": _iceberg_type(dt.elementType, alloc),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        kid, vid = alloc(), alloc()
        return {
            "type": "map",
            "key-id": kid,
            "key": _iceberg_type(dt.keyType, alloc),
            "value-id": vid,
            "value": _iceberg_type(dt.valueType, alloc),
            "value-required": not dt.valueContainsNull,
        }
    raise ValueError(f"cannot export type {dt.simpleString()}")


def _schema_json(schema, alloc) -> dict:
    fields = []
    for f in schema.fields:
        if f.type == "time":  # metadata.py keeps the logical name
            t: object = "time"
        else:
            t = _iceberg_type(type_from_str(f.type), alloc)
        fields.append(
            {"id": f.id, "name": f.name, "required": f.required, "type": t}
        )
    return {"type": "struct", "schema-id": schema.schema_id, "fields": fields}


# --------------------------------------------------------- transform export


def _export_transform(transform: str, source_type: str) -> str:
    if transform.startswith("mmh3bucket["):
        return "bucket[" + transform[len("mmh3bucket[") :]
    if transform.startswith("bucket["):
        return "void"  # xxhash64 bucket: external engines can't reproduce
    if transform.startswith("truncate["):
        # string truncate is the spec's substring form; integral
        # truncate follows the spec arithmetic (v - v mod W) since r6,
        # decimal(p≤18) since r10 and EVERY decimal (p≤38) since r11
        # (transforms.py stores the truncated UNSCALED integer — Avro
        # decimal bytes are exactly that int, big-endian
        # two's-complement, arbitrary length) — all export 1:1.
        if source_type in ("string", "int", "bigint", "long", "smallint", "tinyint"):
            return transform
        if _decimal_ps_str(source_type) is not None:
            return transform
        return "void"
    return transform  # identity / year / month / day / hour


def _spec_result_type(transform: str, source_type: str) -> str | dict:
    """Iceberg result type (as avro primitive) of an EXPORTED transform."""
    t = _export_transform(transform, source_type)
    if t == "void":
        return "null"
    if t.startswith("truncate[") and (ps := _decimal_ps_str(source_type)):
        # spec result type of decimal truncate is the source decimal;
        # avro carries it as decimal-logical bytes (unscaled
        # two's-complement) — the wrapper attributes ride through the
        # encoder untouched (avroenc strips to the primitive)
        return {
            "type": "bytes",
            "logicalType": "decimal",
            "precision": ps[0],
            "scale": ps[1],
        }
    if t == "identity" or t.startswith("truncate["):
        return {
            "int": "int",
            "smallint": "int",
            "tinyint": "int",
            "bigint": "long",
            "long": "long",
            "string": "string",
            "date": "int",
            "timestamp": "long",
            "timestamp_ntz": "long",
            "double": "double",
            "float": "float",
            "boolean": "boolean",
        }.get(source_type, "string")
    if t == "day":
        return "int"  # days from epoch (logical date)
    return "int"  # year / month / hour / bucket[N]


def _min_signed_be(v: int) -> bytes:
    """Minimal-length big-endian two's-complement (spec Appendix D).
    ``(bit_length+8)//8`` over-pads negative powers of two whose
    bit_length is a multiple of 8 (-128 → ff80 instead of 80, ADVICE
    r10); ceil(bit_length/8) is minimal except when the sign bit needs
    one more byte, which OverflowError detects exactly."""
    n = max(1, (v.bit_length() + 7) // 8)
    try:
        return v.to_bytes(n, "big", signed=True)
    except OverflowError:
        return v.to_bytes(n + 1, "big", signed=True)


def _spec_partition_value(transform: str, source_type: str, v):
    """icepack's lexical partition value → the spec's numeric value."""
    t = _export_transform(transform, source_type)
    if t == "void" or v is None:
        return None
    if t.startswith("truncate[") and _decimal_ps_str(source_type):
        # stored value IS the truncated unscaled long (transforms.py);
        # avro decimal bytes = that int, big-endian two's-complement
        if not isinstance(v, int):
            return None  # pre-r10 prefix-lane value: unexportable
        return _min_signed_be(int(v))
    if t == "year":
        return int(v) - 1970
    if t == "month":  # "yyyy-MM"
        y, m = str(v).split("-")
        return (int(y) - 1970) * 12 + (int(m) - 1)
    if t == "day":  # "yyyy-MM-dd"
        return (_dt.date.fromisoformat(str(v)) - _EPOCH).days
    if t == "hour":  # "yyyy-MM-dd-HH"
        d, h = str(v).rsplit("-", 1)
        return ((_dt.date.fromisoformat(d) - _EPOCH).days * 24) + int(h)
    if t == "identity":
        return _plain_value(source_type, v)
    return v  # bucket[N] int, truncate[W] string prefix


def _plain_value(source_type: str, v):
    if v is None:
        return None
    if source_type == "date":
        return (_dt.date.fromisoformat(str(v)) - _EPOCH).days
    if source_type in ("timestamp", "timestamp_ntz"):
        return timestamp_micros(_dt.datetime.fromisoformat(str(v)))
    return v


# -------------------------------------------------- single-value bounds


def _bound_bytes(source_type: str, v, widen: int = 0) -> bytes | None:
    """Spec Appendix D single-value binary serialization of a stats
    bound.  Types we don't track bounds for return None (the map entry
    is simply omitted — optional per spec).

    ``widen`` (−1 lower bound, +1 upper) directs decimal rounding:
    manifests store decimal stats as floats (manifest.py widened them
    one ULP outward already), and re-quantizing onto the column scale
    floors/ceils in the same outward direction so the exported range
    stays a superset of the data."""
    if v is None:
        return None
    try:
        if (ps := _decimal_ps_str(source_type.replace(" ", ""))) is not None:
            import decimal as _decmod

            d = _decmod.Decimal(v) if not isinstance(v, _decmod.Decimal) else v
            u = d.scaleb(ps[1]).to_integral_value(
                rounding=_decmod.ROUND_FLOOR if widen < 0 else _decmod.ROUND_CEILING
                if widen > 0
                else _decmod.ROUND_HALF_EVEN
            )
            iu = int(u)
            if widen == 0 and u != d.scaleb(ps[1]):
                return None  # inexact with no direction: omit the bound
            return _min_signed_be(iu)
        if source_type == "int":
            return struct.pack("<i", int(v))
        if source_type in ("bigint", "long"):
            return struct.pack("<q", int(v))
        if source_type == "float":
            return struct.pack("<f", float(v))
        if source_type == "double":
            return struct.pack("<d", float(v))
        if source_type == "boolean":
            return b"\x01" if v else b"\x00"
        if source_type == "date":
            return struct.pack("<i", (_dt.date.fromisoformat(str(v)) - _EPOCH).days)
        if source_type in ("timestamp", "timestamp_ntz", "time"):
            if source_type == "time" and isinstance(v, int):
                return struct.pack("<q", v)
            micros = timestamp_micros(_dt.datetime.fromisoformat(str(v)))
            return struct.pack("<q", micros)
        if source_type == "string":
            return str(v).encode("utf-8")
    except (ValueError, TypeError, struct.error, ArithmeticError):
        return None
    return None  # decimal/binary/nested: bounds not exported


# ----------------------------------------------------------- avro schemas


def _fid(name: str, fid: int, ftype, doc: str | None = None) -> dict:
    d = {"name": name, "type": ftype, "field-id": fid}
    if isinstance(ftype, list):
        d["default"] = None
    return d


def _manifest_list_schema(format_version: int = 2) -> dict:
    summary = {
        "type": "record",
        "name": "r508",
        "fields": [
            _fid("contains_null", 509, "boolean"),
            _fid("contains_nan", 518, ["null", "boolean"]),
            _fid("lower_bound", 510, ["null", "bytes"]),
            _fid("upper_bound", 511, ["null", "bytes"]),
        ],
    }
    fields = [
        _fid("manifest_path", 500, "string"),
        _fid("manifest_length", 501, "long"),
        _fid("partition_spec_id", 502, "int"),
        _fid("content", 517, "int"),
        _fid("sequence_number", 515, "long"),
        _fid("min_sequence_number", 516, "long"),
        _fid("added_snapshot_id", 503, "long"),
        _fid("added_files_count", 504, "int"),
        _fid("existing_files_count", 505, "int"),
        _fid("deleted_files_count", 506, "int"),
        _fid("added_rows_count", 512, "long"),
        _fid("existing_rows_count", 513, "long"),
        _fid("deleted_rows_count", 514, "long"),
        _fid("partitions", 507, ["null", {"type": "array", "items": summary}]),
    ]
    if format_version >= 3:
        # v3 row lineage: the manifest's starting row id (spec field
        # 520); data files with null first_row_id inherit from it
        fields.append(_fid("first_row_id", 520, ["null", "long"]))
    return {
        "type": "record",
        "name": "manifest_file",
        "fields": fields,
    }


def _kv_map(name: str, kid: int, vid: int, vtype: str) -> dict:
    """Iceberg writes integer-keyed maps as arrays of key/value records
    (avro maps require string keys)."""
    return {
        "type": "array",
        "items": {
            "type": "record",
            "name": name,
            "fields": [
                _fid("key", kid, "int"),
                _fid("value", vid, vtype),
            ],
        },
        "logicalType": "map",
    }


def _partition_record_schema(spec, schema) -> dict:
    fields = []
    for pf in spec.fields:
        src = schema.field_by_id(pf.source_id)
        stype = src.type if src is not None else "string"
        rtype = _spec_result_type(pf.transform, stype)
        ftype: object = ["null"] if rtype == "null" else ["null", rtype]
        fields.append(_fid(pf.name, pf.field_id, ftype))
    return {"type": "record", "name": "r102", "fields": fields}


def _manifest_entry_schema(spec, schema, format_version: int = 2) -> dict:
    part = _partition_record_schema(spec, schema)
    df_fields = [
        _fid("content", 134, "int"),
        _fid("file_path", 100, "string"),
        _fid("file_format", 101, "string"),
        _fid("partition", 102, part),
        _fid("record_count", 103, "long"),
        _fid("file_size_in_bytes", 104, "long"),
        _fid("value_counts", 109, ["null", _kv_map("k119_v120", 119, 120, "long")]),
        _fid(
            "null_value_counts",
            110,
            ["null", _kv_map("k121_v122", 121, 122, "long")],
        ),
        _fid(
            "lower_bounds", 125, ["null", _kv_map("k126_v127", 126, 127, "bytes")]
        ),
        _fid(
            "upper_bounds", 128, ["null", _kv_map("k129_v130", 129, 130, "bytes")]
        ),
        _fid(
            "equality_ids",
            135,
            ["null", {"type": "array", "items": "int", "element-id": 136}],
        ),
    ]
    if format_version >= 3:
        # v3 (public Iceberg spec "Manifests" + "Delete Formats"):
        # first_row_id (142) for row lineage; the deletion-vector
        # trio — referenced_data_file (143), content_offset (144),
        # content_size_in_bytes (145) — locates one roaring blob
        # inside a Puffin file and names the single data file it masks
        df_fields += [
            _fid("first_row_id", 142, ["null", "long"]),
            _fid("referenced_data_file", 143, ["null", "string"]),
            _fid("content_offset", 144, ["null", "long"]),
            _fid("content_size_in_bytes", 145, ["null", "long"]),
        ]
    data_file = {
        "type": "record",
        "name": "r2",
        "fields": df_fields,
    }
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _fid("status", 0, "int"),
            _fid("snapshot_id", 1, ["null", "long"]),
            _fid("sequence_number", 3, ["null", "long"]),
            _fid("file_sequence_number", 4, ["null", "long"]),
            _fid("data_file", 2, data_file),
        ],
    }


# --------------------------------------------------------------- exporter


def _delete_rewrite_payload(
    meta, content, src_path, content_offset, content_size,
    equality_columns, schema_id, referenced_data_file=None,
):
    """The pure rewrite of one MOR delete file into its spec-form
    arrow table — shared VERBATIM by the driver loop
    (:func:`_rewrite_delete_parquet`) and the distributed export lane
    (each executor task rewrites its own delete files).  Returns
    (pyarrow.Table, content code 1|2, equality_ids)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .dml import _normalize_file_uri

    if content == "deletion-vectors":
        from .roaring import read_dv_blob

        with open(src_path, "rb") as fh:
            fh.seek(int(content_offset))
            blob = fh.read(int(content_size))
        decoded = read_dv_blob(blob)
        paths = [_normalize_file_uri(referenced_data_file)] * len(decoded)
        poss = [int(p) for p in decoded]
    else:
        tbl = pq.read_table(src_path)
    if content in ("position-deletes", "deletion-vectors"):
        if content == "position-deletes":
            paths = [
                _normalize_file_uri(p)
                for p in tbl.column("file_path").to_pylist()
            ]
            poss = tbl.column("pos").to_pylist()
        order = sorted(range(len(paths)), key=lambda i: (paths[i], poss[i]))
        fields = [
            pa.field(
                "file_path", pa.string(),
                metadata={b"PARQUET:field_id": b"2147483546"},
            ),
            pa.field("pos", pa.int64(), metadata={b"PARQUET:field_id": b"2147483545"}),
        ]
        out = pa.table(
            [
                pa.array([paths[i] for i in order], pa.string()),
                pa.array([poss[i] for i in order], pa.int64()),
            ],
            schema=pa.schema(fields),
        )
        return out, 1, []
    # equality-deletes
    dschema = meta.schema_by_id(schema_id)
    fields, arrays, eq_ids = [], [], []
    for c in equality_columns:
        f_old = dschema.field_by_name(c)
        fid = f_old.id if f_old is not None else 0
        eq_ids.append(fid)
        col = tbl.column(c)
        arrays.append(col.combine_chunks() if col.num_chunks > 1 else col)
        fields.append(
            pa.field(
                c, tbl.schema.field(c).type,
                metadata={b"PARQUET:field_id": str(fid).encode()},
            )
        )
    return pa.table(arrays, schema=pa.schema(fields)), 2, eq_ids


def _delete_rewrite_name(idx: int, d) -> str:
    name = f"delete-{idx}-{os.path.basename(d.path)}"
    if d.content == "deletion-vectors":
        name += ".parquet"  # source basename is a .puffin
    return name


def _rewrite_delete_parquet(table, d, dest: str, cache: dict) -> tuple[str, int, list]:
    """Rewrite one icepack MOR delete file into its SPEC form under
    *dest* (cached per source path — history exports reuse it, and the
    distributed lane PREFILLS the cache so this driver loop degenerates
    to dict lookups):

    - position deletes: ``file_path`` normalized from Spark's URI form
      to the plain absolute path manifests use (external engines
      compare these strings verbatim), rows sorted by (file_path, pos),
      columns stamped with the spec's reserved field ids
      2147483546/2147483545.
    - equality deletes: identifier columns stamped with their field ids
      (resolved through the DELETE-TIME schema version, so renamed keys
      keep their identity); returns the equality_ids list.
    - v3 deletion-vectors: the roaring blob DECODES into the same
      spec-form position-delete parquet (the export targets v2 trees;
      DV positions are exactly position deletes for one file), so a
      DV table exports without a prior rewrite_position_deletes().

    Returns (new path, content code 1|2, equality_ids)."""
    import pyarrow.parquet as pq

    # DV blobs share one Puffin path — identity is (path, offset)
    ckey = (d.path, d.content_offset)
    if ckey in cache:
        return cache[ckey]
    out, code, eq_ids = _delete_rewrite_payload(
        table.meta, d.content, d.path, d.content_offset, d.content_size,
        d.equality_columns, d.schema_id,
        referenced_data_file=d.referenced_data_file,
    )
    new_path = os.path.join(dest, _delete_rewrite_name(len(cache), d))
    pq.write_table(out, new_path)
    cache[ckey] = (new_path, code, eq_ids)
    return cache[ckey]


def _dv_entry_record(
    spec, path, ref, off, size, cardinality, fsize, seq, snapshot_id
) -> dict:
    """v3 deletion-vector manifest entry: content=1 pointing at one
    ``deletion-vector-v1`` blob inside a Puffin file (public Iceberg v3
    spec "Delete Formats"); ``referenced_data_file`` names the single
    data file the bitmap masks."""
    part = {pf.name: None for pf in spec.fields}
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": 1,
            "file_path": path,
            "file_format": "PUFFIN",
            "partition": part,
            "record_count": cardinality,
            "file_size_in_bytes": fsize,
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
            "referenced_data_file": ref,
            "content_offset": off,
            "content_size_in_bytes": size,
        },
    }


def _v3_delete_entries(table, dels, dest, spec, snapshot_id) -> tuple[list, list]:
    """The v3 delete lane: position-delete PARQUET is not a valid v3
    delete format (the spec deprecates it — "Position delete files
    must not be added to v3 tables"), so parquet tombstones consolidate
    into fresh ``deletion-vector-v1`` blobs under *dest*, merged with
    any existing DV for the same data file (v3 requires AT MOST ONE DV
    per data file).  Native DV entries with no parquet overlap are
    referenced ZERO-COPY — their Puffin files are already spec
    ``deletion-vector-v1`` blobs (icepack/roaring.py, icepack/
    puffin.py).  Returns (dv manifest entries, equality-delete files
    still needing the parquet rewrite)."""
    import pyarrow.parquet as pq

    from .dml import _normalize_file_uri
    from .dv import DV_BLOB_TYPE, POS_FIELD_ID
    from .puffin import write_puffin
    from .roaring import dv_blob_bytes, read_dv_blob

    pos = [d for d in dels if d.content == "position-deletes"]
    dvs = [d for d in dels if d.content == "deletion-vectors"]
    eqs = [d for d in dels if d.content == "equality-deletes"]
    entries: list = []
    per_file: dict[str, set] = {}
    seq_of: dict[str, int] = {}
    ref_spelling: dict[str, str] = {}
    for d in pos:
        t = pq.read_table(d.path, columns=["file_path", "pos"])
        for p, po in zip(
            t.column("file_path").to_pylist(), t.column("pos").to_pylist()
        ):
            k = _normalize_file_uri(p)
            ref_spelling.setdefault(k, k)
            per_file.setdefault(k, set()).add(int(po))
            seq_of[k] = max(seq_of.get(k, 0), d.sequence_number)
    for d in dvs:
        k = _normalize_file_uri(d.referenced_data_file)
        if k in per_file:
            # a later parquet tombstone batch targets the same file:
            # merge (one DV per data file is a v3 REQUIREMENT)
            with open(d.path, "rb") as fh:
                fh.seek(int(d.content_offset))
                blob = fh.read(int(d.content_size))
            per_file[k].update(int(p) for p in read_dv_blob(blob))
            seq_of[k] = max(seq_of[k], d.sequence_number)
            ref_spelling[k] = d.referenced_data_file
        else:
            entries.append(
                _dv_entry_record(
                    spec, d.path, d.referenced_data_file,
                    int(d.content_offset), int(d.content_size),
                    d.record_count, d.file_size_bytes,
                    d.sequence_number, snapshot_id,
                )
            )
    if per_file:
        blobs = []
        for k in sorted(per_file):
            blobs.append(
                {
                    "type": DV_BLOB_TYPE,
                    "fields": [POS_FIELD_ID],
                    "snapshot-id": snapshot_id,
                    "sequence-number": seq_of[k],
                    "data": dv_blob_bytes(sorted(per_file[k])),
                    "properties": {
                        "referenced-data-file": ref_spelling[k],
                        "cardinality": str(len(per_file[k])),
                    },
                }
            )
        puffin = write_puffin(blobs)
        name = f"dv-{snapshot_id}.puffin"
        path = os.path.join(dest, name)
        with open(path, "wb") as fh:
            fh.write(puffin)
        off = 4  # blobs start right after the 4-byte Puffin magic
        for k, b in zip(sorted(per_file), blobs):
            entries.append(
                _dv_entry_record(
                    spec, path, ref_spelling[k], off, len(b["data"]),
                    len(per_file[k]), len(puffin), seq_of[k], snapshot_id,
                )
            )
            off += len(b["data"])
    return entries, eqs


def _delete_entry_record(table, d, spec, new_path, code, eq_ids, snapshot_id) -> dict:
    part = {pf.name: None for pf in spec.fields}
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "sequence_number": d.sequence_number,
        "file_sequence_number": d.sequence_number,
        "data_file": {
            "content": code,
            "file_path": new_path,
            "file_format": "PARQUET",
            "partition": part,
            "record_count": d.record_count,
            "file_size_in_bytes": os.path.getsize(new_path),
            "value_counts": None,
            "null_value_counts": None,
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": eq_ids or None,
        },
    }


def _sync_for(name: str) -> bytes:
    """Deterministic 16-byte sync marker (byte-stable exports → golden
    tests); derived from the file name, collision-irrelevant (the sync
    only delimits blocks within one file)."""
    import hashlib

    return hashlib.md5(name.encode()).digest()


def _entry_record(table, f, status: int, snapshot_id: int) -> dict:
    meta = table.meta
    spec = meta.spec_by_id(f.spec_id)
    schema = meta.schema_by_id(f.schema_id)
    part = {}
    for pf in spec.fields:
        src = schema.field_by_id(pf.source_id)
        stype = src.type if src is not None else "string"
        v = _spec_partition_value(pf.transform, stype, f.partition.get(pf.name))
        # the avro partition field type is derived from the SAME
        # (transform, source type) pair, so mismatches only arise when
        # the source column is gone (dropped) or of a type we map to
        # "string" (e.g. decimal identity) — stringify rather than
        # crash the encoder on a non-str value
        if (
            v is not None
            and _spec_result_type(pf.transform, stype) == "string"
            and not isinstance(v, str)
        ):
            v = str(v)
        part[pf.name] = v
    value_counts, null_counts, lowers, uppers = [], [], [], []
    for col, st in sorted(f.stats.items()):
        fld = schema.field_by_name(col)
        if fld is None:
            continue
        value_counts.append({"key": fld.id, "value": f.record_count})
        if st.get("nulls") is not None:
            null_counts.append({"key": fld.id, "value": int(st["nulls"])})
        lo = _bound_bytes(fld.type, st.get("min"), widen=-1)
        hi = _bound_bytes(fld.type, st.get("max"), widen=1)
        if lo is not None:
            lowers.append({"key": fld.id, "value": lo})
        if hi is not None:
            uppers.append({"key": fld.id, "value": hi})
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        "sequence_number": f.sequence_number,
        "file_sequence_number": f.sequence_number,
        "data_file": {
            "content": 0,
            "file_path": f.path,
            "file_format": "PARQUET",
            "partition": part,
            "record_count": f.record_count,
            "file_size_in_bytes": f.file_size_bytes,
            "value_counts": value_counts or None,
            "null_value_counts": null_counts or None,
            "lower_bounds": lowers or None,
            "upper_bounds": uppers or None,
            "equality_ids": None,
        },
    }


# ----------------------------------------- distributed export encode lane


#: auto flip point for the distributed export encode — MEASURED
#: (r12, export_sec column): driver 0.5 s vs
#: distributed 0.73 s at 4k entries, 1.18 vs 0.78 at 8k, 12.95 vs 1.44
#: at 128k, 50.3 vs 4.3 at 512k.  The per-entry driver cost (~0.1 ms of
#: pure-Python record build + Avro encode) is ~25× the fsck walk's, so
#: the crossover sits at ~8k entries, far below the 262144 fsck/pstats
#: flip.  Property-overridable per table (export.auto.entry-threshold).
EXPORT_ENTRY_THRESHOLD = 8_192
#: minimum distinct MOR delete files before the parquet rewrites run
#: as a Spark job (below this the per-task overhead exceeds the
#: driver's pyarrow loop)
EXPORT_DELETE_FILE_THRESHOLD = 64


def _export_rows_estimate(table, snaps) -> int:
    """Estimated total entries the export will ENCODE (sum over
    exported snapshots — history exports pay every snapshot), from
    manifest-list summaries alone: O(manifests) driver work."""
    total = 0
    for snap in snaps:
        try:
            descs = table._read_mlist(snap.manifest_list)
        except (OSError, ValueError):
            return 0
        total += table._est_live_entries(descs)
    return total


def _export_v3_ids_assigned(table, snaps) -> bool:
    """Whether every data manifest of every exported snapshot carries a
    manifest-list row-id assignment (field 520 / the stash spelling) —
    the eligibility condition for the DISTRIBUTED fv3 encode: with it,
    per-entry ids resolve by local inheritance inside one task; without
    it the driver lane's first-seen-path assignment is inherently
    sequential, so the export falls back."""
    if not table.spec_primary:
        return False
    for snap in snaps:
        for m in table._read_mlist(snap.manifest_list):
            dc = m.get("delete-content-files", 0)
            if dc and dc == m.get("live-files", -1):
                continue  # delete manifest: no assignment expected
            if m.get("first-row-id") is None:
                return False
    return True


def _preassign_native_v3_bases(table, snap, store_pkl) -> dict | None:
    """Per-manifest first-row-id bases for a NATIVE fv3 single-snapshot
    export whose table never assigned ids at commit: one executor task
    per manifest counts the rows needing ids (live + deleted data
    entries without an explicit ``first_row_id`` — exactly the slots
    the v3 inheritance rule consumes), the driver prefix-sums the
    O(manifests) counts in manifest-list order.  Returns
    ``{manifest-path: base}``, or None when any entry already carries
    an explicit id (cross-manifest stability then needs the driver
    memo — rare on native trees, which cannot materialize lineage)."""
    import pickle as _pickle

    names = []
    for m in table._read_mlist(snap.manifest_list):
        dc = m.get("delete-content-files", 0)
        if dc and dc == m.get("live-files", -1):
            continue
        names.append(m["manifest-path"])
    if not names:
        return {}
    meta_json = table.meta.to_json()
    mdir = table._mdir

    def _count(batches):
        import pandas as pd

        from icepack.manifest import read_manifest
        from icepack.metadata import TableMetadata
        from icepack.specio import read_spec_manifest

        st = _pickle.loads(store_pkl)
        meta = TableMetadata.from_json(meta_json)
        for pdf in batches:
            out = []
            for name in pdf["name"]:
                entries = (
                    read_spec_manifest(mdir, name, st, meta)
                    if name.endswith(".avro")
                    else read_manifest(mdir, name, store=st)
                )
                rows = 0
                explicit = 0
                for e in entries:
                    if e.content != "data":
                        continue
                    if e.first_row_id is None:
                        rows += e.record_count
                    else:
                        explicit += 1
                out.append((name, rows, explicit))
            yield pd.DataFrame(out, columns=["name", "rows", "explicit"])

    from .session import local_df

    sdf = local_df(table.spark, [(n,) for n in names], "name string")
    if len(names) > 1:
        sdf = sdf.repartition(min(len(names), 64))
    got = {
        r["name"]: (int(r["rows"]), int(r["explicit"]))
        for r in sdf.mapInPandas(_count, "name string, rows long, explicit long")
        .collect()
    }
    if any(explicit for _r, explicit in got.values()):
        return None
    bases = {}
    nxt = 0
    for name in names:  # manifest-list order: deterministic assignment
        bases[name] = nxt
        nxt += got[name][0]
    return bases


def _export_data_manifests_distributed(
    table, snaps, dest: str, fv: int, codec: str,
    schemas_json: list, specs_json: list,
) -> dict[int, list[dict]] | None:
    """Encode every exported snapshot's DATA manifests as a Spark job
    (VERDICT r11 task 1 — the last O(table) driver walk): one task per
    (snapshot, source manifest) decodes the manifest with the same
    codecs ``_read_mentries`` uses, builds the spec entry records, Avro
    -encodes them with :mod:`icepack.avroenc` (pure Python — runs
    anywhere), writes the manifest under *dest* (shared storage on a
    real cluster, exactly like the data files the export references),
    and emits ONE manifest-list record; the driver collects O(output
    manifests) records and assembles only manifest lists + metadata
    JSON (docs/11-multi-engine-compatibility.md:31-42 — the migration
    path for a large native table to a spec tree).  Layout note: the driver lane writes one manifest per
    (snapshot, spec); this lane writes one per (snapshot, source
    manifest, spec) — the spec allows any manifest count, and the
    independent-decoder re-read equality of both lanes is pinned by
    tests/test_iceberg_export.py.

    Returns {snapshot_id: [mlist_rec, ...]} or None when the export
    should stay on the driver walk (below ``export.auto.entry-threshold``,
    ``read.plan-mode=driver``, a non-picklable store, or an fv3
    HISTORY export of a table without commit-time id assignments —
    single-snapshot native fv3 exports pre-assign per-manifest bases
    distributed, see :func:`_preassign_native_v3_bases`)."""
    import pickle

    from .scanplan import _pickled_store

    est = _export_rows_estimate(table, snaps)
    if not table._distributed_by_entries(
        est, "export.auto.entry-threshold", EXPORT_ENTRY_THRESHOLD
    ):
        return None
    store_pkl = _pickled_store(table.store)
    if store_pkl is None:
        return None
    bases = None
    if fv >= 3 and not _export_v3_ids_assigned(table, snaps):
        # r13 (closes the documented native-fv3 driver fallback for the
        # common case): a table that never assigned row ids at commit
        # can still export distributed when ONE snapshot ships — the
        # export invents ids, so a per-manifest BASE (distributed
        # row-count pre-pass + O(manifests) driver prefix sum) feeds
        # the same field-520 inheritance the encode tasks already run.
        # History exports keep the driver walk: a file moved between
        # manifests by DML/compaction must keep ONE id across every
        # exported snapshot, which needs the per-path memo.
        if len(snaps) != 1:
            return None
        bases = _preassign_native_v3_bases(table, snaps[0], store_pkl)
        if bases is None:
            return None
    rows = []
    for snap in snaps:
        for m in table._read_mlist(snap.manifest_list):
            dc = m.get("delete-content-files", 0)
            if dc and dc == m.get("live-files", -1):
                continue  # delete manifests: the delete lane owns them
            frid = m.get("first-row-id")
            if bases is not None:
                frid = bases.get(m["manifest-path"], frid)
            rows.append(
                (
                    snap.snapshot_id,
                    snap.sequence_number,
                    snap.schema_id,
                    m["manifest-path"],
                    frid,
                )
            )
    if not rows:
        return {}
    meta_json = table.meta.to_json()
    mdir = table._mdir
    schemas_s = json.dumps(schemas_json)
    specs_s = json.dumps(specs_json)

    def _encode(batches):
        import json as _json
        import os as _os
        import types as _types

        import pandas as pd

        from icepack.avroenc import write_container as wc
        from icepack.iceberg_export import (
            _entry_record,
            _manifest_entry_schema,
            _sync_for,
        )
        from icepack.manifest import read_manifest
        from icepack.metadata import TableMetadata
        from icepack.specio import read_spec_manifest
        from icepack.table import _inherit_first_row_ids

        st = pickle.loads(store_pkl)
        meta = TableMetadata.from_json(meta_json)
        shim = _types.SimpleNamespace(meta=meta)
        schemas_j = _json.loads(schemas_s)
        specs_j = _json.loads(specs_s)

        def _mmeta(schema_id, spec_id):
            sj = next(s for s in schemas_j if s["schema-id"] == schema_id)
            fields = next(
                s["fields"] for s in specs_j if s["spec-id"] == spec_id
            )
            return {
                "schema": _json.dumps(sj, separators=(",", ":")),
                "schema-id": str(schema_id),
                "partition-spec": _json.dumps(fields, separators=(",", ":")),
                "partition-spec-id": str(spec_id),
                "format-version": str(fv),
                "content": "data",
            }

        for pdf in batches:
            out = []
            for sid, seq, schema_id, name, frid in zip(
                pdf["sid"], pdf["seq"], pdf["schema_id"], pdf["name"],
                pdf["frid"],
            ):
                sid, seq, schema_id = int(sid), int(seq), int(schema_id)
                entries = (
                    read_spec_manifest(mdir, name, st, meta)
                    if name.endswith(".avro")
                    else read_manifest(mdir, name, store=st)
                )
                if frid is not None and not pd.isna(frid):
                    _inherit_first_row_ids({"first-row-id": int(frid)}, entries)
                live = [
                    e
                    for e in entries
                    if e.status != "deleted" and e.content == "data"
                ]
                by_spec = {}
                for e in live:
                    by_spec.setdefault(e.spec_id, []).append(e)
                schema = meta.schema_by_id(schema_id)
                stem = _os.path.splitext(name)[0]
                for spec_id in sorted(by_spec):
                    group = by_spec[spec_id]
                    spec = meta.spec_by_id(spec_id)
                    entry_schema = _manifest_entry_schema(spec, schema, fv)
                    recs = []
                    for f in group:
                        rec = _entry_record(
                            shim, f, 1 if f.sequence_number == seq else 0, sid
                        )
                        if fv >= 3:
                            rec["data_file"]["first_row_id"] = f.first_row_id
                        recs.append(rec)
                    mname = f"manifest-{sid}-spec{spec_id}-{stem}.avro"
                    mbuf = wc(
                        entry_schema,
                        recs,
                        _sync_for(mname),
                        extra_meta=_mmeta(schema_id, spec_id),
                        codec=codec,
                    )
                    mpath_ = _os.path.join(dest, mname)
                    with open(mpath_, "wb") as fh:
                        fh.write(mbuf)
                    seqs = [f.sequence_number for f in group] or [seq]
                    added = [r for r in recs if r["status"] == 1]
                    existing = [r for r in recs if r["status"] != 1]
                    out.append(
                        _json.dumps(
                            {
                                "sid": sid,
                                "rec": {
                                    "manifest_path": mpath_,
                                    "manifest_length": len(mbuf),
                                    "partition_spec_id": spec_id,
                                    "content": 0,
                                    "sequence_number": seq,
                                    "min_sequence_number": min(seqs),
                                    "added_snapshot_id": sid,
                                    "added_files_count": len(added),
                                    "existing_files_count": len(existing),
                                    "deleted_files_count": 0,
                                    "added_rows_count": sum(
                                        r["data_file"]["record_count"]
                                        for r in added
                                    ),
                                    "existing_rows_count": sum(
                                        r["data_file"]["record_count"]
                                        for r in existing
                                    ),
                                    "deleted_rows_count": 0,
                                    "partitions": None,
                                    **(
                                        {
                                            "first_row_id": int(frid)
                                            if frid is not None
                                            and not pd.isna(frid)
                                            else None
                                        }
                                        if fv >= 3
                                        else {}
                                    ),
                                },
                            }
                        )
                    )
            yield pd.DataFrame({"out": pd.Series(out, dtype="object")})

    from .session import local_df

    df = local_df(
        table.spark, rows, "sid long, seq long, schema_id int, name string, frid long"
    ).repartition(min(len(rows), 64))
    by_snap: dict[int, list[dict]] = {}
    for r in df.mapInPandas(_encode, "out string").collect():
        d = json.loads(r[0])
        by_snap.setdefault(d["sid"], []).append(d["rec"])
    for recs in by_snap.values():
        recs.sort(key=lambda r: r["manifest_path"])  # deterministic lists
    return by_snap


def _prefill_delete_cache_distributed(
    table, snaps, dest: str, fv: int, cache: dict
) -> None:
    """Rewrite every MOR delete parquet the export will need as a Spark
    job, PREFILLING the driver's rewrite cache so the per-snapshot loop
    degenerates to dict lookups (VERDICT r11 task 1: the per-delete
    -file pyarrow rewrite was driver CPU).  Names are preassigned in
    first-encounter order, so the distributed output is byte-identical
    in layout to what the driver loop would have written.  No-op below
    ``EXPORT_DELETE_FILE_THRESHOLD`` files or on a non-picklable store
    (the driver loop then does the work as before)."""
    import pickle

    from .scanplan import _pickled_store

    jobs = []
    for snap in snaps:
        for d in table.live_files(snap, content="deletes"):
            if fv >= 3 and d.content != "equality-deletes":
                continue  # the v3 Puffin lane owns DV/position content
            ckey = (d.path, d.content_offset)
            if ckey in cache or ckey in {j[0] for j in jobs}:
                continue
            jobs.append(
                (
                    ckey,
                    d.content,
                    d.content_size,
                    d.schema_id,
                    json.dumps(d.equality_columns),
                    d.referenced_data_file,
                    _delete_rewrite_name(len(cache) + len(jobs), d),
                )
            )
    if len(jobs) < EXPORT_DELETE_FILE_THRESHOLD:
        return
    store_pkl = _pickled_store(table.store)
    if store_pkl is None:
        return
    meta_json = table.meta.to_json()

    def _rw(batches):
        import json as _json
        import os as _os

        import pandas as pd
        import pyarrow.parquet as _pq

        from icepack.iceberg_export import _delete_rewrite_payload
        from icepack.metadata import TableMetadata

        meta = TableMetadata.from_json(meta_json)
        _ = pickle.loads(store_pkl)  # capability proof (paths are POSIX here)
        for pdf in batches:
            out = []
            for path, content, off, size, schema_id, eq_s, ref, oname in zip(
                pdf["path"], pdf["content"], pdf["off"], pdf["size"],
                pdf["schema_id"], pdf["eq"], pdf["ref"], pdf["oname"],
            ):
                tbl, code, eq_ids = _delete_rewrite_payload(
                    meta, content, path,
                    None if pd.isna(off) else int(off),
                    None if pd.isna(size) else int(size),
                    _json.loads(eq_s), int(schema_id),
                    referenced_data_file=ref if isinstance(ref, str) else None,
                )
                new_path = _os.path.join(dest, oname)
                _pq.write_table(tbl, new_path)
                out.append(
                    _json.dumps(
                        {
                            "path": path,
                            "off": None if pd.isna(off) else int(off),
                            "new": new_path,
                            "code": code,
                            "eq": eq_ids,
                        }
                    )
                )
            yield pd.DataFrame({"out": pd.Series(out, dtype="object")})

    rows = [
        (ckey[0], content, ckey[1], size, schema_id, eq_s, ref, oname)
        for (ckey, content, size, schema_id, eq_s, ref, oname) in jobs
    ]
    from .session import local_df

    df = local_df(
        table.spark,
        rows,
        "path string, content string, off long, size long,"
        " schema_id int, eq string, ref string, oname string",
    ).repartition(min(len(rows), 64))
    got = {}
    for r in df.mapInPandas(_rw, "out string").collect():
        d = json.loads(r[0])
        got[(d["path"], d["off"])] = (d["new"], d["code"], d["eq"])
    # fill in the SAME first-encounter order the names were assigned in
    for (ckey, _c, _n, _s, _e, _r, _o) in jobs:
        if ckey in got:
            cache[ckey] = got[ckey]


def export_iceberg(
    table, dest: str | None = None, history: bool = False,
    format_version: int | None = None,
) -> str:
    """Write spec-format Iceberg metadata for *table* under *dest*
    (default ``<location>/iceberg-metadata``).  Returns the path of the
    written ``v1.metadata.json``.  ``history=True`` additionally
    exports every main-ancestry snapshot (time travel from external
    engines); default exports the current snapshot only.

    ``format_version``: 2 (default) or 3; defaults from table property
    ``write.export.format-version``.  A v3 export carries
    merge-on-read deletes as spec ``deletion-vector-v1`` Puffin blob
    references (native DV Puffins referenced zero-copy; parquet
    position deletes consolidated into fresh blobs — v3 forbids
    position-delete files) and assigns row lineage (``next-row-id`` /
    snapshot ``first-row-id`` / per-file ``first_row_id``, stable per
    data file across history snapshots).  A v2 export decodes DV blobs
    back to position-delete parquet — lossless but fat (VERDICT r10
    missing #1; docs/11-multi-engine-compatibility.md:31-42).

    Layout is the HadoopCatalog convention (version-hint.text naming
    the current metadata version), the one layout external engines can
    open from a bare path without a catalog service.  I/O is plain
    binary file writes (not the MetadataStore seam): Avro is binary
    and the whole point of an export is a REAL filesystem/object path
    an external engine can open — an in-memory-store table has nothing
    an external engine could read anyway."""
    meta = table.meta
    if format_version is None:
        try:
            format_version = int(
                meta.properties.get("write.export.format-version", "2")
            )
        except (TypeError, ValueError):
            format_version = 2
    if format_version not in (2, 3):
        raise ValueError(
            f"export format-version must be 2 or 3, got {format_version}"
        )
    fv = format_version
    # v3 row lineage: first_row_id is assigned ONCE per data file (the
    # spec requires stability — a history export must not renumber a
    # file its later snapshots re-list as existing)
    _row_ids: dict[str, int] = {}
    _next_row = [0]

    def _first_row_id(f) -> int:
        if f.path not in _row_ids:
            if getattr(f, "first_row_id", None) is not None:
                # spec-primary v3 tables already assigned this file's
                # ids at commit (manifest-list field 520 + inheritance)
                # — export THOSE, never renumber: the exported tree and
                # the native lineage scan must serve identical _row_ids
                _row_ids[f.path] = f.first_row_id
                _next_row[0] = max(_next_row[0], f.first_row_id + f.record_count)
            else:
                _row_ids[f.path] = _next_row[0]
                _next_row[0] += f.record_count
        return _row_ids[f.path]

    dest = dest or os.path.join(table.location, "iceberg-metadata")
    os.makedirs(dest, exist_ok=True)
    snaps = (
        [
            s
            for s in sorted(meta.snapshots, key=lambda s: s.sequence_number)
            if s.snapshot_id in meta.main_ancestry_ids()
        ]
        if history
        else ([meta.current_snapshot] if meta.current_snapshot else [])
    )

    # schemas: export with fresh nested-position ids past last_column_id
    next_id = [meta.last_column_id]

    def alloc() -> int:
        next_id[0] += 1
        return next_id[0]

    schemas_json = [_schema_json(s, alloc) for s in meta.schemas]
    specs_json = []
    for sp in meta.partition_specs:
        fields = []
        for pf in sp.fields:
            src = meta.schema.field_by_id(pf.source_id) or meta.schemas[0].field_by_id(
                pf.source_id
            )
            stype = src.type if src is not None else "string"
            fields.append(
                {
                    "name": pf.name,
                    "transform": _export_transform(pf.transform, stype),
                    "source-id": pf.source_id,
                    "field-id": pf.field_id,
                }
            )
        specs_json.append({"spec-id": sp.spec_id, "fields": fields})

    # Delete manifests are exported under an UNPARTITIONED spec: the
    # spec matches delete files to data files by partition, so a delete
    # manifest carrying all-null tuples under a partitioned spec would
    # only apply to null-partition data files in external engines
    # (rows silently resurrect).  Unpartitioned position deletes target
    # files by path; unpartitioned equality deletes are global — both
    # are the correct (if less prunable) semantics for our deletes.
    unpart_spec_id = next(
        (sp.spec_id for sp in meta.partition_specs if not sp.fields), None
    )
    if unpart_spec_id is None and any(
        table.live_files(s, content="deletes") for s in snaps
    ):
        unpart_spec_id = max(sp.spec_id for sp in meta.partition_specs) + 1
        specs_json.append({"spec-id": unpart_spec_id, "fields": []})

    def _spec_fields_json(spec_id: int) -> list:
        return next(sj["fields"] for sj in specs_json if sj["spec-id"] == spec_id)

    def _manifest_meta(schema_id: int, spec_id: int, content: str) -> dict:
        """Spec-required OCF key-value metadata for a manifest — Java
        readers (Spark/Trino) hard-fail when these are absent."""
        sj = next(s for s in schemas_json if s["schema-id"] == schema_id)
        return {
            "schema": json.dumps(sj, separators=(",", ":")),
            "schema-id": str(schema_id),
            "partition-spec": json.dumps(
                _spec_fields_json(spec_id), separators=(",", ":")
            ),
            "partition-spec-id": str(spec_id),
            "format-version": str(fv),
            "content": content,
        }

    snapshots_json = []
    # avro codec for exported manifests: the spec's required deflate
    # codec halves metadata bytes; null stays the default (byte-golden
    # determinism + widest reader tolerance)
    _codec = str(meta.properties.get("write.avro.codec", "null"))
    delete_cache: dict = {}  # source delete path → rewritten spec file
    # DISTRIBUTED ENCODE LANE (VERDICT r11 task 1): past the entry
    # threshold, executors decode + Avro-encode every data manifest and
    # rewrite every MOR delete parquet; the driver then assembles only
    # manifest lists + metadata JSON.  None = stay on the driver walk.
    dist_recs = _export_data_manifests_distributed(
        table, snaps, dest, fv, _codec, schemas_json, specs_json
    )
    if dist_recs is not None:
        _prefill_delete_cache_distributed(table, snaps, dest, fv, delete_cache)
    for snap in snaps:
        schema = meta.schema_by_id(snap.schema_id)
        if dist_recs is not None and dist_recs.get(snap.snapshot_id):
            mlist_recs = list(dist_recs[snap.snapshot_id])
            snap_first_row = _next_row[0]
            if fv >= 3:
                # distributed fv3 requires table-assigned ids
                # (_export_v3_ids_assigned): the snapshot's first-row-id
                # comes from its commit summary, and the metadata row-id
                # space advances past every referenced assignment
                try:
                    sfr = snap.summary.get("first-row-id")
                    if sfr is not None:
                        snap_first_row = int(sfr)
                except (TypeError, ValueError):
                    pass
                for rec in mlist_recs:
                    fr = rec.get("first_row_id")
                    if fr is not None:
                        _next_row[0] = max(
                            _next_row[0],
                            fr
                            + rec["added_rows_count"]
                            + rec["existing_rows_count"],
                        )
        else:
            files = table.live_files(snap)
            # spec-correct grouping: ONE MANIFEST PER PARTITION SPEC — a
            # manifest's entries all share its declared spec (partition
            # evolution leaves old files on old specs, docs/07)
            by_spec: dict[int, list] = {}
            for f in files:
                by_spec.setdefault(f.spec_id, []).append(f)
            if not by_spec:
                by_spec = {meta.default_spec_id: []}
            mlist_recs = []
            snap_first_row = _next_row[0]
            for spec_id in sorted(by_spec):
                spec = meta.spec_by_id(spec_id)
                group = by_spec[spec_id]
                entry_schema = _manifest_entry_schema(spec, schema, fv)
                manifest_first_row = _next_row[0]
                entries = []
                for f in group:
                    rec = _entry_record(
                        table,
                        f,
                        1 if f.sequence_number == snap.sequence_number else 0,
                        snap.snapshot_id,
                    )
                    if fv >= 3:
                        rec["data_file"]["first_row_id"] = _first_row_id(f)
                    entries.append(rec)
                mname = f"manifest-{snap.snapshot_id}-spec{spec_id}.avro"
                mbuf = write_container(
                    entry_schema,
                    entries,
                    _sync_for(mname),
                    extra_meta=_manifest_meta(snap.schema_id, spec_id, "data"),
                    codec=_codec,
                )
                mpath_ = os.path.join(dest, mname)
                with open(mpath_, "wb") as fh:
                    fh.write(mbuf)
                seqs = [f.sequence_number for f in group] or [snap.sequence_number]
                added = [e for e in entries if e["status"] == 1]
                existing = [e for e in entries if e["status"] != 1]
                mlist_recs.append(
                    {
                        "manifest_path": mpath_,
                        "manifest_length": len(mbuf),
                        "partition_spec_id": spec_id,
                        "content": 0,
                        "sequence_number": snap.sequence_number,
                        "min_sequence_number": min(seqs),
                        "added_snapshot_id": snap.snapshot_id,
                        "added_files_count": len(added),
                        "existing_files_count": len(existing),
                        "deleted_files_count": 0,
                        "added_rows_count": sum(
                            e["data_file"]["record_count"] for e in added
                        ),
                        "existing_rows_count": sum(
                            e["data_file"]["record_count"] for e in existing
                        ),
                        "deleted_rows_count": 0,
                        "partitions": None,
                        **({"first_row_id": manifest_first_row} if fv >= 3 else {}),
                    }
                )
            # merge-on-read delete files → a content=1 manifest of spec-form
            # delete files (position deletes path-normalized + sorted,
            # equality deletes field-id-stamped) so external engines apply
            # the same masks the native scan does.  Under v3 the lane
            # splits: DV/position content becomes deletion-vector Puffin
            # references (_v3_delete_entries), equality deletes keep the
            # parquet rewrite.
        dels = table.live_files(snap, content="deletes")
        if dels:
            spec = PartitionSpec(unpart_spec_id, [])
            entry_schema = _manifest_entry_schema(spec, schema, fv)
            entries = []
            if fv >= 3:
                entries, dels_rest = _v3_delete_entries(
                    table, dels, dest, spec, snap.snapshot_id
                )
            else:
                dels_rest = dels
            for d in dels_rest:
                new_path, code, eq_ids = _rewrite_delete_parquet(
                    table, d, dest, delete_cache
                )
                entries.append(
                    _delete_entry_record(
                        table, d, spec, new_path, code, eq_ids, snap.snapshot_id
                    )
                )
            if not entries:
                dels = []  # nothing survived (e.g. empty tombstones)
        if dels:
            mname = f"manifest-{snap.snapshot_id}-deletes.avro"
            mbuf = write_container(
                entry_schema,
                entries,
                _sync_for(mname),
                extra_meta=_manifest_meta(snap.schema_id, unpart_spec_id, "deletes"),
                codec=_codec,
            )
            mpath_ = os.path.join(dest, mname)
            with open(mpath_, "wb") as fh:
                fh.write(mbuf)
            seqs = [e["sequence_number"] for e in entries]
            mlist_recs.append(
                {
                    "manifest_path": mpath_,
                    "manifest_length": len(mbuf),
                    "partition_spec_id": spec.spec_id,
                    "content": 1,
                    "sequence_number": max(seqs),
                    "min_sequence_number": min(seqs),
                    "added_snapshot_id": snap.snapshot_id,
                    "added_files_count": len(entries),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_rows_count": sum(
                        e["data_file"]["record_count"] for e in entries
                    ),
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                    "partitions": None,
                }
            )
        lname = f"snap-{snap.snapshot_id}.avro"
        lbuf = write_container(
            _manifest_list_schema(fv),
            mlist_recs,
            _sync_for(lname),
            codec=_codec,
            extra_meta={
                "snapshot-id": str(snap.snapshot_id),
                "parent-snapshot-id": (
                    str(snap.parent_snapshot_id)
                    if snap.parent_snapshot_id is not None
                    else "null"
                ),
                "sequence-number": str(snap.sequence_number),
                "format-version": str(fv),
            },
        )
        with open(os.path.join(dest, lname), "wb") as fh:
            fh.write(lbuf)
        snapshots_json.append(
            {
                "snapshot-id": snap.snapshot_id,
                **(
                    {"parent-snapshot-id": snap.parent_snapshot_id}
                    if snap.parent_snapshot_id is not None
                    and any(s.snapshot_id == snap.parent_snapshot_id for s in snaps)
                    else {}
                ),
                "sequence-number": snap.sequence_number,
                "timestamp-ms": snap.timestamp_ms,
                "manifest-list": os.path.join(dest, lname),
                # spec: summary is map<string,string>
                "summary": {
                    "operation": snap.operation,
                    **{k: str(v) for k, v in snap.summary.items()},
                },
                "schema-id": snap.schema_id,
                **({"first-row-id": snap_first_row} if fv >= 3 else {}),
            }
        )

    md = {
        "format-version": fv,
        **({"next-row-id": _next_row[0]} if fv >= 3 else {}),
        "table-uuid": meta.table_uuid
        if _is_uuid(meta.table_uuid)
        else str(uuid.uuid5(uuid.NAMESPACE_URL, meta.table_uuid)),
        "location": table.location,
        "last-sequence-number": meta.last_sequence_number,
        "last-updated-ms": meta.last_updated_ms,
        "last-column-id": next_id[0],
        "current-schema-id": meta.current_schema_id,
        "schemas": schemas_json,
        "default-spec-id": meta.default_spec_id,
        "partition-specs": specs_json,
        "last-partition-id": max(
            [pf.field_id for sp in meta.partition_specs for pf in sp.fields],
            default=999,
        ),
        "default-sort-order-id": meta.default_sort_order_id,
        "sort-orders": [
            {
                "order-id": o.order_id,
                "fields": [
                    {
                        "transform": "identity",
                        "source-id": sf_.source_id,
                        "direction": sf_.direction,
                        "null-order": sf_.null_order,
                    }
                    for sf_ in o.fields
                ],
            }
            for o in meta.sort_orders
        ],
        "properties": {
            **{k: str(v) for k, v in meta.properties.items()},
            "icepack.exported": "true",
            # icepack's parquet carries no embedded Iceberg field ids;
            # the spec's name mapping is the standard resolution rule
            # for exactly this case (adopted/imported files) — readers
            # match columns by name, then apply the mapped field ids,
            # so renames recorded in the schema history still resolve
            "schema.name-mapping.default": json.dumps(
                _name_mapping(meta), separators=(",", ":")
            ),
        },
        "current-snapshot-id": meta.current_snapshot_id
        if meta.current_snapshot_id is not None and snaps
        else -1,
        "snapshots": snapshots_json,
        "snapshot-log": [
            {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
            for s in snapshots_json
        ],
        "metadata-log": [],
        "refs": (
            {"main": {"snapshot-id": meta.current_snapshot_id, "type": "branch"}}
            if meta.current_snapshot_id is not None and snaps
            else {}
        ),
    }
    # versioned like a real Iceberg commit log: a re-export after new
    # commits writes v{N+1}.metadata.json, records the previous file
    # in metadata-log, and atomically advances version-hint — an
    # external engine following the hint sees each export as a new
    # table version (readers of vN keep working; files are immutable)
    hint_path = os.path.join(dest, "version-hint.text")
    version = 1
    if os.path.exists(hint_path):
        version = int(open(hint_path).read().strip()) + 1
    # claim the version file with O_EXCL: two concurrent exporters
    # (e.g. two committers with the commit-mirror enabled) get DISTINCT
    # versions instead of both computing v{N+1} and last-wins clobbering
    # one export
    while True:
        mpath = os.path.join(dest, f"v{version}.metadata.json")
        try:
            fd = os.open(mpath, os.O_WRONLY | os.O_CREAT | os.O_EXCL)
            break
        except FileExistsError:
            version += 1
    prev_path = os.path.join(dest, f"v{version - 1}.metadata.json")
    if os.path.exists(prev_path):
        try:
            prev_md = json.load(open(prev_path))
            md["metadata-log"] = (prev_md.get("metadata-log") or []) + [
                {
                    "timestamp-ms": prev_md.get("last-updated-ms", 0),
                    "metadata-file": prev_path,
                }
            ]
        except ValueError:
            pass  # concurrent writer mid-flight: omit the log link
    with os.fdopen(fd, "w") as fh:
        json.dump(md, fh, indent=2)
    # advance the hint FORWARD-only (atomic replace; a racing exporter
    # with a higher version re-checks the same way, so the hint settles
    # on the max)
    while True:
        cur = int(open(hint_path).read().strip()) if os.path.exists(hint_path) else 0
        if cur >= version:
            break
        tmp = hint_path + f".tmp.{version}"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, hint_path)  # atomic: followers see old or new
        if (int(open(hint_path).read().strip()) if os.path.exists(hint_path) else 0) >= version:
            break
    return mpath


def _name_mapping(meta) -> list:
    """Spec name-mapping JSON: every name a field id has EVER had maps
    to that id, so files written before a rename resolve to the same
    column as files written after it."""
    names_by_id: dict[int, list] = {}
    for s in sorted(meta.schemas, key=lambda s: s.schema_id):
        for f in s.fields:
            names = names_by_id.setdefault(f.id, [])
            if f.name not in names:
                names.append(f.name)
    return [
        {"field-id": fid, "names": names}
        for fid, names in sorted(names_by_id.items())
    ]


def _is_uuid(s: str) -> bool:
    try:
        uuid.UUID(str(s))
        return True
    except ValueError:
        return False


# --------------------------------------------------------------- verifier


def read_exported_file_list(metadata_path: str, snapshot_id: int | None = None):
    """Independent read-back of an export: walk metadata.json →
    manifest list → manifests with the generic avro decoder and return
    [(file_path, record_count)] of live data files.  Used by tests and
    the ``ice43`` driver query to prove the exported snapshot matches
    ``live_files()``."""
    from .avroenc import read_container

    with open(metadata_path) as fh:
        md = json.load(fh)
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = next(s for s in md["snapshots"] if s["snapshot-id"] == sid)
    _, mlist = read_container(open(snap["manifest-list"], "rb").read())
    out = []
    for m in mlist:
        if m.get("content", 0) != 0:
            continue  # delete manifest: not part of the DATA file list
        _, entries = read_container(open(m["manifest_path"], "rb").read())
        for e in entries:
            if e["status"] == 2:  # deleted
                continue
            out.append((e["data_file"]["file_path"], e["data_file"]["record_count"]))
    return sorted(out)
