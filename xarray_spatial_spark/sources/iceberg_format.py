"""Iceberg v2 table format — from scratch (no runtime jar).

The north rule's input is "an Iceberg table of Common-Crawl-style web
pages", and this sandbox has no ``iceberg-spark-runtime`` jar.  Rather
than only emulating the partition-pruning contract (sources/iceberg.py's
Hive-layout fallback), this module implements the PUBLIC Iceberg table
spec (iceberg.apache.org/spec, format-version 2) directly:

* ``metadata/vN.metadata.json`` + ``version-hint.text`` (the Hadoop-
  catalog layout), with schemas carrying field-ids, identity partition
  specs, snapshot log and sequence numbers;
* manifest files and manifest lists as real Avro object containers
  (sources/avro.py, itself cross-validated against the Avro Java
  library) with the spec's field-ids in the schema JSON;
* data files as plain parquet under ``data/<col>=<val>/``.

``write_iceberg`` commits append snapshots; ``read_iceberg`` resolves
the current (or any historical) snapshot through version-hint ->
metadata -> manifest list -> manifests and hands ONLY the surviving
data files to ``spark.read.parquet`` — partition pruning happens at
the METADATA layer, before Spark plans the scan, which is exactly
Iceberg's scale story: the 100-TB table's file list never touches an
executor, and a pruned query plans over the pruned file set only.

Interop: tables written here follow the spec's Hadoop-catalog layout
(a real iceberg-spark-runtime can be pointed at the warehouse with
zero changes); the Avro layer is oracle-tested against the reference
Java implementation both directions.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xarray_spatial_spark.sources import avro

_TYPE_MAP = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "double": "double", "float": "float", "string": "string",
    "boolean": "boolean", "binary": "binary", "date": "date",
    "timestamp": "timestamptz",
}

# spec field-ids for manifest_file (the manifest-list entry record)
_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}


def _manifest_schema(partition_fields: list[tuple[str, str]]) -> dict:
    """manifest_entry schema with the table's identity partition struct
    (r102).  ``partition_fields`` = [(name, iceberg_type)]."""
    part_record = {
        "type": "record", "name": "r102", "fields": [
            {"name": n, "type": ["null", t], "default": None,
             "field-id": 1000 + k}
            for k, (n, t) in enumerate(partition_fields)
        ],
    }
    def _bounds_map(name, fid, kid, vid):
        # the spec encodes int-keyed maps as k/v record arrays
        return {"name": name, "field-id": fid, "default": None,
                "type": ["null", {
                    "type": "array", "logicalType": "map",
                    "items": {"type": "record", "name": f"k{kid}_v{vid}",
                              "fields": [
                                  {"name": "key", "type": "int",
                                   "field-id": kid},
                                  {"name": "value", "type": "bytes",
                                   "field-id": vid}]}}]}

    data_file = {
        "type": "record", "name": "r2", "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {"name": "partition", "type": part_record, "field-id": 102},
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            _bounds_map("lower_bounds", 125, 126, 127),
            _bounds_map("upper_bounds", 128, 129, 130),
            {"name": "equality_ids", "field-id": 135, "default": None,
             "type": ["null", {"type": "array", "items": "int",
                               "element-id": 136}]},
        ],
    }
    return {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "type": data_file, "field-id": 2},
        ],
    }


def _encode_bound(v, itype: str) -> bytes:
    """Iceberg single-value binary serialization (spec appendix D)."""
    import struct as _s

    if itype == "int":
        return _s.pack("<i", int(v))
    if itype == "long":
        return _s.pack("<q", int(v))
    if itype == "float":
        return _s.pack("<f", float(v))
    if itype == "double":
        return _s.pack("<d", float(v))
    if itype == "boolean":
        return b"\x01" if v else b"\x00"
    if itype == "string":
        return str(v).encode("utf-8")
    raise NotImplementedError(f"no bound serialization for {itype}")


def _decode_bound(raw: bytes, itype: str):
    import struct as _s

    if itype == "int":
        return _s.unpack("<i", raw)[0]
    if itype == "long":
        return _s.unpack("<q", raw)[0]
    if itype == "float":
        return _s.unpack("<f", raw)[0]
    if itype == "double":
        return _s.unpack("<d", raw)[0]
    if itype == "boolean":
        return raw == b"\x01"
    if itype == "string":
        return raw.decode("utf-8")
    raise NotImplementedError(f"no bound deserialization for {itype}")


def _file_bounds(fp: str, by_name: dict[str, tuple[int, str]]):
    """(lower, upper) k/v record lists from the parquet footer stats,
    aggregated across row groups; columns without stats are omitted."""
    meta = pq.ParquetFile(fp).metadata
    lo: dict[str, object] = {}
    hi: dict[str, object] = {}
    for rg in range(meta.num_row_groups):
        g = meta.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if name not in by_name or st is None or not st.has_min_max:
                continue
            lo[name] = st.min if name not in lo else min(lo[name], st.min)
            hi[name] = st.max if name not in hi else max(hi[name], st.max)
    lower = [{"key": by_name[n][0], "value": _encode_bound(v, by_name[n][1])}
             for n, v in sorted(lo.items()) if _boundable(by_name[n][1])]
    upper = [{"key": by_name[n][0], "value": _encode_bound(v, by_name[n][1])}
             for n, v in sorted(hi.items()) if _boundable(by_name[n][1])]
    return lower or None, upper or None


def _boundable(itype: str) -> bool:
    return itype in ("int", "long", "float", "double", "boolean", "string")


def _iceberg_type(spark_type: str) -> str:
    t = _TYPE_MAP.get(spark_type)
    if t is None:
        raise NotImplementedError(
            f"no iceberg mapping for spark type {spark_type!r}")
    return t


def _read_metadata(table_dir: str) -> dict:
    meta_dir = os.path.join(table_dir, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        v = int(open(hint).read().strip())
        path = os.path.join(meta_dir, f"v{v}.metadata.json")
    else:
        vs = sorted(f for f in os.listdir(meta_dir)
                    if f.endswith(".metadata.json"))
        if not vs:
            raise FileNotFoundError(f"no metadata in {meta_dir}")
        path = os.path.join(meta_dir, vs[-1])
    return json.load(open(path))


def _partition_value_str(v) -> str:
    return "null" if v is None else str(v)


def zorder_column(
    df: DataFrame,
    columns: list[str],
    bits: int = 8,
) -> "tuple[DataFrame, str]":
    """(df + ``_zorder`` column, its name): a Z-ORDER clustering key
    over 2-4 columns — each column maps to a ``bits``-bit QUANTILE
    bucket (cut points from one approxQuantile pass, so skew can't
    collapse buckets), and the bucket ids bit-interleave into one
    morton value.  Sorting files by it keeps per-file min/max bounds
    tight on EVERY participating column at once, where a 1-D sort
    helps only its leading column — the multi-column file-skipping
    clustering (Databricks' OPTIMIZE ZORDER semantics, built from
    Catalyst bit ops; the interleave is pure codegen, the only scan
    cost is the one quantile pass)."""
    if not 2 <= len(columns) <= 4:
        raise ValueError("zorder needs 2-4 columns")
    n_buckets = 1 << bits
    all_cuts = df.stat.approxQuantile(
        columns, [i / n_buckets for i in range(1, n_buckets)], 0.01)
    bucket_cols = []
    for c, cuts in zip(columns, all_cuts):
        # strictly increasing cut points; duplicates (skew) collapse
        dedup = []
        for v in cuts:
            if not dedup or v > dedup[-1]:
                dedup.append(v)
        arr = F.array(*[F.lit(float(v)) for v in dedup])
        bucket = F.aggregate(
            arr, F.lit(0),
            lambda acc, cut: acc + F.when(
                F.col(c).cast("double") >= cut, 1).otherwise(0))
        bucket_cols.append(F.coalesce(bucket, F.lit(0)))
    # morton interleave: bit b of column j lands at position
    # b*len(columns)+j
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j, bc in enumerate(bucket_cols):
            z = z + (F.shiftleft(
                F.shiftright(bc.cast("long"), b).bitwiseAND(F.lit(1)),
                b * len(columns) + j))
    return df.withColumn("_zorder", z), "_zorder"


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 from the public algorithm — the hash the Iceberg
    spec mandates for bucket transforms (int/long values hash as their
    8-byte little-endian LONG form, strings as UTF-8 bytes).  Returns
    the unsigned 32-bit hash; spec test vectors pinned in tests."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n4 = len(data) // 4
    for i in range(n4):
        k = int.from_bytes(data[4 * i: 4 * i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    tail = data[4 * n4:]
    if tail:
        k = int.from_bytes(tail, "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _murmur3_long_np(v):
    """Vectorized murmur3_x86_32 over int64 values in their 8-byte
    little-endian form (two 4-byte blocks) — bit-identical to
    ``_murmur3_32(struct.pack('<q', v))``; used for fast bucket
    assignment on integer columns."""
    import numpy as np

    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    x = v.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.zeros(len(x), np.uint32)
        for blk in ((x & np.uint64(0xFFFFFFFF)).astype(np.uint32),
                    (x >> np.uint64(32)).astype(np.uint32)):
            k = blk * c1
            k = (k << np.uint32(15)) | (k >> np.uint32(17))
            k = k * c2
            h ^= k
            h = (h << np.uint32(13)) | (h >> np.uint32(19))
            h = h * np.uint32(5) + np.uint32(0xE6546B64)
        h ^= np.uint32(8)
        h ^= h >> np.uint32(16)
        h = h * np.uint32(0x85EBCA6B)
        h ^= h >> np.uint32(13)
        h = h * np.uint32(0xC2B2AE35)
        h ^= h >> np.uint32(16)
    return h


_PART_RE = None


def _parse_partition_by(partition_by, by_name):
    """Parse partition specs: plain column names (identity) plus the
    spec transforms ``day(ts)``, ``bucket(N, col)``, ``truncate(W,
    col)``.  Returns [{name, transform, source, param, itype}];
    ``transform`` uses the metadata JSON forms (identity / day /
    bucket[N] / truncate[W]), names follow the Iceberg convention
    (ts_day, url_bucket, lang_trunc)."""
    import re

    global _PART_RE
    if _PART_RE is None:
        _PART_RE = re.compile(
            r"^\s*(day|bucket|truncate)\s*\(\s*(?:(\d+)\s*,\s*)?"
            r"([A-Za-z_][A-Za-z0-9_]*)\s*\)\s*$")
    specs = []
    for p in partition_by:
        m = _PART_RE.match(p)
        if m is None:
            if p not in by_name:
                raise ValueError(f"partition column {p!r} not in dataframe")
            specs.append({"name": p, "transform": "identity", "source": p,
                          "param": None, "itype": by_name[p][1],
                          "_stype": by_name[p][1]})
            continue
        fn, param, src = m.group(1), m.group(2), m.group(3)
        if src not in by_name:
            raise ValueError(f"partition source column {src!r} not in dataframe")
        stype = by_name[src][1]
        if fn == "day":
            if param is not None:
                raise ValueError("day() takes no width")
            if stype not in ("timestamptz", "date"):
                raise ValueError(f"day() needs a timestamp/date, got {stype}")
            specs.append({"name": f"{src}_day", "transform": "day",
                          "source": src, "param": None, "itype": "int",
                          "_stype": stype})
        elif fn == "bucket":
            if not param:
                raise ValueError("bucket(N, col) needs N")
            if stype not in ("int", "long", "string"):
                raise ValueError(f"bucket() on {stype} not supported")
            specs.append({"name": f"{src}_bucket",
                          "transform": f"bucket[{int(param)}]",
                          "source": src, "param": int(param), "itype": "int",
                          "_stype": stype})
        else:
            if not param:
                raise ValueError("truncate(W, col) needs W")
            if stype not in ("int", "long", "string"):
                raise ValueError(f"truncate() on {stype} not supported")
            specs.append({"name": f"{src}_trunc",
                          "transform": f"truncate[{int(param)}]",
                          "source": src, "param": int(param),
                          "itype": "string" if stype == "string" else stype,
                          "_stype": stype})
    if len({sp["name"] for sp in specs}) != len(specs):
        raise ValueError("duplicate partition field names")
    return specs


def _specs_from_metadata(md):
    """Reconstruct the parsed partition specs from table metadata (the
    inverse of :func:`_parse_partition_by`) so merge/rewrite can
    recompute transform columns."""
    fields = md["schemas"][md["current-schema-id"]]["fields"]
    name_by_id = {f["id"]: f["name"] for f in fields}
    type_by_id = {f["id"]: f["type"] for f in fields}
    specs = []
    for pf in md["partition-specs"][0]["fields"]:
        tf = pf["transform"]
        src = name_by_id[pf["source-id"]]
        stype = type_by_id[pf["source-id"]]
        param = None
        if tf.startswith(("bucket[", "truncate[")):
            param = int(tf.split("[", 1)[1].rstrip("]"))
        if tf == "identity":
            itype = stype
        elif tf == "day" or tf.startswith("bucket["):
            itype = "int"
        else:
            itype = "string" if stype == "string" else stype
        specs.append({"name": pf["name"], "transform": tf, "source": src,
                      "param": param, "itype": itype, "_stype": stype})
    return specs


def _transform_column(spec):
    """Column expression for a non-identity partition transform.

    day: floor(epoch_seconds / 86400) — the UTC day ordinal, timezone-
    independent.  bucket[N]: (murmur3_x86_32(v) & MAX_INT) % N per the
    spec, via an Arrow-batched udf (vectorized two-block hash for
    integer sources, per-row UTF-8 hash for strings).  truncate[W]:
    string prefix / floor-multiple for integers."""
    src = F.col(spec["source"])
    tf = spec["transform"]
    if tf == "day":
        return F.floor(src.cast("double") / 86400).cast("int")
    if tf.startswith("truncate["):
        w = spec["param"]
        if spec["itype"] == "string":
            return F.substring(src, 1, w)
        return (src - F.pmod(src, F.lit(w))).cast(
            "bigint" if spec["itype"] == "long" else "int")
    if tf.startswith("bucket["):
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        n = spec["param"]
        str_source = spec["_stype"] == "string"

        @pandas_udf("int")
        def _bucket(sr: pd.Series) -> pd.Series:
            mask = sr.notna()
            out = pd.Series([pd.NA] * len(sr), dtype="Int32")
            if not mask.any():
                return out
            vals = sr[mask]
            if str_source:
                hs = np.fromiter(
                    (_murmur3_32(str(x).encode("utf-8")) for x in vals),
                    dtype=np.uint32, count=len(vals))
            else:
                hs = _murmur3_long_np(vals.to_numpy(np.int64))
            out[mask] = ((hs & np.uint32(0x7FFFFFFF)) % np.uint32(n)).astype(
                "int32")
            return out

        return _bucket(src)
    raise ValueError(f"unknown transform {tf!r}")


def _walk_data_entries(snap_dir, snap_id, partition_by, by_name,
                       part_types=None):
    """Driver walk of a freshly-written snapshot dir -> ADDED data-file
    manifest entries (content 0) with partition values recovered from
    the Hive layout and per-file column bounds; returns
    (entries, total_rows).  Shared by write_iceberg / merge_into /
    rewrite_data_files.  ``part_types`` maps partition FIELD names to
    iceberg types (transform fields aren't schema columns); defaults
    to the schema type."""
    part_types = part_types or {}
    entries = []
    n_rows_total = 0
    for root, _dirs, files in os.walk(snap_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            rel = os.path.relpath(root, snap_dir)
            pvals: dict[str, object] = {c: None for c in partition_by}
            if rel != ".":
                for seg in rel.split(os.sep):
                    k, _, v = seg.partition("=")
                    if k in pvals:
                        pvals[k] = (
                            None if v == "__HIVE_DEFAULT_PARTITION__"
                            else _cast_part(
                                v, part_types.get(k, by_name.get(k, (0, "string"))[1])))
            nrows = pq.ParquetFile(fp).metadata.num_rows
            n_rows_total += nrows
            lower, upper = _file_bounds(fp, by_name)
            entries.append({
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": None,  # inherited = this snapshot's seq
                "file_sequence_number": None,
                "data_file": {
                    "content": 0,
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": pvals,
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "lower_bounds": lower,
                    "upper_bounds": upper,
                    "equality_ids": None,
                },
            })
    return entries, n_rows_total


def write_iceberg(
    df: DataFrame,
    table_dir: str,
    partition_by: list[str] | None = None,
    mode: str = "append",
    summary_extra: dict[str, str] | None = None,
    sort_by: list[str] | None = None,
    sort_partitions: int | None = None,
    zorder: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new append snapshot of the Iceberg table at
    ``table_dir`` (created on first write).  ``partition_by`` entries
    are identity column names or the spec's hidden-partition
    transforms — ``day(ts)``, ``bucket(N, col)`` (spec murmur3),
    ``truncate(W, col)`` — so a Common-Crawl table lays out as e.g.
    ``["day(warc_ts)", "bucket(64, url)"]``.  Returns the snapshot id.

    One Spark write job for the data files; everything else is
    KB-scale driver metadata (the Iceberg design point)."""
    partition_by = list(partition_by or [])
    spark = df.sparkSession
    meta_dir = os.path.join(table_dir, "metadata")
    data_dir = os.path.join(table_dir, "data")
    os.makedirs(meta_dir, exist_ok=True)

    exists = os.path.exists(os.path.join(meta_dir, "version-hint.text"))
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unsupported mode {mode!r}")
    md = _load_metadata_with_version(table_dir) if exists else None

    # ---- schema (with ADD-COLUMN evolution): existing columns keep
    # their field ids and must keep their types; new columns get fresh
    # ids past last-column-id; dropped columns stay in the schema and
    # read back as nulls for newer files (Iceberg reads by field id)
    if md:
        cur_schema = md["schemas"][md["current-schema-id"]]
        fields = [dict(f) for f in cur_schema["fields"]]
        known = {f["name"]: f for f in fields}
        next_id = md["last-column-id"]
        for f in df.schema.fields:
            it = _iceberg_type(f.dataType.simpleString())
            have = known.get(f.name)
            if have is None:
                next_id += 1
                nf = {"id": next_id, "name": f.name,
                      "required": False, "type": it}
                fields.append(nf)
                known[f.name] = nf
            elif have["type"] != it:
                raise ValueError(
                    f"column {f.name!r} type change "
                    f"{have['type']} -> {it} is not supported")
        last_col_id = max(md["last-column-id"], next_id)
        schema_changed = len(fields) != len(cur_schema["fields"])
    else:
        fields = []
        for i, f in enumerate(df.schema.fields):
            fields.append({"id": i + 1, "name": f.name,
                           "required": False,
                           "type": _iceberg_type(f.dataType.simpleString())})
        last_col_id = len(fields)
        schema_changed = False
    by_name = {f["name"]: (f["id"], f["type"]) for f in fields}
    specs = _parse_partition_by(partition_by, by_name)
    part_names = [sp["name"] for sp in specs]
    if md is not None:
        want = [(f["name"], f["transform"])
                for f in md["partition-specs"][0]["fields"]]
        if [(sp["name"], sp["transform"]) for sp in specs] != want:
            raise ValueError("partition_by differs from the table's spec")
    part_fields = [(sp["name"], sp["itype"]) for sp in specs]

    # ---- data files: ONE partitioned write into a per-snapshot dir
    seq = (md["last-sequence-number"] + 1) if md else 1
    snap_id = int(time.time() * 1000) * 10 + seq % 10
    snap_dir = os.path.join(data_dir, f"snap-{seq:05d}")
    if zorder:
        if sort_by:
            raise ValueError("pass sort_by or zorder, not both")
        # multi-column clustering: quantile-bucketed morton key keeps
        # per-file bounds tight on EVERY zorder column (1-D sort_by
        # only helps its leading column)
        df, zcol = zorder_column(df, zorder)
        args = ([sort_partitions] if sort_partitions else []) + [F.col(zcol)]
        df = df.repartitionByRange(*args).sortWithinPartitions(zcol)
        df = df.drop(zcol)
    elif sort_by:
        # cluster within files: repartitionByRange + in-file sort makes
        # per-file min/max bounds TIGHT, so column_ranges skips most
        # files instead of none (the write-side half of file skipping);
        # explicit sort_partitions overrides AQE coalescing for small
        # inputs (one file = no skipping)
        args = ([sort_partitions] if sort_partitions else []) + [
            F.col(c) for c in sort_by]
        df = df.repartitionByRange(*args).sortWithinPartitions(*sort_by)
    for sp in specs:
        if sp["transform"] != "identity":
            df = df.withColumn(sp["name"], _transform_column(sp))
    w = df.write.mode("error")
    if part_names:
        w = w.partitionBy(*part_names)
    w.parquet(snap_dir)

    # ---- manifest entries from the written files (driver walk)
    entries, n_rows_total = _walk_data_entries(
        snap_dir, snap_id, part_names, by_name,
        {sp["name"]: sp["itype"] for sp in specs})

    man_path = os.path.join(meta_dir, f"manifest-{seq:05d}.avro")
    avro.write_container(man_path, _manifest_schema(part_fields), entries)

    # ---- manifest list: prior manifests (append) or none (overwrite —
    # old data files stay on disk and remain readable via time travel)
    prior = []
    if md and mode == "append":
        cur = next(s for s in md["snapshots"]
                   if s["snapshot-id"] == md["current-snapshot-id"])
        _, prior = avro.read_container(cur["manifest-list"])
    new_entry = {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows_total,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    ml_path = os.path.join(meta_dir, f"snap-{snap_id}-manifest-list.avro")
    avro.write_container(ml_path, _MANIFEST_LIST_SCHEMA, prior + [new_entry])

    # ---- new metadata version
    now = int(time.time() * 1000)
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {"operation": mode if md else "append",
                        "added-data-files": str(len(entries)),
                        "added-records": str(n_rows_total),
                        **(summary_extra or {})},
            "manifest-list": ml_path,
            "schema-id": (md["current-schema-id"] + 1 if md and schema_changed
                          else (md["current-schema-id"] if md else 0))}
    version = (md["__version"] + 1) if md else 1
    new_md = {
        "format-version": 2,
        "table-uuid": md["table-uuid"] if md else str(uuid.uuid4()),
        "location": table_dir,
        "last-sequence-number": seq,
        "last-updated-ms": now,
        "last-column-id": last_col_id,
        "schemas": _evolved_schemas(md, fields, schema_changed),
        "current-schema-id": (
            md["current-schema-id"] + 1 if md and schema_changed
            else (md["current-schema-id"] if md else 0)),
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": sp["name"], "transform": sp["transform"],
             "source-id": by_name[sp["source"]][0], "field-id": 1000 + k}
            for k, sp in enumerate(specs)]}],
        "default-spec-id": 0,
        "last-partition-id": 1000 + len(specs) - 1,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "default-sort-order-id": 0,
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": snap_id,
        "snapshots": (md["snapshots"] if md else []) + [snap],
        "snapshot-log": (md.get("snapshot-log", []) if md else [])
        + [{"snapshot-id": snap_id, "timestamp-ms": now}],
        "metadata-log": [],
    }
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(new_md, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    # spark never sees __version; track it for appends via the hint
    return snap_id


def _evolved_schemas(md, fields, schema_changed):
    if not md:
        return [{"type": "struct", "schema-id": 0, "fields": fields}]
    if not schema_changed:
        return md["schemas"]
    return md["schemas"] + [{
        "type": "struct",
        "schema-id": md["current-schema-id"] + 1,
        "fields": fields,
    }]


def _cast_part(v: str, itype: str):
    if itype == "long" or itype == "int":
        return int(v)
    if itype in ("double", "float"):
        return float(v)
    if itype == "boolean":
        return v == "true"
    return v


def _load_metadata_with_version(table_dir: str) -> dict:
    md = _read_metadata(table_dir)
    hint = os.path.join(table_dir, "metadata", "version-hint.text")
    md["__version"] = int(open(hint).read().strip())
    return md


def snapshots(table_dir: str) -> list[dict]:
    """The table's snapshot log (id, sequence, timestamp, summary)."""
    return _read_metadata(table_dir)["snapshots"]


def data_files(
    table_dir: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    column_ranges: dict | None = None,
) -> list[dict]:
    """Resolve a snapshot to its live data files via the manifest
    chain, pruning whole files BEFORE any Spark planning by

    * identity-partition values (``partition_filter={'lang': 'en'}``),
    * column min/max bounds from the manifests
      (``column_ranges={'n_chars': (lo, hi)}``, either end None-able) —
      a file survives only if [file_min, file_max] intersects the
      range; files without stats for the column are kept (pruning must
      never drop a possible match).

    Returns manifest data_file dicts."""
    md = _read_metadata(table_dir)
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = next((s for s in md["snapshots"] if s["snapshot-id"] == sid), None)
    if snap is None:
        raise KeyError(f"snapshot {sid} not in table")
    fields = md["schemas"][md["current-schema-id"]]["fields"]
    type_by_id = {f["id"]: f["type"] for f in fields}
    id_by_name = {f["name"]: f["id"] for f in fields}
    seq_by_snap = {s["snapshot-id"]: s["sequence-number"]
                   for s in md["snapshots"]}
    _, manifests = avro.read_container(snap["manifest-list"])
    out = []
    for mf in manifests:
        _, entries = avro.read_container(mf["manifest_path"])
        for e in entries:
            if e["status"] == 2:  # DELETED
                continue
            dfd = e["data_file"]
            if dfd.get("content", 0) != 0:  # delete file, not data
                continue
            part = dfd["partition"]
            if partition_filter and any(
                    part.get(k) != v for k, v in partition_filter.items()):
                continue
            if column_ranges and not _ranges_match(
                    dfd, column_ranges, id_by_name, type_by_id):
                continue
            dfd = dict(dfd)
            dfd["_seq"] = (e["sequence_number"]
                           if e["sequence_number"] is not None
                           else seq_by_snap.get(e["snapshot_id"], 0))
            out.append(dfd)
    return out


def delete_files(table_dir: str, snapshot_id: int | None = None) -> list[dict]:
    """Live equality-delete files of a snapshot, with their sequence
    numbers and the NAMES of their equality columns resolved."""
    md = _read_metadata(table_dir)
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = next((s for s in md["snapshots"] if s["snapshot-id"] == sid), None)
    if snap is None:
        raise KeyError(f"snapshot {sid} not in table")
    fields = md["schemas"][md["current-schema-id"]]["fields"]
    name_by_id = {f["id"]: f["name"] for f in fields}
    seq_by_snap = {s["snapshot-id"]: s["sequence-number"]
                   for s in md["snapshots"]}
    _, manifests = avro.read_container(snap["manifest-list"])
    out = []
    for mf in manifests:
        _, entries = avro.read_container(mf["manifest_path"])
        for e in entries:
            if e["status"] == 2:
                continue
            dfd = e["data_file"]
            if dfd.get("content", 0) not in (1, 2):
                continue
            dfd = dict(dfd)
            dfd["_seq"] = (e["sequence_number"]
                           if e["sequence_number"] is not None
                           else seq_by_snap.get(e["snapshot_id"], 0))
            dfd["_columns"] = [name_by_id[i]
                               for i in dfd.get("equality_ids") or []]
            out.append(dfd)
    return out


def _ranges_match(dfd: dict, column_ranges: dict,
                  id_by_name: dict, type_by_id: dict) -> bool:
    lo_by_id = {kv["key"]: kv["value"] for kv in dfd.get("lower_bounds") or []}
    hi_by_id = {kv["key"]: kv["value"] for kv in dfd.get("upper_bounds") or []}
    for col, (qlo, qhi) in column_ranges.items():
        fid = id_by_name.get(col)
        if fid is None:
            raise KeyError(f"no column {col!r} in table schema")
        it = type_by_id[fid]
        if fid in hi_by_id and qlo is not None:
            if _decode_bound(hi_by_id[fid], it) < qlo:
                return False
        if fid in lo_by_id and qhi is not None:
            if _decode_bound(lo_by_id[fid], it) > qhi:
                return False
    return True


def read_iceberg(
    spark: SparkSession,
    table_dir: str,
    snapshot_id: int | None = None,
    partition_filter: dict | None = None,
    column_ranges: dict | None = None,
) -> DataFrame:
    """Plan a scan over exactly the snapshot's (pruned) data files.
    Each snapshot's files are read with the snapshot dir as
    ``basePath`` (recovering identity-partition columns from the
    layout — the spec allows them absent from data files) and the
    per-snapshot scans union; snapshot count = commit count, small."""
    files = data_files(table_dir, snapshot_id, partition_filter,
                       column_ranges)
    if not files:
        md = _read_metadata(table_dir)
        from pyspark.sql.types import StructType
        schema = StructType.fromDDL(", ".join(
            f"`{f['name']}` {_SPARK_TYPE[f['type']]}"
            for f in md["schemas"][md["current-schema-id"]]["fields"]))
        return spark.createDataFrame([], schema=schema)
    dels = delete_files(table_dir, snapshot_id)
    by_snap: dict[tuple, list[str]] = {}
    data_root = os.path.join(table_dir, "data")
    for f in files:
        rel = os.path.relpath(f["file_path"], data_root)
        snap_dir = os.path.join(data_root, rel.split(os.sep)[0])
        by_snap.setdefault((snap_dir, f["_seq"]), []).append(f["file_path"])
    md = _read_metadata(table_dir)
    schema_fields = md["schemas"][md["current-schema-id"]]["fields"]
    out = None
    for (snap_dir, seq), paths in sorted(by_snap.items()):
        part = spark.read.option("basePath", snap_dir).parquet(*paths)
        # schema evolution: files written before a column existed get
        # typed nulls (Iceberg read-by-field-id semantics)
        from pyspark.sql import functions as _F

        for f in schema_fields:
            if f["name"] not in part.columns:
                part = part.withColumn(
                    f["name"],
                    _F.lit(None).cast(_SPARK_TYPE[f["type"]]))
        part = part.select(*[f["name"] for f in schema_fields])
        from pyspark.sql import functions as _F

        # v2 position deletes apply to data files with seq <= their
        # own: anti-join on (file_path, row index) via _metadata
        pos_dels = [d for d in dels
                    if d.get("content") == 1 and d["_seq"] >= seq]
        if pos_dels:
            with_meta = spark.read.option("basePath", snap_dir).parquet(
                *paths).withColumn(
                "__fp", _F.regexp_replace(
                    _F.col("_metadata.file_path"), "^file:", "")
            ).withColumn("__pos", _F.col("_metadata.row_index"))
            for f in schema_fields:
                if f["name"] not in with_meta.columns:
                    with_meta = with_meta.withColumn(
                        f["name"],
                        _F.lit(None).cast(_SPARK_TYPE[f["type"]]))
            keys = spark.read.parquet(
                *[d["file_path"] for d in pos_dels]).select(
                _F.regexp_replace("file_path", "^file:", "").alias("__fp"),
                _F.col("pos").alias("__pos"))
            part = with_meta.join(
                _F.broadcast(keys), ["__fp", "__pos"], "left_anti"
            ).select(*[f["name"] for f in schema_fields])
        # v2 equality deletes: a delete applies to rows of data files
        # whose data sequence number is STRICTLY LESS than the
        # delete's (spec) — group-wise broadcast anti-joins
        applicable = [d for d in dels
                      if d.get("content") == 2 and d["_seq"] > seq]
        by_cols: dict[tuple, list[str]] = {}
        for d in applicable:
            by_cols.setdefault(tuple(d["_columns"]), []).append(
                d["file_path"])
        for cols, dpaths in sorted(by_cols.items()):
            keys = spark.read.parquet(*dpaths).select(*cols).distinct()
            part = part.join(_F.broadcast(keys), list(cols), "left_anti")
        out = part if out is None else out.unionByName(part)
    return out


_SPARK_TYPE = {
    "long": "bigint", "int": "int", "double": "double", "float": "float",
    "string": "string", "boolean": "boolean", "binary": "binary",
    "date": "date", "timestamptz": "timestamp",
}


# ---------------------------------------------------------------------------
# streaming sink — exactly-once appends via batch-id idempotence
# ---------------------------------------------------------------------------


def last_streaming_batch(table_dir: str) -> int:
    """Highest streaming-batch-id already committed (-1 if none)."""
    try:
        snaps = snapshots(table_dir)
    except FileNotFoundError:
        return -1
    best = -1
    for s in snaps:
        bid = s.get("summary", {}).get("streaming-batch-id")
        if bid is not None:
            best = max(best, int(bid))
    return best


def iceberg_sink(
    sdf,
    table_dir: str,
    checkpoint: str,
    partition_by: list[str] | None = None,
    trigger_once: bool = True,
):
    """Structured-Streaming sink writing each micro-batch as one
    Iceberg append snapshot, EXACTLY-ONCE: the snapshot summary
    records the batch id, and a replayed batch (foreachBatch reruns
    after failures) is skipped when its id is already committed — the
    commit and the dedup marker are the same atomic metadata write,
    the standard Iceberg streaming-sink idempotence pattern."""

    def _commit(batch_df, batch_id: int):
        if batch_id <= last_streaming_batch(table_dir):
            return  # replay of an already-committed batch
        write_iceberg(batch_df, table_dir, partition_by=partition_by,
                      summary_extra={"streaming-batch-id": str(batch_id)})

    w = (sdf.writeStream.foreachBatch(_commit)
         .option("checkpointLocation", checkpoint))
    if trigger_once:
        w = w.trigger(availableNow=True)
    return w.start()


def compact_manifests(table_dir: str) -> int:
    """Rewrite-manifests maintenance: merge the current snapshot's
    manifest files into ONE, committed as a new snapshot referencing
    the SAME data files (operation "replace" — no data moves, nothing
    is recomputed).  After thousands of streaming commits the manifest
    list grows one entry per commit and every planner pass re-reads
    them all; compaction restores O(1) metadata reads.  Returns the
    new snapshot id."""
    md = _load_metadata_with_version(table_dir)
    meta_dir = os.path.join(table_dir, "metadata")
    cur = next(s for s in md["snapshots"]
               if s["snapshot-id"] == md["current-snapshot-id"])
    _, manifests = avro.read_container(cur["manifest-list"])
    all_entries = []
    schema = None
    for mf in manifests:
        mschema, entries = avro.read_container(mf["manifest_path"])
        schema = schema or mschema
        all_entries.extend(e for e in entries if e["status"] != 2)
    seq = md["last-sequence-number"] + 1
    snap_id = int(time.time() * 1000) * 10 + seq % 10
    for e in all_entries:
        # carry the original commit's sequence explicitly: "inherited"
        # numbering only works for the manifest's own adding snapshot
        if e["sequence_number"] is None:
            e["sequence_number"] = next(
                (s["sequence-number"] for s in md["snapshots"]
                 if s["snapshot-id"] == e["snapshot_id"]), seq)
        e["status"] = 0  # EXISTING
    man_path = os.path.join(meta_dir, f"manifest-{seq:05d}-compact.avro")
    avro.write_container(man_path, schema, all_entries)
    n_rows = sum(e["data_file"]["record_count"] for e in all_entries)
    entry = {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0,
        "content": 0,
        "sequence_number": seq,
        "min_sequence_number": min(
            (m["min_sequence_number"] for m in manifests), default=seq),
        "added_snapshot_id": snap_id,
        "added_files_count": 0,
        "existing_files_count": len(all_entries),
        "deleted_files_count": 0,
        "added_rows_count": 0,
        "existing_rows_count": n_rows,
        "deleted_rows_count": 0,
    }
    ml_path = os.path.join(meta_dir, f"snap-{snap_id}-manifest-list.avro")
    avro.write_container(ml_path, _MANIFEST_LIST_SCHEMA, [entry])
    now = int(time.time() * 1000)
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {"operation": "replace",
                        "compacted-manifests": str(len(manifests))},
            "manifest-list": ml_path,
            "schema-id": md["current-schema-id"]}
    new_md = dict(md)
    new_md.pop("__version", None)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now
    new_md["current-snapshot-id"] = snap_id
    new_md["snapshots"] = md["snapshots"] + [snap]
    new_md["snapshot-log"] = md.get("snapshot-log", []) + [
        {"snapshot-id": snap_id, "timestamp-ms": now}]
    version = md["__version"] + 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(new_md, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id


def delete_equality(
    df_keys: DataFrame,
    table_dir: str,
    columns: list[str],
) -> int:
    """Commit an EQUALITY-DELETE snapshot (spec v2, data_file content
    2): rows of OLDER data files matching any key tuple in ``df_keys``
    on ``columns`` disappear from subsequent reads — the corpus
    take-down path (URL/doc removal requests) without rewriting data.
    Old snapshots still time-travel to the pre-delete state.  Returns
    the new snapshot id."""
    md = _load_metadata_with_version(table_dir)
    meta_dir = os.path.join(table_dir, "metadata")
    fields = md["schemas"][md["current-schema-id"]]["fields"]
    id_by_name = {f["name"]: f["id"] for f in fields}
    for c in columns:
        if c not in id_by_name:
            raise KeyError(f"no column {c!r} in table schema")
    eq_ids = [id_by_name[c] for c in columns]
    specs = _specs_from_metadata(md)
    part_names = [sp["name"] for sp in specs]
    spec_part_fields = [(sp["name"], sp["itype"]) for sp in specs]

    seq = md["last-sequence-number"] + 1
    snap_id = int(time.time() * 1000) * 10 + seq % 10
    del_dir = os.path.join(table_dir, "data", f"snap-{seq:05d}-deletes")
    df_keys.select(*columns).distinct().write.mode("error").parquet(del_dir)

    entries = []
    n_rows = 0
    for root, _dirs, fs in os.walk(del_dir):
        for fn in fs:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            nrows = pq.ParquetFile(fp).metadata.num_rows
            n_rows += nrows
            entries.append({
                "status": 1,
                "snapshot_id": snap_id,
                "sequence_number": None,
                "file_sequence_number": None,
                "data_file": {
                    "content": 2,  # EQUALITY_DELETES
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {c: None for c in part_names},
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": eq_ids,
                },
            })
    part_fields = spec_part_fields
    man_path = os.path.join(meta_dir, f"manifest-{seq:05d}-deletes.avro")
    avro.write_container(man_path, _manifest_schema(part_fields), entries)

    cur = next(s for s in md["snapshots"]
               if s["snapshot-id"] == md["current-snapshot-id"])
    _, prior = avro.read_container(cur["manifest-list"])
    entry = {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0,
        "content": 1,  # deletes manifest
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    ml_path = os.path.join(meta_dir, f"snap-{snap_id}-manifest-list.avro")
    avro.write_container(ml_path, _MANIFEST_LIST_SCHEMA, prior + [entry])

    now = int(time.time() * 1000)
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {"operation": "delete",
                        "added-delete-files": str(len(entries)),
                        "added-equality-deletes": str(n_rows)},
            "manifest-list": ml_path,
            "schema-id": md["current-schema-id"]}
    new_md = dict(md)
    new_md.pop("__version", None)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now
    new_md["current-snapshot-id"] = snap_id
    new_md["snapshots"] = md["snapshots"] + [snap]
    new_md["snapshot-log"] = md.get("snapshot-log", []) + [
        {"snapshot-id": snap_id, "timestamp-ms": now}]
    version = md["__version"] + 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(new_md, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id


def read_incremental(
    spark: SparkSession,
    table_dir: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> DataFrame:
    """Rows APPENDED strictly after ``from_snapshot`` up to and
    including ``to_snapshot`` (default: current) — the incremental-
    consumption contract: a downstream pipeline remembers the last
    snapshot it processed and reads only the delta, never rescanning
    the table.  Implemented as a manifest diff: data files whose
    adding sequence number lies in (seq_from, seq_to]."""
    md = _read_metadata(table_dir)
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    if from_snapshot not in by_id:
        raise KeyError(f"snapshot {from_snapshot} not in table")
    sid_to = to_snapshot if to_snapshot is not None else md["current-snapshot-id"]
    if sid_to not in by_id:
        raise KeyError(f"snapshot {sid_to} not in table")
    lo = by_id[from_snapshot]["sequence-number"]
    hi = by_id[sid_to]["sequence-number"]
    files = [f for f in data_files(table_dir, sid_to)
             if lo < f["_seq"] <= hi]
    if not files:
        return read_iceberg(spark, table_dir, sid_to).limit(0)
    data_root = os.path.join(table_dir, "data")
    by_snap: dict[str, list[str]] = {}
    for f in files:
        rel = os.path.relpath(f["file_path"], data_root)
        by_snap.setdefault(os.path.join(data_root, rel.split(os.sep)[0]),
                           []).append(f["file_path"])
    out = None
    for snap_dir, paths in sorted(by_snap.items()):
        part = spark.read.option("basePath", snap_dir).parquet(*paths)
        out = part if out is None else out.unionByName(part)
    return out


def expire_snapshots(table_dir: str, keep_last: int = 1) -> dict:
    """Table maintenance: drop all but the newest ``keep_last``
    snapshots from metadata and DELETE files no kept snapshot
    references (data files, delete files, manifests, manifest lists).
    Time travel to expired snapshots is gone by design; the current
    state is untouched.  Returns {"snapshots": n, "files": n} removed.

    Safety order matters: metadata commits FIRST (a crash after the
    metadata write but before file deletion leaves harmless orphans,
    never a broken table)."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    md = _load_metadata_with_version(table_dir)
    meta_dir = os.path.join(table_dir, "metadata")
    snaps = md["snapshots"]
    if len(snaps) <= keep_last:
        return {"snapshots": 0, "files": 0}
    keep = snaps[-keep_last:]
    drop = snaps[:-keep_last]
    if md["current-snapshot-id"] not in {s["snapshot-id"] for s in keep}:
        raise ValueError("cannot expire the current snapshot")

    def _referenced(snapshots):
        refs = set()
        for s in snapshots:
            refs.add(s["manifest-list"])
            _, manifests = avro.read_container(s["manifest-list"])
            for mf in manifests:
                refs.add(mf["manifest_path"])
                _, entries = avro.read_container(mf["manifest_path"])
                for e in entries:
                    refs.add(e["data_file"]["file_path"])
        return refs

    keep_refs = _referenced(keep)
    drop_refs = _referenced(drop) - keep_refs

    new_md = dict(md)
    new_md.pop("__version", None)
    kept_ids = {s["snapshot-id"] for s in keep}
    new_md["snapshots"] = keep
    new_md["snapshot-log"] = [
        e for e in md.get("snapshot-log", [])
        if e["snapshot-id"] in kept_ids]
    new_md["last-updated-ms"] = int(time.time() * 1000)
    version = md["__version"] + 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(new_md, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))

    n_files = 0
    for p in sorted(drop_refs):
        if os.path.exists(p):
            os.remove(p)
            n_files += 1
    return {"snapshots": len(drop), "files": n_files}


def remove_orphan_files(table_dir: str, older_than_s: float = 0.0) -> dict:
    """Table maintenance, third leg after manifest compaction and
    snapshot expiry: delete files under the table location that NO
    snapshot references.  Orphans accrue by design — expire_snapshots
    commits metadata before deleting (a crash leaves orphans, never a
    broken table), and a writer that dies between its data write and
    its metadata commit leaves a whole unreferenced snap dir.

    The reference set is every snapshot's manifest list, manifests,
    data and delete files, plus all metadata.json versions and the
    version hint — anything else under data/ and metadata/ goes.
    Spark write-markers (_SUCCESS, .crc) survive while any referenced
    file lives in their directory subtree.  ``older_than_s`` is the
    concurrency grace window (the real procedure's age threshold):
    files younger than it are kept so an in-flight writer's data
    isn't swept before its commit.  Returns {"files": n, "bytes": n}
    removed.  Mirrors the catalog procedure of the same name."""
    md = _load_metadata_with_version(table_dir)
    meta_dir = os.path.join(table_dir, "metadata")
    data_dir = os.path.join(table_dir, "data")
    refs = set()
    for snap in md["snapshots"]:
        refs.add(snap["manifest-list"])
        _, manifests = avro.read_container(snap["manifest-list"])
        for mf in manifests:
            refs.add(mf["manifest_path"])
            _, entries = avro.read_container(mf["manifest_path"])
            for e in entries:
                refs.add(e["data_file"]["file_path"])
    for fn in os.listdir(meta_dir):
        if fn.endswith(".metadata.json") or fn == "version-hint.text":
            refs.add(os.path.join(meta_dir, fn))
    ref_dirs = set()
    for r in refs:
        d = os.path.dirname(r)
        while d.startswith(table_dir.rstrip(os.sep)):
            ref_dirs.add(d)
            d = os.path.dirname(d)

    cutoff = time.time() - older_than_s
    n_files = 0
    n_bytes = 0
    for root_dir in (data_dir, meta_dir):
        if not os.path.isdir(root_dir):
            continue
        for root, _dirs, fs in os.walk(root_dir, topdown=False):
            for fn in fs:
                fp = os.path.join(root, fn)
                if fp in refs:
                    continue
                is_marker = (fn == "_SUCCESS" or fn.endswith(".crc")
                             or fn.startswith("."))
                if is_marker and root in ref_dirs:
                    continue  # Spark write-marker riding a live dir
                if os.path.getmtime(fp) > cutoff:
                    continue
                n_bytes += os.path.getsize(fp)
                os.remove(fp)
                n_files += 1
            if not os.listdir(root):
                os.rmdir(root)
    return {"files": n_files, "bytes": n_bytes}


def delete_where(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
) -> int:
    """Commit a POSITION-DELETE snapshot (spec v2, data_file content
    1): rows of the current snapshot matching the SQL ``predicate``
    are located by (file_path, row index) through the parquet
    ``_metadata`` columns — one distributed pass, no data rewrite —
    and disappear from subsequent reads (position deletes apply to
    data files with sequence number <= the delete's own).  Returns
    the new snapshot id."""
    from pyspark.sql import functions as F_

    md = _load_metadata_with_version(table_dir)
    meta_dir = os.path.join(table_dir, "metadata")
    specs = _specs_from_metadata(md)
    part_names = [sp["name"] for sp in specs]
    spec_part_fields = [(sp["name"], sp["itype"]) for sp in specs]

    files = data_files(table_dir)
    data_root = os.path.join(table_dir, "data")
    by_snap: dict[str, list[str]] = {}
    for f in files:
        rel = os.path.relpath(f["file_path"], data_root)
        by_snap.setdefault(os.path.join(data_root, rel.split(os.sep)[0]),
                           []).append(f["file_path"])
    hits = None
    for snap_dir, paths in sorted(by_snap.items()):
        part = (
            spark.read.option("basePath", snap_dir).parquet(*paths)
            .withColumn("__fp", F_.regexp_replace(
                F_.col("_metadata.file_path"), "^file:", ""))
            .withColumn("__pos", F_.col("_metadata.row_index"))
            .filter(predicate)
            .select(F_.col("__fp").alias("file_path"),
                    F_.col("__pos").alias("pos"))
        )
        hits = part if hits is None else hits.unionByName(part)

    seq = md["last-sequence-number"] + 1
    snap_id = int(time.time() * 1000) * 10 + seq % 10
    del_dir = os.path.join(table_dir, "data", f"snap-{seq:05d}-posdel")
    (hits.repartitionByRange(1, "file_path", "pos")
     .sortWithinPartitions("file_path", "pos")
     .write.mode("error").parquet(del_dir))

    entries = []
    n_rows = 0
    for root, _dirs, fs in os.walk(del_dir):
        for fn in fs:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            nrows = pq.ParquetFile(fp).metadata.num_rows
            n_rows += nrows
            entries.append({
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": None, "file_sequence_number": None,
                "data_file": {
                    "content": 1,  # POSITION_DELETES
                    "file_path": fp,
                    "file_format": "PARQUET",
                    "partition": {c: None for c in part_names},
                    "record_count": nrows,
                    "file_size_in_bytes": os.path.getsize(fp),
                    "lower_bounds": None, "upper_bounds": None,
                    "equality_ids": None,
                },
            })
    part_fields = spec_part_fields
    man_path = os.path.join(meta_dir, f"manifest-{seq:05d}-posdel.avro")
    avro.write_container(man_path, _manifest_schema(part_fields), entries)

    cur = next(s for s in md["snapshots"]
               if s["snapshot-id"] == md["current-snapshot-id"])
    _, prior = avro.read_container(cur["manifest-list"])
    entry = {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0,
        "content": 1,
        "sequence_number": seq,
        "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0,
        "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    ml_path = os.path.join(meta_dir, f"snap-{snap_id}-manifest-list.avro")
    avro.write_container(ml_path, _MANIFEST_LIST_SCHEMA, prior + [entry])

    now = int(time.time() * 1000)
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {"operation": "delete",
                        "added-delete-files": str(len(entries)),
                        "added-position-deletes": str(n_rows)},
            "manifest-list": ml_path,
            "schema-id": md["current-schema-id"]}
    new_md = dict(md)
    new_md.pop("__version", None)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now
    new_md["current-snapshot-id"] = snap_id
    new_md["snapshots"] = md["snapshots"] + [snap]
    new_md["snapshot-log"] = md.get("snapshot-log", []) + [
        {"snapshot-id": snap_id, "timestamp-ms": now}]
    version = md["__version"] + 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(new_md, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id


def merge_into(
    source: DataFrame,
    table_dir: str,
    on: list[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
) -> int:
    """MERGE INTO (upsert) as ONE atomic snapshot: an equality-delete
    file on the ``on`` key columns (restricted to keys that actually
    exist in the current table) plus the new data files, committed at
    the SAME sequence number N.  The spec applies equality deletes to
    data files with sequence STRICTLY below the delete's, so the
    inserted versions at seq N are untouched — single-commit upsert
    semantics with no intermediate deleted-but-not-reinserted state,
    and time travel to the pre-merge snapshot still works.

    ``when_matched``: 'update' (matched keys get the source's rows) or
    'delete' (matched keys disappear).  ``when_not_matched``: 'insert'
    or 'ignore'.  The source must carry the table's columns (including
    its partition columns); schema evolution belongs to write_iceberg.
    Returns the new snapshot id."""
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched={when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched={when_not_matched!r}")
    spark = source.sparkSession
    md = _load_metadata_with_version(table_dir)
    meta_dir = os.path.join(table_dir, "metadata")
    fields = md["schemas"][md["current-schema-id"]]["fields"]
    id_by_name = {f["name"]: f["id"] for f in fields}
    by_name = {f["name"]: (f["id"], f["type"]) for f in fields}
    for c in on:
        if c not in id_by_name:
            raise KeyError(f"no merge key {c!r} in table schema")
    missing = [f["name"] for f in fields if f["name"] not in source.columns]
    if missing:
        raise ValueError(f"source is missing table columns {missing}")
    eq_ids = [id_by_name[c] for c in on]
    specs = _specs_from_metadata(md)
    part_names = [sp["name"] for sp in specs]
    part_fields = [(sp["name"], sp["itype"]) for sp in specs]
    part_types = {sp["name"]: sp["itype"] for sp in specs}

    target_keys = read_iceberg(spark, table_dir).select(*on).distinct()
    matched = (source.select(*on).distinct()
               .join(target_keys, on).persist())
    n_matched = matched.count()

    if when_matched == "update":
        rows = source if when_not_matched == "insert" else source.join(
            F.broadcast(matched), on, "left_semi")
    else:  # delete
        rows = (source.join(F.broadcast(matched), on, "left_anti")
                if when_not_matched == "insert" else None)

    seq = md["last-sequence-number"] + 1
    snap_id = int(time.time() * 1000) * 10 + seq % 10
    list_entries = []

    # ---- equality-delete file for the matched keys (content 2)
    n_del = 0
    if n_matched:
        del_dir = os.path.join(table_dir, "data", f"snap-{seq:05d}-merge-del")
        matched.select(*on).write.mode("error").parquet(del_dir)
        del_entries = []
        for root, _dirs, fs in os.walk(del_dir):
            for fn in fs:
                if not fn.endswith(".parquet"):
                    continue
                fp = os.path.join(root, fn)
                nrows = pq.ParquetFile(fp).metadata.num_rows
                n_del += nrows
                del_entries.append({
                    "status": 1, "snapshot_id": snap_id,
                    "sequence_number": None, "file_sequence_number": None,
                    "data_file": {
                        "content": 2, "file_path": fp,
                        "file_format": "PARQUET",
                        "partition": {c: None for c in part_names},
                        "record_count": nrows,
                        "file_size_in_bytes": os.path.getsize(fp),
                        "lower_bounds": None, "upper_bounds": None,
                        "equality_ids": eq_ids,
                    },
                })
        man_del = os.path.join(meta_dir, f"manifest-{seq:05d}-merge-del.avro")
        avro.write_container(man_del, _manifest_schema(part_fields),
                             del_entries)
        list_entries.append({
            "manifest_path": man_del,
            "manifest_length": os.path.getsize(man_del),
            "partition_spec_id": 0, "content": 1,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(del_entries),
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": n_del,
            "existing_rows_count": 0, "deleted_rows_count": 0,
        })
    matched.unpersist()

    # ---- data files for the inserted/updated rows (content 0)
    n_rows_total = 0
    if rows is not None:
        snap_dir = os.path.join(table_dir, "data", f"snap-{seq:05d}")
        out_rows = rows.select(*[f["name"] for f in fields])
        for sp in specs:
            if sp["transform"] != "identity":
                out_rows = out_rows.withColumn(sp["name"],
                                               _transform_column(sp))
        w = out_rows.write.mode("error")
        if part_names:
            w = w.partitionBy(*part_names)
        w.parquet(snap_dir)
        entries, n_rows_total = _walk_data_entries(
            snap_dir, snap_id, part_names, by_name, part_types)
        man_data = os.path.join(meta_dir, f"manifest-{seq:05d}-merge.avro")
        avro.write_container(man_data, _manifest_schema(part_fields), entries)
        list_entries.append({
            "manifest_path": man_data,
            "manifest_length": os.path.getsize(man_data),
            "partition_spec_id": 0, "content": 0,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": n_rows_total,
            "existing_rows_count": 0, "deleted_rows_count": 0,
        })

    # ---- one snapshot carrying both manifests
    cur = next(s for s in md["snapshots"]
               if s["snapshot-id"] == md["current-snapshot-id"])
    _, prior = avro.read_container(cur["manifest-list"])
    ml_path = os.path.join(meta_dir, f"snap-{snap_id}-manifest-list.avro")
    avro.write_container(ml_path, _MANIFEST_LIST_SCHEMA,
                         prior + list_entries)
    now = int(time.time() * 1000)
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {"operation": "overwrite",
                        "merge-matched-keys": str(n_matched),
                        "added-equality-deletes": str(n_del),
                        "added-records": str(n_rows_total)},
            "manifest-list": ml_path,
            "schema-id": md["current-schema-id"]}
    new_md = dict(md)
    new_md.pop("__version", None)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now
    new_md["current-snapshot-id"] = snap_id
    new_md["snapshots"] = md["snapshots"] + [snap]
    new_md["snapshot-log"] = md.get("snapshot-log", []) + [
        {"snapshot-id": snap_id, "timestamp-ms": now}]
    version = md["__version"] + 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(new_md, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id


def rewrite_data_files(
    spark: SparkSession,
    table_dir: str,
    target_files: int | None = None,
    sort_by: list[str] | None = None,
) -> int:
    """Bin-packing compaction (the rewrite-data-files maintenance job):
    read the CURRENT snapshot — all equality/position deletes
    materialized — write it back as a fresh compacted file set, and
    commit a "replace" snapshot whose manifest list holds ONLY the new
    data manifest.  After thousands of streaming micro-commits (each a
    handful of small files plus, over time, delete files every reader
    must anti-join), one rewrite restores large scan-friendly files
    and drops the delete-application work from every future read.

    Sequence numbering makes the delete drop safe without bookkeeping:
    carried-forward deletes would only apply to files with seq below
    their own, and every rewritten file sits at the NEW top sequence —
    so the replace list simply omits the delete manifests.  Old
    snapshots still time-travel (their files stay on disk until
    ``expire_snapshots``).  ``target_files`` coalesces the output;
    ``sort_by`` additionally range-clusters it so per-file bounds stay
    tight for ``column_ranges`` skipping.  Returns the snapshot id."""
    md = _load_metadata_with_version(table_dir)
    meta_dir = os.path.join(table_dir, "metadata")
    fields = md["schemas"][md["current-schema-id"]]["fields"]
    by_name = {f["name"]: (f["id"], f["type"]) for f in fields}
    specs = _specs_from_metadata(md)
    part_names = [sp["name"] for sp in specs]
    part_fields = [(sp["name"], sp["itype"]) for sp in specs]
    part_types = {sp["name"]: sp["itype"] for sp in specs}

    rows = read_iceberg(spark, table_dir)
    if sort_by:
        args = ([target_files] if target_files else []) + [
            F.col(c) for c in sort_by]
        rows = rows.repartitionByRange(*args).sortWithinPartitions(*sort_by)
    elif target_files:
        rows = rows.coalesce(target_files)

    seq = md["last-sequence-number"] + 1
    snap_id = int(time.time() * 1000) * 10 + seq % 10
    snap_dir = os.path.join(table_dir, "data", f"snap-{seq:05d}-rewrite")
    out_rows = rows.select(*[f["name"] for f in fields])
    for sp in specs:
        if sp["transform"] != "identity":
            out_rows = out_rows.withColumn(sp["name"], _transform_column(sp))
    w = out_rows.write.mode("error")
    if part_names:
        w = w.partitionBy(*part_names)
    w.parquet(snap_dir)

    entries, n_rows = _walk_data_entries(snap_dir, snap_id, part_names,
                                         by_name, part_types)
    man_path = os.path.join(meta_dir, f"manifest-{seq:05d}-rewrite.avro")
    avro.write_container(man_path, _manifest_schema(part_fields), entries)
    entry = {
        "manifest_path": man_path,
        "manifest_length": os.path.getsize(man_path),
        "partition_spec_id": 0, "content": 0,
        "sequence_number": seq, "min_sequence_number": seq,
        "added_snapshot_id": snap_id,
        "added_files_count": len(entries),
        "existing_files_count": 0, "deleted_files_count": 0,
        "added_rows_count": n_rows,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }
    ml_path = os.path.join(meta_dir, f"snap-{snap_id}-manifest-list.avro")
    avro.write_container(ml_path, _MANIFEST_LIST_SCHEMA, [entry])
    now = int(time.time() * 1000)
    snap = {"snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {"operation": "replace",
                        "rewritten-rows": str(n_rows),
                        "data-files": str(len(entries))},
            "manifest-list": ml_path,
            "schema-id": md["current-schema-id"]}
    new_md = dict(md)
    new_md.pop("__version", None)
    new_md["last-sequence-number"] = seq
    new_md["last-updated-ms"] = now
    new_md["current-snapshot-id"] = snap_id
    new_md["snapshots"] = md["snapshots"] + [snap]
    new_md["snapshot-log"] = md.get("snapshot-log", []) + [
        {"snapshot-id": snap_id, "timestamp-ms": now}]
    version = md["__version"] + 1
    with open(os.path.join(meta_dir, f"v{version}.metadata.json"), "w") as f:
        json.dump(new_md, f, indent=1)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(version))
    return snap_id

