"""From-scratch Avro codec + Iceberg v2 table format.

The Avro layer is cross-validated BOTH directions against the
reference Java implementation (the avro core jar ships inside
pyspark) — the libwebp/libjpeg oracle pattern.  The Iceberg layer is
pinned on layout (Hadoop-catalog metadata chain), snapshot semantics
(append, time travel) and the claim that matters at 100 TB: partition
pruning happens at the METADATA layer, before Spark ever plans a scan.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from xarray_spatial_spark.sources import avro as A
from xarray_spatial_spark.sources import iceberg_format as I

SCHEMA = {"type": "record", "name": "m", "fields": [
    {"name": "path", "type": "string"},
    {"name": "n", "type": "long"},
    {"name": "opt", "type": ["null", "long"], "default": None},
    {"name": "part", "type": {"type": "record", "name": "r102", "fields": [
        {"name": "lang", "type": ["null", "string"], "default": None}]}},
    {"name": "tags", "type": {"type": "array", "items": "string"}},
    {"name": "bounds", "type": ["null", {"type": "map", "values": "bytes"}],
     "default": None},
]}
RECS = [
    {"path": "a.parquet", "n": 12, "opt": None,
     "part": {"lang": "en"}, "tags": ["x", "y"], "bounds": {"k": b"\x01\x02"}},
    {"path": "b/c.parquet", "n": -3, "opt": 7,
     "part": {"lang": None}, "tags": [], "bounds": None},
]


def test_varint_spec_vectors():
    """The zigzag-varint examples from the Avro specification."""
    for v, hx in [(0, "00"), (-1, "01"), (1, "02"), (-2, "03"), (2, "04"),
                  (-64, "7f"), (64, "8001")]:
        out = bytearray()
        A.write_long(out, v)
        assert out.hex() == hx
        back, pos = A.read_long(bytes(out), 0)
        assert back == v and pos == len(out)


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    p = str(tmp_path / "t.avro")
    A.write_container(p, SCHEMA, RECS, codec=codec)
    schema, got = A.read_container(p)
    assert got == RECS
    assert schema == SCHEMA


def test_named_type_reference(tmp_path):
    """A record type defined once and referenced by name later — the
    pattern Iceberg manifest schemas use ("r102")."""
    schema = {"type": "record", "name": "outer", "fields": [
        {"name": "a", "type": {"type": "record", "name": "pt", "fields": [
            {"name": "x", "type": "int"}]}},
        {"name": "b", "type": "pt"},
    ]}
    recs = [{"a": {"x": 1}, "b": {"x": 2}}]
    p = str(tmp_path / "n.avro")
    A.write_container(p, schema, recs)
    _, got = A.read_container(p)
    assert got == recs


def test_negative_block_count_read():
    """Readers must accept size-prefixed (negative count) array/map
    blocks, which some writers emit."""
    names = A._Names()
    body = bytearray()
    A.write_long(body, -2)           # 2 items, size-prefixed form
    inner = bytearray()
    A._encode(inner, "long", 5, names)
    A._encode(inner, "long", 6, names)
    A.write_long(body, len(inner))
    body += inner
    A.write_long(body, 0)
    got, pos = A._decode(bytes(body), 0,
                         {"type": "array", "items": "long"}, names)
    assert got == [5, 6] and pos == len(body)


def test_java_avro_reads_ours(spark, tmp_path):
    """REAL Avro (the Java reference implementation on pyspark's
    classpath) decodes our container byte-for-byte semantically."""
    p = str(tmp_path / "mine.avro")
    A.write_container(p, SCHEMA, RECS, codec="deflate")
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(SCHEMA))
    rdr = jvm.org.apache.avro.generic.GenericDatumReader(js)
    dfr = jvm.org.apache.avro.file.DataFileReader(jvm.java.io.File(p), rdr)
    got = []
    while dfr.hasNext():
        got.append(json.loads(dfr.next().toString()))
    dfr.close()
    # bytes fields render as ISO-8859-1 strings in GenericData JSON
    want = [dict(r) for r in RECS]
    want[0] = dict(want[0], bounds={"k": "\x01\x02"})
    assert got == want


def test_we_read_java_avro(spark, tmp_path):
    """And the reverse: a file written by the Java reference decodes
    identically through the from-scratch reader (py4j boxes small
    ints as Integer, so the union-of-long field stays null here; the
    forward test covers populated unions)."""
    schema = {"type": "record", "name": "jw", "fields": [
        {"name": "path", "type": "string"},
        {"name": "n", "type": "long"},
        {"name": "tag", "type": ["null", "string"], "default": None},
    ]}
    p = str(tmp_path / "theirs.avro")
    jvm = spark._jvm
    js = jvm.org.apache.avro.Schema.Parser().parse(json.dumps(schema))
    wtr = jvm.org.apache.avro.generic.GenericDatumWriter(js)
    dfw = jvm.org.apache.avro.file.DataFileWriter(wtr)
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    dfw.create(js, jvm.java.io.File(p))
    recs = [{"path": "x.parquet", "n": 2**40 + 3, "tag": "keep"},
            {"path": "y.parquet", "n": -9, "tag": None}]
    for r in recs:
        jr = jvm.org.apache.avro.generic.GenericData.Record(js)
        jr.put("path", r["path"])
        jr.put("n", jvm.java.lang.Long.valueOf(str(r["n"])))
        if r["tag"] is not None:
            jr.put("tag", r["tag"])
        dfw.append(jr)
    dfw.close()
    _, mine = A.read_container(p)
    assert mine == recs


# ---------------------------------------------------------------------------
# Iceberg table format
# ---------------------------------------------------------------------------


@pytest.fixture()
def docs(spark):
    return spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "n_chars")


def test_iceberg_roundtrip_append_timetravel_prune(spark, docs, tmp_path):
    t = str(tmp_path / "tbl")
    s1 = I.write_iceberg(docs.filter(F.col("doc_id") < 60), t,
                         partition_by=["lang"])
    s2 = I.write_iceberg(docs.filter(F.col("doc_id") >= 60), t,
                         partition_by=["lang"])
    assert [s["snapshot-id"] for s in I.snapshots(t)] == [s1, s2]

    # current snapshot sees everything, values identical to the source
    full = I.read_iceberg(spark, t)  # partition cols reattach last
    assert sorted(full.select("doc_id", "lang", "n_chars").collect()) \
        == sorted(docs.collect())

    # time travel to the first commit
    tt = I.read_iceberg(spark, t, snapshot_id=s1)
    assert tt.count() == docs.filter(F.col("doc_id") < 60).count()

    # metadata-layer pruning: fewer FILES, same rows as a filter
    all_files = I.data_files(t)
    en_files = I.data_files(t, partition_filter={"lang": "en"})
    assert 0 < len(en_files) < len(all_files)
    en = I.read_iceberg(spark, t, partition_filter={"lang": "en"})
    assert en.count() == docs.filter(F.col("lang") == "en").count()
    # pruning really happened at the file-list level
    assert all("lang=en" in f["file_path"] for f in en_files)

    # unknown snapshot raises
    with pytest.raises(KeyError):
        I.read_iceberg(spark, t, snapshot_id=123)


def test_iceberg_hadoop_catalog_layout(spark, docs, tmp_path):
    """The on-disk chain is the spec's Hadoop-catalog layout: version
    hint -> vN.metadata.json -> avro manifest list -> avro manifest ->
    parquet, with field-ids in every metadata schema."""
    t = str(tmp_path / "tbl")
    I.write_iceberg(docs, t, partition_by=["lang"])
    meta = os.path.join(t, "metadata")
    assert open(os.path.join(meta, "version-hint.text")).read() == "1"
    md = json.load(open(os.path.join(meta, "v1.metadata.json")))
    assert md["format-version"] == 2
    assert md["partition-specs"][0]["fields"][0]["transform"] == "identity"
    assert [f["id"] for f in md["schemas"][0]["fields"]] == [1, 2, 3]
    snap = md["snapshots"][-1]
    mlschema, manifests = A.read_container(snap["manifest-list"])
    assert {f["field-id"] for f in mlschema["fields"]} >= {500, 501, 503}
    assert manifests[0]["added_rows_count"] == docs.count()
    mschema, entries = A.read_container(manifests[0]["manifest_path"])
    assert all(e["status"] == 1 for e in entries)
    assert all(e["data_file"]["file_format"] == "PARQUET" for e in entries)
    assert sum(e["data_file"]["record_count"] for e in entries) == docs.count()
    assert all(os.path.getsize(e["data_file"]["file_path"])
               == e["data_file"]["file_size_in_bytes"] for e in entries)


def test_iceberg_unpartitioned_and_spec_mismatch(spark, docs, tmp_path):
    t = str(tmp_path / "plain")
    I.write_iceberg(docs, t)
    assert I.read_iceberg(spark, t).count() == docs.count()
    with pytest.raises(ValueError, match="partition_by"):
        I.write_iceberg(docs, t, partition_by=["lang"])


def test_iceberg_empty_prune_returns_typed_empty(spark, docs, tmp_path):
    t = str(tmp_path / "tbl")
    I.write_iceberg(docs, t, partition_by=["lang"])
    out = I.read_iceberg(spark, t, partition_filter={"lang": "xx"})
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "lang", "n_chars"}


def test_iceberg_column_bounds_pruning(spark, tmp_path):
    """Manifests carry parquet footer min/max as spec single-value
    binaries; column_ranges skips whole FILES whose bounds cannot
    intersect the query range."""
    t = str(tmp_path / "tbl")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "lang", "n_chars",
             (F.col("doc_id") / 100).cast("int").alias("bucket"))
    I.write_iceberg(docs, t, partition_by=["bucket"])
    # every file carries bounds for doc_id
    files = I.data_files(t)
    assert all(f["lower_bounds"] and f["upper_bounds"] for f in files)
    # a narrow doc_id range skips most files and returns exact rows
    want = docs.filter((F.col("doc_id") >= 0) & (F.col("doc_id") <= 4))
    hit = I.data_files(t, column_ranges={"doc_id": (0, 4)})
    assert 0 < len(hit) < len(files)
    got = I.read_iceberg(spark, t, column_ranges={"doc_id": (0, 4)}).filter(
        (F.col("doc_id") >= 0) & (F.col("doc_id") <= 4))
    assert got.count() == want.count()
    # open-ended ranges work; unknown columns raise
    assert len(I.data_files(t, column_ranges={"doc_id": (None, 4)})) == len(hit)
    with pytest.raises(KeyError):
        I.data_files(t, column_ranges={"nope": (0, 1)})
    # string bounds prune too
    only_en = I.data_files(t, column_ranges={"lang": ("zz", None)})
    assert len(only_en) == 0  # nothing sorts >= "zz"


def test_iceberg_streaming_sink_exactly_once(spark, tmp_path):
    """foreachBatch commits carry the batch id in the snapshot summary;
    a replayed batch id is a no-op (the commit IS the dedup marker)."""
    src = str(tmp_path / "in")
    os.makedirs(src)
    t = str(tmp_path / "tbl")
    ck = str(tmp_path / "ck")
    spark.range(0, 50).selectExpr(
        "id", "id % 3 AS grp").write.json(os.path.join(src, "a"))
    sdf = spark.readStream.schema("id long, grp long").json(src + "/*")
    q = I.iceberg_sink(sdf, t, ck, partition_by=["grp"])
    q.awaitTermination(120)
    assert I.read_iceberg(spark, t).count() == 50
    assert I.last_streaming_batch(t) == 0
    # a NEW batch id commits and reads back
    spark.range(100, 120).selectExpr(
        "id", "id % 3 AS grp").write.json(os.path.join(src, "b"))
    q2 = I.iceberg_sink(sdf, t, ck, partition_by=["grp"])
    q2.awaitTermination(120)
    assert I.read_iceberg(spark, t).count() == 70
    assert I.last_streaming_batch(t) == 1
    # REPLAY: a fresh checkpoint reprocesses everything as batch 0 —
    # the committed-batch-id guard must turn it into a no-op
    before = len(I.snapshots(t))
    q3 = I.iceberg_sink(sdf, t, str(tmp_path / "ck2"), partition_by=["grp"])
    q3.awaitTermination(120)
    assert len(I.snapshots(t)) == before
    assert I.read_iceberg(spark, t).count() == 70


def test_iceberg_overwrite_keeps_history(spark, docs, tmp_path):
    """Overwrite commits a snapshot whose manifest list references only
    the new data — old snapshots stay time-travelable, nothing is
    deleted from disk."""
    t = str(tmp_path / "tbl")
    s1 = I.write_iceberg(docs.filter(F.col("doc_id") < 30), t)
    s2 = I.write_iceberg(docs.filter(F.col("doc_id") >= 90), t,
                         mode="overwrite")
    assert I.read_iceberg(spark, t).count() == docs.filter(
        F.col("doc_id") >= 90).count()
    assert I.read_iceberg(spark, t, snapshot_id=s1).count() == 30
    assert I.snapshots(t)[-1]["summary"]["operation"] == "overwrite"


def test_iceberg_compact_manifests(spark, docs, tmp_path):
    """Five streaming-style commits -> five manifests; compaction
    merges them into ONE manifest in a new 'replace' snapshot with the
    SAME data files and identical query results."""
    t = str(tmp_path / "tbl")
    for k in range(5):
        I.write_iceberg(
            docs.filter((F.col("doc_id") % 5) == k), t, partition_by=["lang"])
    cur = I.snapshots(t)[-1]
    _, manifests = A.read_container(cur["manifest-list"])
    assert len(manifests) == 5
    files_before = sorted(f["file_path"] for f in I.data_files(t))
    rows_before = I.read_iceberg(spark, t).count()

    sid = I.compact_manifests(t)
    cur2 = I.snapshots(t)[-1]
    assert cur2["snapshot-id"] == sid
    assert cur2["summary"]["operation"] == "replace"
    _, manifests2 = A.read_container(cur2["manifest-list"])
    assert len(manifests2) == 1
    assert sorted(f["file_path"] for f in I.data_files(t)) == files_before
    assert I.read_iceberg(spark, t).count() == rows_before
    # pruning still works through the compacted manifest
    en = I.data_files(t, partition_filter={"lang": "en"})
    assert 0 < len(en) < len(files_before)
    # and appends continue normally afterwards
    I.write_iceberg(docs.limit(7), t, partition_by=["lang"])
    assert I.read_iceberg(spark, t).count() == rows_before + 7


def test_iceberg_equality_deletes(spark, docs, tmp_path):
    """Spec v2 equality deletes: a delete snapshot hides matching rows
    of OLDER data files; newer appends with the same keys survive
    (sequence-number semantics); time travel still sees everything."""
    t = str(tmp_path / "tbl")
    s1 = I.write_iceberg(docs, t, partition_by=["lang"])
    total = docs.count()

    kill = docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")
    n_kill = kill.count()
    sd = I.delete_equality(kill, t, ["doc_id"])
    got = I.read_iceberg(spark, t)
    assert got.count() == total - n_kill
    assert got.filter(F.col("doc_id") % 10 == 3).count() == 0
    # pre-delete snapshot unaffected
    assert I.read_iceberg(spark, t, snapshot_id=s1).count() == total
    assert I.snapshots(t)[-1]["summary"]["operation"] == "delete"
    assert sd == I.snapshots(t)[-1]["snapshot-id"]

    # a LATER append may re-add deleted keys: deletes only apply to
    # data files with a strictly smaller sequence number
    readd = docs.filter(F.col("doc_id").isin(3, 13)).select(
        "doc_id", "lang", "n_chars")
    I.write_iceberg(readd, t, partition_by=["lang"])
    now = I.read_iceberg(spark, t)
    assert now.count() == total - n_kill + 2
    assert now.filter(F.col("doc_id") == 3).count() == 1

    # multi-column delete keys
    k2 = docs.filter(F.col("doc_id") < 5).select("doc_id", "lang")
    I.delete_equality(k2, t, ["doc_id", "lang"])
    assert I.read_iceberg(spark, t).filter(F.col("doc_id") < 5).count() == 0
    # unknown column raises
    with pytest.raises(KeyError):
        I.delete_equality(kill, t, ["nope"])


def test_iceberg_sorted_write_tightens_bounds(spark, docs, tmp_path):
    """sort_by clusters values into files, so a range query prunes to
    a small fraction of files; the unsorted twin cannot prune at all
    (every file spans the whole id range)."""
    rand = docs.withColumn("r", F.xxhash64("doc_id")).orderBy("r").drop("r")
    t1, t2 = str(tmp_path / "sorted"), str(tmp_path / "plain")
    I.write_iceberg(rand, t1, sort_by=["doc_id"], sort_partitions=6)
    I.write_iceberg(rand.repartition(8), t2)
    q = {"doc_id": (10, 30)}
    hit_sorted = len(I.data_files(t1, column_ranges=q))
    all_sorted = len(I.data_files(t1))
    hit_plain = len(I.data_files(t2, column_ranges=q))
    all_plain = len(I.data_files(t2))
    assert all_sorted > 1 and hit_sorted < all_sorted
    assert hit_plain == all_plain  # random layout: no skipping possible
    got = I.read_iceberg(spark, t1, column_ranges=q).filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") <= 30))
    assert got.count() == 21


def test_iceberg_incremental_read(spark, docs, tmp_path):
    """The incremental-consumption contract: only rows appended after
    the remembered snapshot come back; overlapping windows compose to
    the full table; same-snapshot window is empty."""
    t = str(tmp_path / "tbl")
    thirds = [docs.filter(F.col("doc_id") % 3 == k) for k in range(3)]
    s = [I.write_iceberg(x, t, partition_by=["lang"]) for x in thirds]
    inc = I.read_incremental(spark, t, s[0])
    assert inc.count() == thirds[1].count() + thirds[2].count()
    assert inc.filter(F.col("doc_id") % 3 == 0).count() == 0
    mid = I.read_incremental(spark, t, s[0], s[1])
    assert mid.count() == thirds[1].count()
    assert I.read_incremental(spark, t, s[2]).count() == 0
    with pytest.raises(KeyError):
        I.read_incremental(spark, t, 42)


def test_crawl_to_iceberg_end_to_end(spark, tmp_path):
    """The north-star sentence as one call: WARC files -> corpus
    pipeline -> geocode -> S2 cell/tile assignment -> Iceberg table
    partitioned by s2_tile, with metadata-layer tile pruning."""
    from xarray_spatial_spark import s2
    from xarray_spatial_spark.functions.corpus import crawl_to_iceberg
    from xarray_spatial_spark.sources import warc as W

    wdir = tmp_path / "warc"
    wdir.mkdir()
    blobs = []
    for i in range(40):
        words = " ".join(
            f"the page{i} shows word{(i + k) % 97} and item{k * 3 + i} here"
            for k in range(12))
        html = f"<html><body><p>page {i} {words}</p></body></html>"
        blobs.append(W.gzip_member(W.response_record(
            f"https://site{i % 9}.example.org/p/{i}",
            html.encode(), f"2026-06-01T00:00:{i % 60:02d}Z")))
    (wdir / "a.warc.gz").write_bytes(b"".join(blobs[:20]))
    (wdir / "b.warc.gz").write_bytes(b"".join(blobs[20:]))

    records = W.read_warc(spark, str(wdir / "*.warc.gz"))
    t = str(tmp_path / "tbl")
    sid = crawl_to_iceberg(records, t, tile_level=4, cell_level=12)
    assert I.snapshots(t)[-1]["snapshot-id"] == sid

    out = I.read_iceberg(spark, t)
    rows = out.collect()
    assert len(rows) == 40
    import numpy as np

    for r in rows:
        leaf16 = s2.cell_of(np.array([r["lon"]]), np.array([r["lat"]]), 12)
        assert int(leaf16[0]) == r["s2_cell"]
        assert int(s2.parent(leaf16, 4)[0]) == r["s2_tile"]
    # metadata-layer tile pruning: pick one tile, prune to its files
    tiles = sorted({r["s2_tile"] for r in rows})
    assert len(tiles) > 1
    some = tiles[0]
    pruned = I.data_files(t, partition_filter={"s2_tile": some})
    assert 0 < len(pruned) < len(I.data_files(t))
    got = I.read_iceberg(spark, t, partition_filter={"s2_tile": some})
    assert got.count() == sum(1 for r in rows if r["s2_tile"] == some)


def test_iceberg_expire_snapshots(spark, docs, tmp_path):
    """Expiry drops old snapshots and deletes ONLY files no kept
    snapshot references; the current state reads identically."""
    import glob

    t = str(tmp_path / "tbl")
    for k in range(3):
        I.write_iceberg(docs.filter(F.col("doc_id") % 3 == k), t,
                        partition_by=["lang"])
    before_rows = I.read_iceberg(spark, t).count()
    n_parquet_before = len(glob.glob(t + "/data/**/*.parquet",
                                     recursive=True))
    stats = I.expire_snapshots(t, keep_last=1)
    assert stats["snapshots"] == 2 and stats["files"] > 0
    assert len(I.snapshots(t)) == 1
    # appends reference prior manifests, so ALL data files stay live
    assert I.read_iceberg(spark, t).count() == before_rows
    assert len(glob.glob(t + "/data/**/*.parquet", recursive=True)) \
        == n_parquet_before
    # overwrite orphans the old data; expiry then really deletes files
    I.write_iceberg(docs.limit(10), t, mode="overwrite",
                    partition_by=["lang"])
    stats2 = I.expire_snapshots(t, keep_last=1)
    assert stats2["snapshots"] == 1
    assert len(glob.glob(t + "/data/**/*.parquet", recursive=True)) \
        < n_parquet_before
    assert I.read_iceberg(spark, t).count() == 10
    with pytest.raises(ValueError):
        I.expire_snapshots(t, keep_last=0)


def test_iceberg_schema_evolution_add_column(spark, docs, tmp_path):
    """Add-column evolution: new columns get fresh field ids, old
    files read back with typed nulls, type changes are refused."""
    t = str(tmp_path / "tbl")
    I.write_iceberg(docs, t, partition_by=["lang"])
    widened = docs.withColumn("score", (F.col("doc_id") % 7).cast("double"))
    I.write_iceberg(widened, t, partition_by=["lang"])

    md = json.load(open(os.path.join(
        t, "metadata",
        f"v{open(os.path.join(t, 'metadata', 'version-hint.text')).read()}"
        ".metadata.json")))
    assert md["current-schema-id"] == 1
    assert len(md["schemas"]) == 2
    new_field = md["schemas"][1]["fields"][-1]
    assert new_field["name"] == "score" and new_field["id"] == 4
    assert md["last-column-id"] == 4

    out = I.read_iceberg(spark, t)
    assert out.count() == docs.count() * 2
    assert "score" in out.columns
    # old snapshot's rows surface typed nulls; new rows carry values
    assert out.filter(F.col("score").isNull()).count() == docs.count()
    got = out.filter(F.col("score").isNotNull())
    assert got.filter(F.col("score") != (F.col("doc_id") % 7)).count() == 0

    # type change refused
    bad = docs.withColumn("score", F.lit("nope"))
    with pytest.raises(ValueError, match="type change"):
        I.write_iceberg(bad, t, partition_by=["lang"])
    # unknown partition column refused
    with pytest.raises(ValueError, match="partition column"):
        I.write_iceberg(docs, str(tmp_path / "t2"), partition_by=["nope"])


def test_iceberg_positional_deletes(spark, docs, tmp_path):
    """delete_where locates rows by (file, row index) via parquet
    _metadata and commits a position-delete snapshot: matching rows
    vanish without any data rewrite; later appends are untouched
    (pos deletes apply to files with seq <= their own); pre-delete
    snapshots still time-travel."""
    t = str(tmp_path / "tbl")
    s1 = I.write_iceberg(docs, t, partition_by=["lang"])
    total = docs.count()
    n_kill = docs.filter("n_chars > 300").count()
    assert 0 < n_kill < total
    I.delete_where(spark, t, "n_chars > 300")
    got = I.read_iceberg(spark, t)
    assert got.count() == total - n_kill
    assert got.filter("n_chars > 300").count() == 0
    assert I.read_iceberg(spark, t, snapshot_id=s1).count() == total
    assert I.snapshots(t)[-1]["summary"]["operation"] == "delete"
    # a later append with big n_chars rows is NOT affected
    readd = docs.filter("n_chars > 300").limit(5)
    I.write_iceberg(readd, t, partition_by=["lang"])
    now = I.read_iceberg(spark, t)
    assert now.filter("n_chars > 300").count() == 5
    assert now.count() == total - n_kill + 5
    # combined with equality deletes on the same table: keys chosen
    # from rows that SURVIVED the position delete, so the arithmetic
    # is exact
    keys = docs.filter("n_chars <= 300").limit(3).select("doc_id")
    I.delete_equality(keys, t, ["doc_id"])
    assert I.read_iceberg(spark, t).count() == total - n_kill + 5 - 3


def test_iceberg_merge_into_upsert(spark, docs, tmp_path):
    """MERGE INTO as ONE snapshot: matched keys take the source's
    rows, unmatched source keys insert, and time travel still sees the
    pre-merge state.  The same-sequence rule is what makes it atomic:
    the equality delete (seq N) hides only strictly-older files, so
    the inserts committed at seq N survive their own delete."""
    t = str(tmp_path / "tbl")
    base = docs.filter(F.col("doc_id") < 100)
    s1 = I.write_iceberg(base, t, partition_by=["lang"])
    total = base.count()
    n_snaps = len(I.snapshots(t))

    # source: updated n_chars for keys 50..99, new keys 100..119
    src = docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 120)) \
        .withColumn("n_chars", F.lit(-7))
    n_src = src.count()
    sm = I.merge_into(src, t, on=["doc_id"])

    assert len(I.snapshots(t)) == n_snaps + 1          # ONE commit
    assert I.snapshots(t)[-1]["summary"]["operation"] == "overwrite"
    assert sm == I.snapshots(t)[-1]["snapshot-id"]

    got = I.read_iceberg(spark, t)
    assert got.count() == total + (n_src - 50)          # 100 old-range + 20 new
    assert got.filter(F.col("doc_id") >= 50).filter(
        F.col("n_chars") != -7).count() == 0            # all updated
    assert got.filter(F.col("doc_id") < 50).filter(
        F.col("n_chars") == -7).count() == 0            # untouched rows intact
    # exactly one row per key (the old version is gone)
    assert got.groupBy("doc_id").count().filter("count > 1").count() == 0
    # time travel to pre-merge
    pre = I.read_iceberg(spark, t, snapshot_id=s1)
    assert pre.count() == total
    assert pre.filter(F.col("n_chars") == -7).count() == 0


def test_iceberg_merge_into_delete_and_guards(spark, docs, tmp_path):
    t = str(tmp_path / "tbl")
    base = docs.filter(F.col("doc_id") < 60)
    I.write_iceberg(base, t, partition_by=["lang"])

    # when_matched='delete', when_not_matched='ignore': pure take-down
    src = docs.filter(F.col("doc_id") < 10)
    I.merge_into(src, t, on=["doc_id"], when_matched="delete",
                 when_not_matched="ignore")
    got = I.read_iceberg(spark, t)
    assert got.count() == 50
    assert got.filter(F.col("doc_id") < 10).count() == 0

    # when_matched='delete' + insert: replaces-with-nothing, adds new
    src2 = docs.filter((F.col("doc_id") >= 55) & (F.col("doc_id") < 70))
    I.merge_into(src2, t, on=["doc_id"], when_matched="delete")
    got2 = I.read_iceberg(spark, t)
    assert got2.filter((F.col("doc_id") >= 55) & (F.col("doc_id") < 60)).count() == 0
    assert got2.filter(F.col("doc_id") >= 60).count() == 10

    import pytest as _pytest
    with _pytest.raises(ValueError):
        I.merge_into(src, t, on=["doc_id"], when_matched="upsert")
    with _pytest.raises(KeyError):
        I.merge_into(src, t, on=["nope"])
    with _pytest.raises(ValueError):
        I.merge_into(src.drop("n_chars"), t, on=["doc_id"])


def test_iceberg_rewrite_data_files(spark, docs, tmp_path):
    """Compaction materializes deletes into fresh files, collapses the
    manifest list to one entry, keeps rows/pruning identical, and old
    snapshots still time-travel."""
    t = str(tmp_path / "tbl")
    for lo in range(0, 100, 20):  # 5 small commits
        I.write_iceberg(docs.filter((F.col("doc_id") >= lo)
                                    & (F.col("doc_id") < lo + 20)),
                        t, partition_by=["lang"])
    kill = docs.filter(F.col("doc_id") % 7 == 0).filter(
        F.col("doc_id") < 100).select("doc_id")
    I.delete_equality(kill, t, ["doc_id"])
    pre = I.read_iceberg(spark, t)
    want = {(r["doc_id"], r["lang"], r["n_chars"]) for r in pre.collect()}
    pre_snap = I.snapshots(t)[-1]["snapshot-id"]

    sid = I.rewrite_data_files(spark, t, target_files=2)
    cur = next(s for s in I.snapshots(t) if s["snapshot-id"] == sid)
    assert cur["summary"]["operation"] == "replace"
    _, ml = A.read_container(cur["manifest-list"])
    assert len(ml) == 1 and ml[0]["content"] == 0   # only the data manifest

    got = I.read_iceberg(spark, t)
    assert {(r["doc_id"], r["lang"], r["n_chars"])
            for r in got.collect()} == want
    # deletes are materialized: no delete files apply to the rewrite
    assert [d for d in I.delete_files(t) if d["_seq"] >= cur["sequence-number"]] == []
    # partition pruning still works on the rewritten layout
    langs = [r["lang"] for r in got.select("lang").distinct().collect()]
    one = I.read_iceberg(spark, t, partition_filter={"lang": langs[0]})
    assert one.count() == got.filter(F.col("lang") == langs[0]).count()
    # pre-rewrite snapshot still readable
    assert I.read_iceberg(spark, t, snapshot_id=pre_snap).count() == len(want)


def test_murmur3_matches_iceberg_spec_vectors():
    """The bucket transform's hash is the spec's murmur3_x86_32 —
    pinned against the test vectors published in the Iceberg spec
    (Appendix B): long 34, string 'iceberg', date 2017-11-16."""
    import struct

    import numpy as np

    assert I._murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert I._murmur3_32("iceberg".encode()) == 1210000089
    assert np.int32(np.uint32(I._murmur3_32(struct.pack("<q", 17486)))) == -653330422
    got = I._murmur3_long_np(np.array([34, 17486, -99, 2**62], np.int64))
    want = [I._murmur3_32(struct.pack("<q", v)) for v in (34, 17486, -99, 2**62)]
    assert got.tolist() == want


def test_iceberg_partition_transforms(spark, docs, tmp_path):
    """day(ts) / bucket(N, col) / truncate(W, col) hidden partitioning:
    layout dirs carry the transform values, metadata records the spec
    transform strings, pruning works on transform values, and reads
    return the original columns untouched."""
    import glob
    import struct

    t = str(tmp_path / "tbl")
    d = docs.withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 12:00:00"))
        + F.make_interval(days=F.col("doc_id") % 3))
    I.write_iceberg(d, t, partition_by=["day(ts)", "bucket(4, doc_id)"])

    spec = I._read_metadata(t)["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("ts_day", "day"), ("doc_id_bucket", "bucket[4]")]
    # layout: ts_day=19723..19725 (2024-01-01 is day 19723)
    days = sorted({p.split("=")[1] for p in glob.glob(f"{t}/data/*/ts_day=*")})
    assert days == ["19723", "19724", "19725"]

    got = I.read_iceberg(spark, t)
    assert sorted(got.columns) == sorted(d.columns)
    assert got.count() == d.count()

    # pruning on the bucket value: exactly the keys whose spec-hash
    # bucket is 2, nothing else (replayed via the pinned murmur3)
    sub = I.read_iceberg(spark, t, partition_filter={"doc_id_bucket": 2})
    ids = {r["doc_id"] for r in sub.select("doc_id").collect()}
    want = {r["doc_id"] for r in d.select("doc_id").collect()
            if (I._murmur3_32(struct.pack("<q", r["doc_id"])) & 0x7FFFFFFF) % 4 == 2}
    assert ids == want and ids
    # day pruning composes
    one_day = I.read_iceberg(spark, t, partition_filter={"ts_day": 19724})
    assert one_day.count() == d.filter(F.col("doc_id") % 3 == 1).count()

    # append with the same spec works; a different spec raises
    I.write_iceberg(d.limit(5), t, partition_by=["day(ts)", "bucket(4, doc_id)"])
    with pytest.raises(ValueError):
        I.write_iceberg(d.limit(5), t, partition_by=["day(ts)"])

    # merge on the transformed table recomputes the hidden partitions
    src = d.limit(20).withColumn("n_chars", F.lit(-3))
    I.merge_into(src, t, on=["doc_id"])
    assert I.read_iceberg(spark, t).filter(
        (F.col("doc_id") < 20) & (F.col("n_chars") != -3)).count() == 0


def test_iceberg_truncate_transform(spark, docs, tmp_path):
    t = str(tmp_path / "tbl")
    I.write_iceberg(docs, t, partition_by=["truncate(2, lang)"])
    spec = I._read_metadata(t)["partition-specs"][0]["fields"]
    assert [(f["name"], f["transform"]) for f in spec] == [
        ("lang_trunc", "truncate[2]")]
    got = I.read_iceberg(spark, t)
    assert got.count() == docs.count()
    langs2 = {r["lang"][:2] for r in docs.select("lang").distinct().collect()}
    pruned = I.read_iceberg(
        spark, t, partition_filter={"lang_trunc": sorted(langs2)[0]})
    assert pruned.count() == docs.filter(
        F.substring("lang", 1, 2) == sorted(langs2)[0]).count()
    with pytest.raises(ValueError):
        I.write_iceberg(docs, t.replace("tbl", "t2"),
                        partition_by=["bucket(doc_id)"])  # missing N


def test_iceberg_remove_orphan_files(spark, docs, tmp_path):
    """Orphan sweep: unreferenced snap dirs (crashed writer) and
    expiry leftovers go; every referenced file, marker files in live
    dirs, and metadata versions stay; reads are byte-identical."""
    import os

    t = str(tmp_path / "tbl")
    I.write_iceberg(docs.limit(50), t, partition_by=["lang"])
    I.write_iceberg(docs.filter(F.col("doc_id") >= 50).limit(30), t,
                    partition_by=["lang"])
    want = {(r["doc_id"], r["lang"]) for r in
            I.read_iceberg(spark, t).select("doc_id", "lang").collect()}

    # a crashed writer's data dir: written but never committed
    docs.limit(7).write.parquet(f"{t}/data/snap-99999")
    # a stray tmp manifest
    open(f"{t}/metadata/manifest-junk.avro.tmp", "wb").write(b"junk")

    removed = I.remove_orphan_files(t)
    assert removed["files"] >= 2 and removed["bytes"] > 0
    assert not os.path.exists(f"{t}/data/snap-99999")
    assert not os.path.exists(f"{t}/metadata/manifest-junk.avro.tmp")
    got = {(r["doc_id"], r["lang"]) for r in
           I.read_iceberg(spark, t).select("doc_id", "lang").collect()}
    assert got == want
    # second sweep is a no-op; the table still reads
    assert I.remove_orphan_files(t) == {"files": 0, "bytes": 0}
    # grace window: young orphans survive
    docs.limit(3).write.parquet(f"{t}/data/snap-88888")
    assert I.remove_orphan_files(t, older_than_s=3600)["files"] == 0
    assert os.path.exists(f"{t}/data/snap-88888")
    I.remove_orphan_files(t)


def test_incremental_crawl_round_loop(spark, tmp_path):
    """Two rounds of the continuous ingest loop: upsert (no duplicate
    urls, recrawls replace atomically), cross-round host cap from the
    CM artifact, Bloom seen-state grows, time travel to round 1."""
    import numpy as np
    from xarray_spatial_spark.functions.corpus import incremental_crawl_round
    from xarray_spatial_spark.functions.dedup import (
        bloom_load, bloom_might_contain,
    )
    from xarray_spatial_spark.sources import warc as W

    def _round_files(dirname, n, day, text_tag):
        wdir = tmp_path / dirname
        wdir.mkdir()
        blobs = []
        for i in range(n):
            words = " ".join(
                f"the {text_tag} page{i} shows word{(i + k) % 31} and "
                f"item{k * 3 + i} here" for k in range(12))
            html = f"<html><body><p>{words}</p></body></html>"
            blobs.append(W.gzip_member(W.response_record(
                f"https://site{i % 4}.example.org/p/{i}",
                html.encode(), f"2026-06-{day:02d}T00:00:{i % 60:02d}Z")))
        (wdir / "a.warc.gz").write_bytes(b"".join(blobs))
        return W.read_warc(spark, str(wdir / "*.warc.gz"))

    t = str(tmp_path / "tbl")
    st = str(tmp_path / "state")
    r1 = incremental_crawl_round(
        _round_files("w1", 12, 1, "alpha"), t, st,
        host_cap_total=5, tile_level=4, cell_level=12, min_words=5)
    assert r1["rows"] > 0
    tbl1 = I.read_iceberg(spark, t)
    n1 = tbl1.count()
    assert n1 == r1["rows"]
    s1 = I.snapshots(t)[-1]["snapshot-id"]

    # round 2: urls 0..11 recrawled later + 12..19 new, same 4 hosts
    # cap 7 with 3 prior pages/host -> 4 of round-2's 5 candidates
    # per host survive (newest first): recrawls p/4..p/11 replace,
    # the oldest recrawls p/0..p/3 lose to the budget
    r2 = incremental_crawl_round(
        _round_files("w2", 20, 9, "bravo"), t, st,
        host_cap_total=7, tile_level=4, cell_level=12, min_words=5)
    tbl2 = I.read_iceberg(spark, t)
    rows = tbl2.collect()
    # no duplicate urls after the upsert
    assert tbl2.groupBy("url").count().filter("count > 1").count() == 0
    # kept recrawls carry round-2 text; budget-cut recrawls keep round 1's
    by_url = {r["url"]: r["text"] for r in rows}
    for i in range(4, 12):
        assert "bravo" in by_url[f"https://site{i % 4}.example.org/p/{i}"], i
    for i in range(0, 4):
        assert "alpha" in by_url[f"https://site{i % 4}.example.org/p/{i}"], i
    # cross-round host budget: <= 7 INGESTED pages per host, so the
    # live table can never exceed 7 per host either
    hosts = tbl2.groupBy(F.expr(
        "regexp_extract(url, '//([^/]+)/', 1)").alias("h")).count()
    assert hosts.filter("count > 7").count() == 0
    # round 2 ingested LESS than its gated candidates: budget bound
    assert r2["rows"] < 20
    # state artifacts: bloom knows every live url, cms persists
    bitmap, k = bloom_load(f"{st}/seen_urls.parquet")
    assert tbl2.filter(
        ~bloom_might_contain(spark, bitmap, F.col("url"), k)).count() == 0
    # time travel to the round-1 state
    assert I.read_iceberg(spark, t, snapshot_id=s1).count() == n1
    assert len(I.snapshots(t)) == 2


def test_iceberg_zorder_prunes_both_columns(spark, tmp_path):
    """Z-order clustering keeps per-file bounds tight on BOTH columns:
    a narrow range on either column prunes files, where the 1-D sort
    baseline only prunes on its leading column; results identical."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(int(i), float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(0, 1000, 4000), rng.uniform(0, 1000, 4000)))]
    df = spark.createDataFrame(rows, "id long, x double, y double")

    tz = str(tmp_path / "tz")
    I.write_iceberg(df, tz, zorder=["x", "y"], sort_partitions=16)
    ts = str(tmp_path / "ts")
    I.write_iceberg(df, ts, sort_by=["x"], sort_partitions=16)

    total = len(I.data_files(tz))
    assert total >= 8
    qx = {"x": (100.0, 160.0)}
    qy = {"y": (100.0, 160.0)}
    # both layouts prune on x
    assert len(I.data_files(tz, column_ranges=qx)) < total
    assert len(I.data_files(ts, column_ranges=qx)) < len(I.data_files(ts))
    # only zorder prunes on y
    z_y = len(I.data_files(tz, column_ranges=qy))
    s_y = len(I.data_files(ts, column_ranges=qy))
    assert z_y < total and z_y < s_y, (z_y, s_y, total)
    # pruned reads return exactly the matching rows
    got = I.read_iceberg(spark, tz, column_ranges=qy).filter(
        "y >= 100 and y <= 160").count()
    want = sum(1 for _, x, y in rows if 100 <= y <= 160)
    assert got == want
    # combined two-column range prunes hardest
    both = len(I.data_files(tz, column_ranges={**qx, **qy}))
    assert both <= min(z_y, len(I.data_files(tz, column_ranges=qx)))
    with pytest.raises(ValueError):
        I.write_iceberg(df, str(tmp_path / "bad"), sort_by=["x"],
                        zorder=["x", "y"])
    with pytest.raises(ValueError):
        I.zorder_column(df, ["x"])


class TestTableStats:
    def test_ndv_stats_roundtrip_and_accuracy(self, spark, tmp_path):
        import numpy as np

        from xarray_spatial_spark.functions import sketch
        from xarray_spatial_spark.sources import iceberg_format as I

        t = str(tmp_path / "t")
        df = spark.range(20_000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 137).cast("string").alias("host"),
            (F.col("id") % 3).cast("string").alias("lang"),
        )
        I.write_iceberg(df, t)
        path = sketch.collect_table_stats(spark, t, ["doc_id", "host", "lang"], p=12)
        assert path.endswith(".parquet") and "stats" in path
        got = sketch.read_table_stats(t)
        assert got["row_count"] == 20_000
        assert got["snapshot_id"] == I.snapshots(t)[-1]["snapshot-id"]
        band = 3 * 1.04 / np.sqrt(1 << 12)
        assert abs(got["ndv"]["doc_id"] / 20_000 - 1) < band
        # small-range linear counting: a few register collisions move
        # the estimate by single counts, never by the band
        assert abs(got["ndv"]["host"] - 137) <= 6
        assert round(got["ndv"]["lang"]) == 3

    def test_stats_pin_to_snapshot_and_merge_across(self, spark, tmp_path):
        import numpy as np

        from xarray_spatial_spark.functions import sketch
        from xarray_spatial_spark.functions.sketch import (
            hll_cardinality, hll_merge)
        from xarray_spatial_spark.sources import iceberg_format as I

        t = str(tmp_path / "t")
        a = spark.range(0, 5000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("k"))
        I.write_iceberg(a, t)
        s1 = I.snapshots(t)[-1]["snapshot-id"]
        sketch.collect_table_stats(spark, t, ["doc_id"], p=12)
        b = spark.range(5000, 9000).select(
            F.col("id").alias("doc_id"), (F.col("id") % 7).alias("k"))
        I.write_iceberg(b, t, mode="append")
        s2 = I.snapshots(t)[-1]["snapshot-id"]
        sketch.collect_table_stats(spark, t, ["doc_id"], p=12)

        old = sketch.read_table_stats(t, snapshot_id=s1)
        new = sketch.read_table_stats(t, snapshot_id=s2)
        assert old["row_count"] == 5000 and new["row_count"] == 9000
        # the old artifact still answers for ITS snapshot (time travel)
        band = 3 * 1.04 / np.sqrt(1 << 12)
        assert abs(old["ndv"]["doc_id"] / 5000 - 1) < band
        assert abs(new["ndv"]["doc_id"] / 9000 - 1) < band
        # registers merge across snapshots exactly like hll_merge says
        merged = hll_merge(old["registers"]["doc_id"],
                           new["registers"]["doc_id"])
        assert hll_cardinality(merged) == new["ndv"]["doc_id"]

    def test_stats_reject_unknown_column_and_missing_artifact(
            self, spark, tmp_path):
        import pytest as pt

        from xarray_spatial_spark.functions import sketch
        from xarray_spatial_spark.sources import iceberg_format as I

        t = str(tmp_path / "t")
        I.write_iceberg(spark.range(10).select(F.col("id").alias("a")), t)
        with pt.raises(ValueError, match="not in table"):
            sketch.collect_table_stats(spark, t, ["nope"])
        with pt.raises(FileNotFoundError, match="no stats artifact"):
            sketch.read_table_stats(t)
