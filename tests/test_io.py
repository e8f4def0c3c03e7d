"""IO layer: ns-timestamp conversion, partitioned fact writes, JDBC option
validation, and small-file compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from wsspark import io


def test_events_ts_matches_duckdb(spark, sf_dir):
    """events.ts (parquet timestamp[us]) must land on DuckDB's naive read
    exactly — the NTZ->TIMESTAMP normalization may not shift any instant."""
    import duckdb

    got = {
        r["event_id"]: r["ts"]
        for r in io.read_table(spark, sf_dir, "events").limit(50).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM "
            f"'{os.path.join(sf_dir, 'events.parquet')}' "
            f"WHERE event_id IN ({','.join(map(str, got))})"
        ).fetchall()
    )
    assert got == want


def test_read_table_self_configures_ntz_conf(spark, sf_dir):
    """A session WITHOUT the factory's timestamp confs (e.g. an external
    harness's vanilla SparkSession) must still read events.parquet as plain
    TIMESTAMP — read_table self-configures the runtime SQL confs before the
    scan. Round-3 regression: the driver testdata switched to timestamp[us],
    which a default session reads as TIMESTAMP_NTZ, crashing every
    unix_micros/watermark site downstream."""
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "true")  # a vanilla session's default
    try:
        df = io.read_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert df.limit(1).count() == 1
        assert spark.conf.get(key) == "false"
    finally:
        spark.conf.set(key, "false")


def test_read_table_legacy_nanos_backcompat(spark, tmp_path):
    """Older driver testdata stored TIMESTAMP(NANOS); read_table must still
    read it via the nanosAsLong i64 path with DuckDB-identical truncating
    ns->us division (no float roundtrip)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns_vals = [1704067200123456789, 1704067201999999999, 1704067203000000001]
    table = pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": pa.array(ns_vals, pa.timestamp("ns")),
        }
    )
    path = str(tmp_path / "events.parquet")
    pq.write_table(table, path)

    df = io.read_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r["event_id"]: r["ts"] for r in df.collect()}
    want = dict(
        duckdb.connect()
        .execute(f"SELECT event_id, CAST(ts AS TIMESTAMP) FROM '{path}'")
        .fetchall()
    )
    assert got == want


def test_jdbc_reader_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="bounds"):
        io.read_jdbc_table(
            spark, "jdbc:postgresql://h/db", "t", partition_column="id"
        )


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    path = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(4000).select(
        F.col("id"), F.lit("x" * 100).alias("pad")
    ).repartition(40).write.parquet(path)
    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before == 40
    io.compact_parquet(spark, path, target_file_mb=256)
    after = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert after == 1
    assert spark.read.parquet(path).count() == 4000


def test_xlsx_report_roundtrip(spark, tmp_path):
    """The Excel sink writes a valid single-sheet xlsx (zip-of-XML) that
    round-trips header and typed cell values — no openpyxl involved."""
    import zipfile
    import xml.etree.ElementTree as ET

    from wsspark.io import write_report

    df = spark.createDataFrame(
        [(1, "widget <&>", 9.5, True, None), (2, "gadget", -3.25, False, "x")],
        ["id", "name", "value", "flag", "note"],
    )
    path = str(tmp_path / "report.xlsx")
    write_report(df, path, fmt="xlsx")

    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())
        assert {"[Content_Types].xml", "_rels/.rels", "xl/workbook.xml",
                "xl/_rels/workbook.xml.rels",
                "xl/worksheets/sheet1.xml"} <= names
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))

    rows = sheet.findall(".//m:row", ns)
    assert len(rows) == 3  # header + 2 data rows

    def cell_values(row):
        out = []
        for c in row.findall("m:c", ns):
            t = c.find("m:is/m:t", ns)
            v = c.find("m:v", ns)
            out.append(t.text if t is not None else (v.text if v is not None else None))
        return out

    assert cell_values(rows[0]) == ["id", "name", "value", "flag", "note"]
    r1 = cell_values(rows[1])
    assert r1[0] == "1" and r1[1] == "widget <&>" and float(r1[2]) == 9.5
    assert r1[3] == "1" and r1[4] is None  # bool cell + empty cell
    assert cell_values(rows[2])[4] == "x"


def test_read_table_any_csv_json_roundtrip(spark, sf_dir, tmp_path):
    """CSV and JSON sources must produce row-identical frames to the
    parquet read under the declared schema — including timestamp columns
    and full-precision doubles (a lossy text round-trip would silently
    flip every downstream driver hash)."""
    from wsspark.io import read_table, read_table_any

    ref = read_table(spark, sf_dir, "lineitem")
    csv_dir = str(tmp_path / "li_csv")
    json_dir = str(tmp_path / "li_json")
    ref.write.option("header", "true").mode("overwrite").csv(csv_dir)
    ref.write.mode("overwrite").json(json_dir)

    want = sorted(map(tuple, ref.collect()))
    got_csv = sorted(
        map(tuple, read_table_any(spark, csv_dir, schema=ref.schema, fmt="csv").collect())
    )
    got_json = sorted(
        map(tuple, read_table_any(spark, json_dir, schema=ref.schema, fmt="json").collect())
    )
    assert got_csv == want
    assert got_json == want


def test_read_table_any_refuses_schemaless_text(spark, tmp_path):
    import pytest as _pytest

    from wsspark.io import read_table_any

    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,2\n")
    with _pytest.raises(ValueError, match="explicit schema"):
        read_table_any(spark, str(p))


def test_read_table_any_sniffs_parquet(spark, sf_dir):
    from wsspark.io import read_table, read_table_any
    import os

    path = os.path.join(sf_dir, "region.parquet")
    a = sorted(map(tuple, read_table_any(spark, path).collect()))
    b = sorted(map(tuple, read_table(spark, sf_dir, "region").collect()))
    assert a == b


def test_read_table_any_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC is the second self-describing columnar source: schema rides in
    the file, no explicit schema needed, content identical to parquet."""
    from wsspark.io import read_table, read_table_any

    ref = read_table(spark, sf_dir, "nation")
    orc_dir = str(tmp_path / "nation_orc")
    ref.write.mode("overwrite").orc(orc_dir)
    got = sorted(map(tuple, read_table_any(spark, orc_dir, fmt="orc").collect()))
    assert got == sorted(map(tuple, ref.collect()))


def test_write_report_json_orc_sinks(spark, sf_dir, tmp_path):
    from wsspark.io import read_table, read_table_any, write_report

    ref = read_table(spark, sf_dir, "region")
    want = sorted(map(tuple, ref.collect()))
    jp, op = str(tmp_path / "r_json"), str(tmp_path / "r_orc")
    write_report(ref, jp, fmt="json")
    write_report(ref, op, fmt="orc")
    assert sorted(
        map(tuple, read_table_any(spark, jp, schema=ref.schema, fmt="json").collect())
    ) == want
    assert sorted(map(tuple, read_table_any(spark, op, fmt="orc").collect())) == want


def test_read_binary_files_feeds_multimodal(spark, tmp_path):
    """binaryFile ingest edge: raw files -> media contract -> real decode
    through extract_features, with glob pushdown into the listing."""
    import os

    from wsspark.io import read_binary_files
    from wsspark.llmops import multimodal

    sys_path = __import__("sys").path
    sys_path.insert(0, os.path.join(os.path.dirname(__file__)))
    try:
        from test_multimodal import make_bmp
    finally:
        sys_path.pop(0)

    px = [[(255, 0, 0), (0, 255, 0)], [(0, 0, 255), (9, 9, 9)]]
    (tmp_path / "media").mkdir()
    (tmp_path / "media" / "a.bmp").write_bytes(make_bmp(px))
    (tmp_path / "media" / "b.bmp").write_bytes(make_bmp([[(1, 2, 3)]]))
    (tmp_path / "media" / "notes.txt").write_bytes(b"not media")

    media = read_binary_files(spark, str(tmp_path / "media"), glob="*.bmp")
    rows = media.collect()
    assert len(rows) == 2  # glob pushed into the listing: txt never read
    assert {r.media_type for r in rows} == {"bmp"}
    by_path = {os.path.basename(r.path): r for r in rows}
    assert by_path["a.bmp"].n_bytes == len(make_bmp(px))
    assert len({r.media_id for r in rows}) == 2  # stable distinct ids

    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 2
    assert all(len(f.feature) == multimodal.FEATURE_DIM for f in feats)
    # deterministic media_id: re-listing produces identical ids
    again = read_binary_files(spark, str(tmp_path / "media"), glob="*.bmp")
    assert {r.media_id for r in again.collect()} == {r.media_id for r in rows}


def test_read_binary_files_extensionless_media_type(spark, tmp_path):
    """No trailing extension -> NULL media_type, never a path fragment
    (review finding r9: '.'-split returned the whole URI)."""
    from wsspark.io import read_binary_files

    d = tmp_path / "mixed"
    d.mkdir()
    (d / "README").write_bytes(b"plain")
    (d / "clip.WAV").write_bytes(b"RIFFxxxx")
    rows = {r.path.split("/")[-1]: r.media_type for r in
            read_binary_files(spark, str(d)).collect()}
    assert rows["README"] is None
    assert rows["clip.WAV"] == "wav"


def test_session_factory_leaves_fifo_scheduler(spark):
    """get_session sets no scheduler mode: the app runs Spark's default
    FIFO pool, which the engine's driver-thread job overlaps rely on."""
    assert spark.sparkContext.getConf().get("spark.scheduler.mode") is None
    assert spark.sparkContext._jsc.sc().getSchedulingMode().toString() == "FIFO"
