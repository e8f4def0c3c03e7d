"""Readers and writers.

Sources (reference parity, SURVEY.md §2.1):
- S1 full table scans  -> ``load_tables`` / ``read_table`` (parquet; JDBC hook)
- S2 incremental scans -> ``quality.incremental_filter`` (a Catalyst filter,
  pushed into the parquet/JDBC scan automatically — the reference
  string-interpolates SQL by hand, etl/extract/data_extractor.py:43-70)
- S3 parquet/csv sinks -> ``write_report``
- S4 append summary    -> ``append_table``

Scale note: a 100 TB ``stock_movements``/``events`` fact should live
date-partitioned on disk (``write_fact_partitioned``); every trend/incremental
query then prunes partitions instead of scanning history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns that may arrive as nanosecond-int64 (legacy driver testdata stored
# TIMESTAMP(NANOS); Spark refuses those unless nanosAsLong reads them as i64).
# Current testdata stores timestamp[us]; both generations must read correctly.
_NS_TIMESTAMP_COLS = {"events": ("ts",)}


def convert_ns_timestamp(df: DataFrame, col: str) -> DataFrame:
    """int64 nanoseconds -> TimestampType, truncating to microseconds.

    Integer division (``div``) keeps the math exact on int64 — a double
    roundtrip would lose precision at 1.7e18 — and matches DuckDB's
    truncating ns->us cast bit-for-bit.
    """
    return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))


def configure_timestamp_reads(spark: SparkSession) -> None:
    """Self-configure the CALLER's session so every generation of the driver
    testdata reads as plain TIMESTAMP. Both are runtime-settable SQL confs,
    so a vanilla SparkSession (e.g. an external harness's) works too:

    - ``inferTimestampNTZ.enabled=false``: parquet ``timestamp[us]`` (naive,
      isAdjustedToUTC=false — what the current testdata stores) reads as
      TIMESTAMP instead of TIMESTAMP_NTZ. Under the engine's pinned UTC
      session the instant equals the stored wall value, matching DuckDB's
      naive read bit-for-bit; it also keeps ``unix_micros``/watermark sites
      on the one timestamp type they accept.
    - ``nanosAsLong=true``: legacy TIMESTAMP(NANOS) files read as i64
      (converted by ``convert_ns_timestamp``) instead of throwing
      PARQUET_TYPE_ILLEGAL.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_timestamps(df: DataFrame, ns_cols: tuple[str, ...] = ()) -> DataFrame:
    """Make every temporal column plain TIMESTAMP regardless of source dtype:
    int64-nanos columns (named in ``ns_cols``) get the exact ns->us division;
    any TIMESTAMP_NTZ column (non-parquet sources, or a session where the
    NTZ conf was overridden after a cached scan) is cast — exact under the
    engine's UTC session because NTZ->LTZ reinterprets the wall value in
    session time."""
    dtypes = dict(df.dtypes)
    for c in ns_cols:
        if dtypes.get(c) == "bigint":
            df = convert_ns_timestamp(df, c)
    for c, t in dtypes.items():
        if t == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    configure_timestamp_reads(spark)
    df = spark.read.parquet(path)
    return normalize_timestamps(df, _NS_TIMESTAMP_COLS.get(name, ()))


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load testdata tables and register each as a temp view (so the whole
    transform layer is also reachable from ``spark.sql``)."""
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_table_any(
    spark: SparkSession,
    path: str,
    schema=None,
    ts_ns_cols: tuple[str, ...] = (),
    fmt: str | None = None,
) -> DataFrame:
    """S1 widened to heterogeneous sources: read one logical table from
    parquet, CSV (with header) or JSON-lines — a file or a directory of
    files — under the SAME timestamp/normalization contract as the parquet
    reader.

    Text formats carry no type metadata, so a ``schema`` is REQUIRED for
    csv/json: schema inference re-types columns by content (an
    all-integers-plus-one-null CSV column becomes double; dates stay
    strings) and silently changes every downstream hash — the engine
    refuses to guess. ``fmt`` overrides extension sniffing for
    extension-less directories. At scale this is the ingest edge: the
    declared schema applies at scan time (no inference pass over the
    data), and csv/json scans still get partition parallelism and column
    pruning-by-projection even though those formats cannot push filters."""
    if fmt is None:
        probe = path
        if os.path.isdir(path):
            files = [
                f
                for f in sorted(os.listdir(path))
                if not f.startswith(("_", "."))
            ]
            if not files:
                raise ValueError(f"no data files under {path}")
            probe = files[0]
        ext = os.path.splitext(probe)[1].lstrip(".").lower()
        fmt = {
            "parquet": "parquet",
            "csv": "csv",
            "json": "json",
            "orc": "orc",
        }.get(ext)
        if fmt is None:
            raise ValueError(
                f"cannot sniff format from {probe!r}; pass fmt= explicitly"
            )
    configure_timestamp_reads(spark)
    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":
        # self-describing like parquet: schema optional, pushdown-capable
        df = spark.read.orc(path)
    elif fmt == "csv":
        if schema is None:
            raise ValueError("csv sources require an explicit schema")
        df = spark.read.schema(schema).option("header", "true").csv(path)
    elif fmt == "json":
        if schema is None:
            raise ValueError("json sources require an explicit schema")
        df = spark.read.schema(schema).json(path)
    else:
        raise ValueError(f"unsupported source format {fmt!r}")
    return normalize_timestamps(df, ts_ns_cols)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """Multimodal ingest edge: raw media/document FILES as a binary frame
    via Spark's built-in ``binaryFile`` source, mapped to the repo's media
    contract — ``(media_id long, media_type string, n_bytes long,
    modified_at timestamp, path string, payload binary)`` — so the output
    feeds ``llmops.multimodal.extract_features`` / ``sample_frames`` /
    ``audio_spectral_features`` directly.

    ``media_id`` is the portable 60-bit md5 prefix of the file path
    (stable across runs and listings — a row number would renumber on
    every new file); ``path`` stays in the frame for joining features
    back to their source. ``media_type`` is the lowercased trailing extension, NULL for
    extension-less files (never a path fragment).
    ``glob`` pushes a ``pathGlobFilter`` into the LISTING (non-matching
    files are never opened); ``recursive`` walks subdirectories.

    Scale notes: the binaryFile source distributes both listing and
    reads; each file must fit in one task's memory (the source does not
    split files), so shard multi-GB archives upstream. Spark caps
    ``spark.sql.sources.binaryFile.maxLength`` at array max; the skew
    cure for few-huge-files batches is a post-read
    ``repartition(n, "media_id")`` — same note as extract_features."""
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    df = r.load(path)
    return df.select(
        F.conv(F.substring(F.md5(F.col("path").cast("binary")), 1, 15), 16, 10)
        .cast("long")
        .alias("media_id"),
        F.nullif(
            F.lower(
                F.regexp_extract(F.col("path"), r"\.([A-Za-z0-9]+)$", 1)
            ),
            F.lit(""),
        ).alias("media_type"),
        F.col("length").alias("n_bytes"),
        F.col("modificationTime").alias("modified_at"),
        F.col("path"),
        F.col("content").alias("payload"),
    )


def write_report(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """S3 analog: one report -> one output location (reference writes one
    file per report in parquet/csv/xlsx, etl/load/data_loader.py:26-63).
    Small aggregate outputs coalesce to 1 file; facts should use
    ``write_fact_partitioned``. ``fmt='xlsx'`` covers the reference's Excel
    path via a dependency-free writer (``write_report_xlsx``)."""
    if fmt == "xlsx":
        write_report_xlsx(df, path)
        return
    writer = df.coalesce(1).write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(path)
    elif fmt == "csv":
        writer.option("header", "true").csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "orc":
        writer.orc(path)
    else:
        raise ValueError(f"unsupported report format: {fmt}")


# xlsx limits (a worksheet caps at 2^20 rows; reports are small aggregates,
# so hitting this means someone pointed a fact at the Excel sink)
_XLSX_MAX_ROWS = 1_048_575


def _xlsx_col_letter(i: int) -> str:
    """0-based column index -> A, B, ..., Z, AA, AB, ..."""
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(ord("A") + r) + out
    return out


def write_report_xlsx(df: DataFrame, path: str, sheet_name: str = "Report") -> None:
    """The reference's Excel sink (etl/load/data_loader.py:55-58) without
    the openpyxl dependency: xlsx is a zip of XML parts, and a single-sheet
    workbook needs only five of them. Report frames are small aggregates,
    so — exactly like the reference's ``to_excel`` — the frame is collected
    on the driver; anything fact-sized belongs in parquet, and the sheet
    row cap enforces that."""
    import zipfile
    from xml.sax.saxutils import escape

    rows = df.collect()
    if len(rows) > _XLSX_MAX_ROWS:
        raise ValueError(
            f"xlsx sheet cap is {_XLSX_MAX_ROWS} rows; write facts as parquet"
        )
    cols = df.columns

    def cell(r: int, c: int, v) -> str:
        ref = f"{_xlsx_col_letter(c)}{r}"
        if v is None:
            return f'<c r="{ref}"/>'
        if isinstance(v, bool):
            return f'<c r="{ref}" t="b"><v>{int(v)}</v></c>'
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        return (
            f'<c r="{ref}" t="inlineStr"><is><t xml:space="preserve">'
            f"{escape(str(v))}</t></is></c>"
        )

    body = [
        "<row r=\"1\">" + "".join(cell(1, c, name) for c, name in enumerate(cols)) + "</row>"
    ]
    for i, row in enumerate(rows, start=2):
        body.append(
            f'<row r="{i}">' + "".join(cell(i, c, row[c]) for c in range(len(cols))) + "</row>"
        )
    sheet = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
        "<sheetData>" + "".join(body) + "</sheetData></worksheet>"
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f'<sheets><sheet name="{escape(sheet_name)}" sheetId="1" r:id="rId1"/></sheets>'
        "</workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" '
        'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
        '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        "</Types>"
    )
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def write_fact_partitioned(df: DataFrame, path: str, date_col: str = "movement_date") -> None:
    """Date-partitioned fact layout — the Spark analog of the reference's
    B-tree index on movement_date (database/schema.sql:189): partition
    pruning replaces index range scans at scale."""
    (
        df.withColumn("_dt", F.to_date(F.col(date_col)))
        .write.mode("overwrite")
        .partitionBy("_dt")
        .parquet(path)
    )


def append_table(df: DataFrame, table: str) -> None:
    """S4 analog: append run-summary rows to a managed table
    (etl/load/data_loader.py:89-94 uses pandas to_sql append)."""
    df.write.mode("append").saveAsTable(table)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """S1 over a live database (the reference extracts 7 tables from
    PostgreSQL via SQLAlchemy, etl/extract/data_extractor.py:21-41).

    Always pass ``partition_column``/bounds for anything fact-sized: without
    them Spark opens ONE connection and pulls the table serially; with them
    the extract becomes ``num_partitions`` parallel range scans — the
    difference between hours and minutes on the reference's 550k-row (or a
    100 TB) movement table. Catalyst pushes filters/projections into the
    generated SQL, so the reference's hand-interpolated incremental WHERE
    (data_extractor.py:51-54) is just ``.filter`` on the returned frame.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    min_files: int = 1,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ~``target_file_mb`` files. Streaming sinks and fine-grained partitioned
    writes accumulate small files that poison scan parallelism at scale
    (every file is a task + an open); periodic compaction keeps file counts
    proportional to bytes. Returns the output file count.
    """
    size_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(min_files, -(-size_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "._compacting"
    df.repartition(int(n_files)).write.mode("overwrite").parquet(tmp)
    compacted = spark.read.parquet(tmp)
    compacted.write.mode("overwrite").parquet(path)
    # best-effort cleanup of the staging copy
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return n_files


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
) -> None:
    """Bucketed managed table: rows hash-partitioned into ``n_buckets`` files
    per partition by ``bucket_cols`` at write time. Two tables bucketed the
    same way join WITHOUT a shuffle (the exchange disappears from the plan —
    asserted in tests/test_plans.py); at 100 TB that turns the recurring
    movements-x-stock join from a full-fact shuffle into a local zip of
    pre-sorted buckets. The analog of the reference's FK B-tree indexes
    (database/schema.sql:175-204) for join locality."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
