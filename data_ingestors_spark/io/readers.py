"""Readers for the benchmark tables and for ingestion sources.

Benchmark tables (TESTDATA.md): one parquet file per table under an
``sf`` directory. Parquet scans get predicate pushdown + column
pruning for free — callers must select/filter on the returned
DataFrame (never pre-materialize) so Catalyst can push into the scan.

Ingestion sources (CSV/JSON manifests) mirror the reference engine's
read semantics (tracebloc_ingestor/ingestors/csv_ingestor.py,
json_ingestor.py — see SURVEY.md §2.1): declared schema (no
inference), NA sentinel vocabulary, FAILFAST on ragged rows, and a
duplicate-header preflight that Spark would otherwise silently mangle.
"""

from __future__ import annotations

import csv
import io
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestors_spark.session import tune

# Reference DEFAULT_CSV_OPTIONS (cli/conventions.py:83-88) minus
# chunk_size (a pandas concern; Spark splits by bytes).
DEFAULT_CSV_OPTIONS: dict[str, str] = {
    "delimiter": ",",
    "quotechar": '"',
    "escapechar": "\\",
    "encoding": "UTF-8",
    # decimal="," turns on German-Excel decimal-comma normalization
    # for declared-numeric columns (pipeline stage).
    "decimal": ".",
}

TABLES = (
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

# NA sentinels for tabular-family CSV reads; mirrors the reference's
# wider sentinel set (csv_ingestor.py:62-67). Non-tabular categories
# treat only "" as NA.
TABULAR_NA_VALUES = ("", "NA", "NULL", "None")


def merge_csv_options(options: dict | None) -> dict:
    """Merge user csv_options over the defaults; ``sep`` is accepted
    as a pandas-style alias for ``delimiter`` (the reference's
    csv_options pass straight into pandas.read_csv, which takes both)."""
    opts = {**DEFAULT_CSV_OPTIONS, **(options or {})}
    if "sep" in opts:
        opts["delimiter"] = opts.pop("sep")
    return opts


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one benchmark table; asserts UTC timestamp semantics.

    events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
    parquet reader rejects — read nanos as long (legacy conf) and
    convert to a microsecond TimestampType column.
    """
    tune(spark)
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for field in df.schema.fields:
        if name == "events" and field.name == "ts" and isinstance(field.dataType, T.LongType):
            # integer division: ns epochs ~1.7e18 exceed double precision
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # parquet timestamp[us] with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ, which Spark won't cast to numeric and which
            # diverges from DuckDB's naive-timestamp view. With the
            # session tz pinned to UTC the cast is wall-clock-preserving.
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def utf8_preflight(path: str, encoding: str = "UTF-8", probe_bytes: int = 16 << 20) -> None:
    """S5: decode-check the first bytes and fail with the byte offset
    and a hex context window (reference base.py:458-480) instead of a
    deep Spark task stack. Local paths only; remote stores rely on the
    executor-side FAILFAST."""
    if not os.path.isfile(path):
        return
    with open(path, "rb") as f:
        blob = f.read(probe_bytes)
    try:
        blob.decode("utf-8-sig" if encoding.upper().replace("-", "") in ("UTF8", "UTF8SIG") else encoding)
    except UnicodeDecodeError as e:
        ctx = blob[max(0, e.start - 8): e.start + 8]
        raise ValueError(
            f"{path} is not valid {encoding}: byte 0x{blob[e.start]:02x} at "
            f"offset {e.start} (context: {ctx!r}). If the file is Latin-1 or "
            f"UTF-16, set spec.csv_options.encoding accordingly."
        ) from e


def read_csv_header(
    spark: SparkSession, path: str, options: dict | None = None
) -> list[str]:
    """Driver-side probe of the raw header line — also the
    duplicate-header fail-fast the reference has and Spark silently
    papers over (csv_ingestor.py:399-420). Parses with csv.reader so
    quoted delimiters inside a header name (``"P01033|TIMP1"``,
    ``"a,b"``) survive, honoring the configured delimiter/quotechar."""
    opts = merge_csv_options(options)
    enc = opts["encoding"]
    read_enc = "utf-8-sig" if enc.upper().replace("-", "") == "UTF8" else enc
    if os.path.isfile(path) or os.path.isdir(path):
        # local file OR directory: probe the first data file directly so
        # the configured encoding is honored (spark.read.text decodes
        # UTF-8 only and would silently mangle e.g. Latin-1 headers)
        probe = _probe_file(path, "CSV")
        utf8_preflight(probe, enc)
        with open(probe, encoding=read_enc, newline="") as f:
            line = f.readline()
    else:  # glob/remote store: probe via Spark (text is UTF-8)
        first = spark.read.text(path).limit(1).collect()
        line = first[0][0] if first else ""
    if not line.strip():
        raise ValueError(f"empty source file: {path}")
    names = next(
        csv.reader(
            io.StringIO(line),
            delimiter=opts["delimiter"],
            quotechar=opts["quotechar"],
            escapechar=opts["escapechar"] or None,
        )
    )
    names = [h.strip() for h in names]
    dupes = sorted({n for n in names if names.count(n) > 1})
    if dupes:
        raise ValueError(f"duplicate column headers in {path}: {dupes}")
    return names


def read_csv_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    tabular: bool = True,
    header: bool = True,
    options: dict | None = None,
) -> DataFrame:
    """CSV manifest scan with the reference's semantics.

    - declared StructType, no inference (dtype-pinning made moot);
    - FAILFAST surfaces ragged rows / unparseable values loudly;
    - NA sentinel set per category family.
    """
    # Read every file column as string: the reference pins declared
    # string columns to str dtype to stop inference corruption
    # ("007" keeping its zeros — csv_ingestor.py:326-366), and its NA
    # sentinel set is wider than Spark's single nullValue option.
    # Null normalization (functions.nulls.normalize_nulls) and typed
    # conformance casts (functions.casts.conform_types) run as explicit
    # downstream stages shared with the JSON source, mirroring the
    # reference's cross-format consistency (json_ingestor.py:283-308).
    # The raw schema covers the FULL header (manifests legally carry
    # extra columns like the label source — projection happens later);
    # mismatched widths under FAILFAST stay a loud ragged-row error.
    opts = merge_csv_options(options)
    header_names = read_csv_header(spark, path, opts)
    raw_schema = T.StructType([T.StructField(n, T.StringType(), True) for n in header_names])
    reader = (
        spark.read.schema(raw_schema)
        .option("header", header)
        .option("mode", "FAILFAST")
        .option("encoding", opts["encoding"])
        .option("sep", opts["delimiter"])
        .option("quote", opts["quotechar"])
    )
    if opts["escapechar"]:
        reader = reader.option("escape", opts["escapechar"])
    if opts.get("multiline"):
        # quoted fields containing newlines (the reference's pandas
        # reader handles them natively). COST: multiLine disables
        # intra-file split parallelism — one task per file — so it is
        # opt-in; without it such files fail loudly under FAILFAST
        # instead of silently mis-parsing.
        reader = reader.option("multiLine", True)
    return reader.csv(path)


def _probe_file(path: str, what: str = "data") -> str:
    """The file whose first bytes decide a parse strategy: the path
    itself, or the first data file of a DIRECTORY source (multi-file
    exports; every file must share the form)."""
    if not os.path.isdir(path):
        return path
    candidates = sorted(
        f for f in os.listdir(path)
        if not f.startswith((".", "_")) and os.path.isfile(os.path.join(path, f))
    )
    if not candidates:
        raise ValueError(f"no data files in {what} source directory: {path}")
    return os.path.join(path, candidates[0])


def _json_probe_file(path: str) -> str:
    return _probe_file(path, "JSON")


def json_scalar_preflight(spark: SparkSession, path: str, columns: list[str]) -> None:
    """T7 non-scalar reject: a declared scalar column holding a JSON
    object/array is an ERROR, not a silently-stringified value
    (json_ingestor.py:77-181 rejects non-scalars per record).

    Spark's schema'd JSON reader stringifies nested values into string
    columns, which is indistinguishable from a legitimate string after
    the fact — so this check parses each record to a VARIANT first
    (one JVM-side pass, no Python) and counts per-column values whose
    variant type is OBJECT/ARRAY. Fails loud with counts + samples.
    """
    with open(_json_probe_file(path), "rb") as f:
        multiline = f.read(65536).lstrip().startswith(b"[")
    recs = spark.read.option("singleVariantColumn", "var").option(
        "multiLine", multiline
    ).json(path)
    if multiline:
        recs.createOrReplaceTempView("__json_preflight")
        recs = spark.sql(
            "SELECT ve.value AS var FROM __json_preflight, "
            "LATERAL variant_explode(__json_preflight.var) AS ve"
        )
    aggs = []
    for c in columns:
        vpath = "$['" + c.replace("\\", "\\\\").replace("'", "\\'") + "']"
        vtype = F.expr(f'schema_of_variant(try_variant_get(var, "{vpath}"))')
        bad = vtype.rlike("^(OBJECT|ARRAY)")
        aggs.append(F.sum(F.when(bad, 1).otherwise(0)).alias(f"{c}__nonscalar"))
        aggs.append(
            F.slice(
                F.array_sort(
                    F.collect_set(F.when(bad, F.expr("cast(var as string)")))
                ),
                1,
                3,
            ).alias(f"{c}__samples")
        )
    row = recs.agg(*aggs).collect()[0].asDict()
    errors = [
        f"{k.removesuffix('__nonscalar')}: {v} non-scalar value(s) "
        f"(samples: {row[k.removesuffix('__nonscalar') + '__samples']})"
        for k, v in row.items()
        if k.endswith("__nonscalar") and v
    ]
    if errors:
        raise ValueError(
            "JSON validation failed — declared scalar columns hold nested "
            "objects/arrays:\n  " + "\n  ".join(errors)
        )


def read_json_source(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON manifest scan: newline-delimited or a top-level array.

    The reference peeks the first non-whitespace byte to pick a parse
    strategy (json_ingestor.py:19-56); Spark's multiLine option covers
    the array form. We probe the same way, driver-side, on the first
    bytes of the file — for a DIRECTORY source (multi-file NDJSON
    exports), the first data file is probed and every file must share
    the form.
    """
    with open(_json_probe_file(path), "rb") as f:
        head = f.read(65536).lstrip()
    multiline = head.startswith(b"[")
    return (
        spark.read.schema(schema)
        .option("multiLine", multiline)
        .option("mode", "FAILFAST")
        .json(path)
    )
