"""The ingestion pipeline — the reference's ``BaseIngestor.ingest``
re-expressed as one declarative DataFrame program.

Reference lifecycle (base.py:713-929, SURVEY.md §3): validate →
count → stream records → clean/normalize/label/uuid → copy files →
batch upsert → API send → summary. The reference re-reads the source
≥6 times (SURVEY.md §4); here the source is read ONCE and cached, and
the only job before the write is one aggregation over that cache:

    read → normalize nulls → validate (one agg pass; builds the cache
         and observes the row count) → conform types → label policy
         → data_id/constants → split valid/skipped → upsert → summary

Conformance and the framework columns are one ``withColumns``
projection each. The split is a filter whose two counts are observed
on the first action that scans it (the file transfer's count, else the
upsert's write), so no job runs just to count (``io.writers.observe``),
and nothing past the source is cached. Offending-value samples are
gathered only when the validation fails.

Failure accounting is reproduced by *splitting* DataFrames rather than
catching per-row exceptions (SURVEY.md §7 hard-part 1): `skipped` =
rows dropped for missing mapped data_id (base.py:315-326), `failed` =
rows whose declared-type conformance produced an error verdict.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import os

from data_ingestors_spark.api.client import ApiSink, register_dataset, send_metadata_batches
from data_ingestors_spark.functions.casts import cast_for_decl
from data_ingestors_spark.functions.label_policy import label_bucket_col
from data_ingestors_spark.functions.nulls import normalize_nulls
from data_ingestors_spark.ingest.config import ResolvedConfig
from data_ingestors_spark.ingest.file_transfer import CATEGORY_FILES, transfer_files
from data_ingestors_spark.ingest.lock import TableLock
from data_ingestors_spark.ingest.summary import IngestionSummary
from data_ingestors_spark.io.readers import (
    json_scalar_preflight,
    read_csv_source,
    read_json_source,
)
from data_ingestors_spark.io.writers import observe, upsert, write_table
from data_ingestors_spark.validators.mapping import run_battery


class Ingestor:
    """Compile a ResolvedConfig into a run over one source file/dir."""

    def __init__(
        self,
        spark: SparkSession,
        config: ResolvedConfig,
        target_path: str,
        api_sink: ApiSink | None = None,
    ):
        config.validate()
        self.spark = spark
        self.config = config
        self.target_path = target_path
        # K3/K4: when a sink is configured, api_sent is real per-batch
        # accounting and registration runs after commit; None = local
        # mode (the reference's EDGE_ENV=local mock-everything path).
        self.api_sink = api_sink

    # -- stages ----------------------------------------------------------

    def read(self, source: str) -> DataFrame:
        schema = T.StructType(
            [T.StructField(name, T.StringType(), True) for name in self.config.schema]
        )
        if self.config.data_format == "csv":
            return read_csv_source(
                self.spark, source, schema,
                tabular=self.config.tabular,
                options=self.config.csv_options,
            )
        if self.config.data_format == "json":
            # T7 non-scalar reject runs BEFORE the schema'd read, which
            # would silently stringify nested values into string columns
            json_scalar_preflight(self.spark, source, list(self.config.schema))
            return read_json_source(self.spark, source, schema)
        if self.config.data_format == "parquet":
            return self.spark.read.parquet(source)
        if self.config.data_format == "orc":
            # columnar sibling of the parquet path: native Spark ORC
            # reader, predicate pushdown and pruning included
            return self.spark.read.orc(source)
        raise ValueError(f"unknown data_format: {self.config.data_format}")

    def transform(self, df: DataFrame) -> DataFrame:
        """Subclass hook (reference's ``transform(record)`` — SURVEY.md
        T8), DataFrame-level: override to add derived columns."""
        return df

    def _augment(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        # label mapping + policy (T3). `label` is deliberately not a
        # reserved name: a source column called "label" with no
        # explicit mapping IS the label (passthrough), matching the
        # reference's map-onto-label allowance (database.py:203-215).
        if cfg.label_column and cfg.label_column in df.columns:
            lbl = F.col(cfg.label_column).cast("string")
            label = label_bucket_col(lbl).cast("string") if cfg.label_policy == "bucket" else lbl
        elif "label" in df.columns:
            label = F.col("label").cast("string")
        else:
            label = F.lit(None).cast("string")

        def src(c: str):
            # data_id reads `label` as relabelled above, not the source
            # column, so existing rows keep their data_id
            return label if c.lower() == "label" else F.col(c)

        # data_id strategy (T4): deterministic UUID5-style hash of row
        # content instead of random UUID4 — retry-idempotent (SURVEY.md
        # §7 hard-part 5) while keeping the privacy property.
        if cfg.data_id_strategy == "column":
            data_id = F.trim(src(cfg.data_id_column).cast("string"))
        else:
            ns = _uuid.uuid5(_uuid.NAMESPACE_URL, f"ingest://{cfg.table_name}").hex
            content = F.concat_ws("\x1f", *[src(c).cast("string") for c in df.columns])
            data_id = F.sha2(F.concat(F.lit(ns), content), 256)
        now = F.current_timestamp()
        cols = {
            "label": label,
            "data_id": data_id,
            "data_intent": F.lit(cfg.data_intent),
            "ingestor_id": F.lit(cfg.ingestor_id),
            "status": F.lit(0),
            "created_at": now,
            "updated_at": now,
        }
        # T5: the file-bearing standard columns exist on every table
        # (database.py:302-321); absent in the source ⇒ NULL. The file
        # transfer stage later overwrites filename/extension with the
        # resolved on-disk values (file_transfer.py:153-154).
        for name in ("filename", "extension", "annotation", "mask_id"):
            if name not in df.columns:
                cols[name] = F.lit(None).cast("string")
        return df.withColumns(cols)

    # -- run -------------------------------------------------------------

    def ingest(self, source: str) -> IngestionSummary:
        """Run the full pipeline; file-bearing categories take the
        advisory table lock (V18) around the side-effecting span —
        sidecar copies are not transactional with the table swap, so
        two concurrent runs must serialize (base.py:482-620)."""
        cfg = self.config
        lock_dir = cfg.lock_dir
        if lock_dir is None and cfg.dest_path:
            lock_dir = os.path.dirname(cfg.dest_path.rstrip("/")) or "."
        if lock_dir:
            with TableLock(lock_dir, cfg.table_name, owner=cfg.ingestor_id):
                return self._run(source)
        return self._run(source)

    def _run(self, source: str) -> IngestionSummary:
        cfg = self.config
        raw = self.read(source)
        raw = normalize_nulls(raw, columns=list(cfg.schema), tabular=cfg.tabular)
        # i18n: decimal-comma locales (German Excel) — normalize
        # "1,5" → "1.5" on declared-NUMERIC columns only, BEFORE the
        # validation scan and the casts; strings are untouched
        # (csv_options.decimal — reference #739 i18n battery).
        if cfg.csv_options.get("decimal") == ",":
            from data_ingestors_spark.functions.casts import is_numeric_decl
            fixes = {}
            for name, decl in cfg.schema.items():
                if name in raw.columns and is_numeric_decl(decl):
                    c = F.col(name).cast("string")
                    # "1.234,5" / "1.234.567": in a decimal-comma
                    # locale a dot can only be a thousands separator,
                    # so strip the dots, then comma → decimal point.
                    thou = c.rlike(r"^\s*[+-]?[0-9]{1,3}(\.[0-9]{3})+(,[0-9]+)?\s*$")
                    fixed = (
                        F.when(
                            thou,
                            F.regexp_replace(
                                F.regexp_replace(c, r"\.", ""), ",", "."
                            ),
                        )
                        .when(
                            c.rlike(r"^\s*[+-]?[0-9]+,[0-9]+\s*$"),
                            F.regexp_replace(c, ",", "."),
                        )
                        .otherwise(c)
                    )
                    fixes[name] = fixed
            raw = raw.withColumns(fixes)
        # A single small source file arrives as ONE input split, which
        # would run the whole validate/conform path single-threaded on
        # the cached partition, so spread it. NEVER for categories
        # whose battery validates source row order (V4 time-ordered
        # reads scan-partition arrival order — a round-robin shuffle
        # would erase exactly the signal it checks). Imported here, not
        # at the top: Python workers import this module (through
        # ingest/__init__) and must not load the operators package.
        from data_ingestors_spark.operators.layout import spread
        from data_ingestors_spark.validators.mapping import (
            ORDER_SENSITIVE_CATEGORIES,
        )

        if cfg.category not in ORDER_SENSITIVE_CATEGORIES:
            raw = spread(raw)
        # the row count rides on the first action over the cache, which
        # reads every row: the validation aggregate, else the file
        # transfer's count or the upsert
        raw, source_counts = observe(raw, n=F.count(F.lit(1)))
        raw.cache()
        try:
            # every declared column must exist in the source — a
            # missing one is usually a delimiter/encoding mistake, so
            # say that instead of an unresolved-column plan error.
            missing_decl = [c for c in cfg.schema if c not in raw.columns]
            if missing_decl:
                raise ValueError(
                    f"declared schema columns missing from source: {missing_decl}; "
                    f"source columns: {raw.columns}. If the source is delimited "
                    "differently, set spec.csv_options (delimiter/encoding)."
                )

            # per-category validator battery (validators/mapping.py —
            # the reference's validators_mapping matrix). Tabular
            # batteries fold into ONE aggregation pass over the cached
            # source; file-bearing categories add the distributed
            # file/annotation checks before any copy happens.
            result = run_battery(
                self.spark,
                cfg.category,
                {
                    "config": cfg,
                    "df": raw,
                    "src_path": cfg.src_path,
                    "dest_path": cfg.dest_path,
                    "target_size": cfg.target_size,
                    "n_keypoints": cfg.number_of_keypoints,
                    "ts_col": cfg.time_column or "timestamp",
                    "time_col": cfg.time_column or "time",
                },
            )
            if not result.is_valid:
                raise ValueError("validation failed:\n  " + "\n  ".join(result.errors))

            # declarative expectations (spec.expectations) — one more
            # agg over the SAME cached frame, zero extra scans
            if cfg.expectations:
                from data_ingestors_spark.validators.expectations import (
                    evaluate_expectations,
                )

                report = evaluate_expectations(raw, list(cfg.expectations))
                if not report.is_valid:
                    raise ValueError(
                        "expectations failed:\n  " + "\n  ".join(report.errors())
                    )

            conformed = raw.withColumns(
                {name: cast_for_decl(F.col(name), decl) for name, decl in cfg.schema.items()}
            )
            conformed = self.transform(conformed)
            if cfg.processors:
                # T8 declared processors — resolved fail-loud before
                # any is applied (ingest/processors.py)
                from data_ingestors_spark.ingest.processors import apply_processors

                conformed = apply_processors(conformed, cfg.processors)
            augmented = self._augment(conformed)
            # T1 projection: schema columns + framework columns only —
            # source-only columns (label source etc.) drop here
            # (base.py:328-341 exclusion semantics).
            keep = list(
                dict.fromkeys(  # ordered-unique: schema may declare "label" etc.
                    [c for c in cfg.schema if c in augmented.columns]
                    + [
                        "label", "data_id", "data_intent", "ingestor_id", "status",
                        "created_at", "updated_at",
                        "filename", "extension", "annotation", "mask_id",
                    ]
                )
            )
            augmented = augmented.select(keep)

            # post-transform expectations: invariants the conformance /
            # processor / label-mapping stages must establish
            if cfg.post_expectations:
                from data_ingestors_spark.validators.expectations import (
                    evaluate_expectations,
                )

                post = evaluate_expectations(augmented, list(cfg.post_expectations))
                if not post.is_valid:
                    raise ValueError(
                        "post-transform expectations failed:\n  "
                        + "\n  ".join(post.errors())
                    )

            # skipped: mapped data_id missing/blank ⇒ row dropped
            # (base.py:315-326). Both counts ride on the first action
            # over `ok`, which scans every row: the file transfer's
            # count, else the upsert.
            ok_pred = F.col("data_id").isNotNull() & (F.col("data_id") != "")
            augmented, split_counts = observe(
                augmented, n=F.count(F.lit(1)), ok=F.count(F.when(ok_pred, 1))
            )
            ok = augmented.filter(ok_pred)

            # K5: sidecar copies for file-bearing categories. Records
            # missing a source file (or whose copy failed) are dropped
            # from the insert and counted — never a partial pair on
            # disk, never a silent 100%-success (issue #99).
            ft_failures = 0
            if cfg.category in CATEGORY_FILES:
                ok, stats, failed_recs = transfer_files(
                    self.spark, ok,
                    category=cfg.category,
                    src_path=cfg.src_path,
                    dest_path=cfg.dest_path,
                    extension=cfg.extension,
                )
                ft_failures = stats.failures
                if ft_failures:
                    # quarantine: the reference surfaces failed_records
                    # to the caller (base.py:818-823); here they land
                    # as a parquet table next to the target so a
                    # 100 TB run's failures are queryable, not a
                    # driver-side list
                    write_table(failed_recs, self.target_path + "__failed")

            # in-batch duplicate data_ids collapse in the upsert's
            # deterministic ranking; the reference treats duplicate
            # keys as updates, never failures. The upsert observes
            # that count, like its others, on its one write — no
            # standalone count_distinct job (the r3 ingest throughput
            # regression).
            updated, inserted, deduped = upsert(
                self.spark, self.target_path, ok, key="data_id"
            )
            processed = updated + inserted
            total = source_counts()["n"]
            split = split_counts()
            skipped = split["n"] - split["ok"]

            # K3: per-batch metadata send — api_sent counts only ACKed
            # batches, so a rejected batch trips has_failures
            # (api_sent < inserted). K4: registration is fail-loud —
            # rows are committed by now (base.py:861-918).
            if self.api_sink is not None:
                api_sent = send_metadata_batches(
                    ok, self.api_sink,
                    table_name=cfg.table_name,
                    ingestor_id=cfg.ingestor_id,
                    batch_size=cfg.batch_size,
                )
                from data_ingestors_spark.ingest.config import STANDARD_COLUMNS
                register_dataset(
                    self.api_sink,
                    table_name=cfg.table_name,
                    schema={**cfg.schema, **STANDARD_COLUMNS},
                    category=cfg.category,
                    ingestor_id=cfg.ingestor_id,
                    data_format=cfg.data_format,
                    intent=cfg.data_intent,
                )
            else:
                api_sent = processed  # local mode: mock-ACK everything

            return IngestionSummary(
                total_records=total,
                processed=processed,
                inserted=processed,
                api_sent=api_sent,
                failed=total - skipped - ft_failures - deduped - processed,
                skipped=skipped,
                deduped=deduped,
                file_transfer_failures=ft_failures,
            )
        finally:
            raw.unpersist()
