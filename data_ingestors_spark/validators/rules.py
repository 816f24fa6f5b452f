"""Column validation rules as composable conditional aggregations.

The reference's validators are whole-column scans, each independently
re-reading the source (DataValidator chunked scan
tracebloc_ingestor/validators/data_validator.py:143-215; the
time-series validators each do their own full read — SURVEY.md §4
"known inefficiency"). Here every rule is a ``sum(when(cond, 1))`` /
``first(when(cond, v), ignorenulls)`` column expression, and the whole
battery runs as **one** ``df.agg(...)`` pass — one scan at any scale,
map-side partial aggregation, zero Python.

Rule semantics replicated from data_validator.py (SURVEY.md V1):
- values are *present-but-unparseable* only if non-null (missing is
  legal in every column type — data_validator.py:523-537);
- INT family rejects non-integral ("3.5") and non-finite values;
- FLOAT family rejects non-numeric and non-finite;
- BOOL uses the truthy/falsy vocabulary (casts.py);
- VARCHAR(n) counts length > n; CHAR(n) counts length ≠ n;
- DATE/DATETIME/TIME count unparseable present values;
- up to 5 offending samples are reported per failing column
  (data_validator.py's sample reporting) — samples on failure only: the
  one pass carries the counts, and a second ``collect_set`` pass runs
  over the failing columns alone.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestors_spark.functions.casts import (
    FALSY,
    TRUTHY,
    cast_for_decl,
    parse_decl,
    _INT_TYPES,
    _FLOAT_TYPES,
    _DECIMAL_TYPES,
)
from data_ingestors_spark.validators.base import ValidationResult


def _bad_numeric(c: Column, integral: bool) -> Column:
    """Present but not parseable as (integral) finite numeric."""
    s = F.trim(c.cast("string"))
    d = s.try_cast("double")
    present = s.isNotNull() & (s != "")
    bad = d.isNull() | F.isnan(d) | (d == float("inf")) | (d == float("-inf"))
    if integral:
        # `% 1.0`, not floor(): F.floor yields LONG and overflows for
        # |d| > 2^63, misclassifying huge integral values.
        bad = bad | (d % 1.0 != 0.0)
    return present & bad


def _bad_bool(c: Column) -> Column:
    # vocab forms OR numeric-coercible 0/1 ('00', '1e0') conform —
    # mirrors bool_from_vocab exactly (T7 JSON verdicts)
    s = F.lower(F.trim(c.cast("string")))
    coercible = s.try_cast("double").isin(0.0, 1.0)
    return (
        s.isNotNull()
        & (s != "")
        & ~s.isin(TRUTHY + FALSY)
        & ~F.coalesce(coercible, F.lit(False))
    )


def _bad_timestamp(c: Column) -> Column:
    s = F.trim(c.cast("string"))
    return s.isNotNull() & (s != "") & F.try_to_timestamp(s).isNull()


def _rule_conditions(name: str, decl: str) -> dict[str, Column]:
    """{rule: offending-value condition} for one declared column; empty
    for TEXT / unparameterized VARCHAR, where only the null count
    applies."""
    c = F.col(name)
    base, args = parse_decl(decl)
    if base in _INT_TYPES or base == "BIGINT":
        bad = _bad_numeric(c, integral=True)
        # Overflow: numerically integral but outside the declared
        # type's range (conformance cast yields NULL) — an error, not a
        # silent NULL, matching the reference's _raise_on_overflow
        # (csv_ingestor.py:218-221).
        s = F.trim(c.cast("string"))
        present = s.isNotNull() & (s != "")
        overflow = present & ~bad & cast_for_decl(c, decl).isNull()
        return {"non_integer": bad, "overflow": overflow}
    if base in _FLOAT_TYPES or base in _DECIMAL_TYPES:
        return {"non_numeric": _bad_numeric(c, integral=False)}
    if base in ("BOOL", "BOOLEAN"):
        return {"bad_bool": _bad_bool(c)}
    if base in ("DATE", "DATETIME", "TIMESTAMP", "TIME"):
        return {"unparseable": _bad_timestamp(c)}
    if base == "VARCHAR" and args:
        return {"too_long": c.isNotNull() & (F.length(c.cast("string")) > args[0])}
    if base == "CHAR" and args:
        return {"wrong_length": c.isNotNull() & (F.length(c.cast("string")) != args[0])}
    return {}


def column_rule_aggs(name: str, decl: str) -> dict[str, Column]:
    """Count aggregations validating one declared column.

    Returns {metric_name: agg_column}; metric names are
    '<col>__<rule>' so the single agg row unpacks unambiguously.
    """
    c = F.col(name)
    aggs: dict[str, Column] = {f"{name}__nulls": F.sum(F.when(c.isNull(), 1).otherwise(0))}
    for rule, cond in _rule_conditions(name, decl).items():
        aggs[f"{name}__{rule}"] = F.sum(F.when(cond, 1).otherwise(0))
    return aggs


def _bad_samples(name: str, decl: str) -> Column:
    """Up to 5 sorted distinct values breaking any of the rules of a
    column that has at least one."""
    bad = functools.reduce(operator.or_, _rule_conditions(name, decl).values())
    return F.slice(
        F.array_sort(F.collect_set(F.when(bad, F.col(name).cast("string")))), 1, 5
    )


def time_series_aggs(ts_col: str = "timestamp") -> dict[str, Column]:
    """Time-series battery (SURVEY.md V3-V5) as aggregation columns
    over a pre-sorted-window frame; see queries/ingestion.py for the
    composed single-pass form:
    - unparseable timestamps;
    - locale-ambiguous values (day-first vs month-first disagree);
    - timestamps not strictly before today.
    """
    c = F.trim(F.col(ts_col).cast("string"))
    present = c.isNotNull() & (c != "")
    iso = c.rlike(r"^\d{4}-")
    dayfirst = F.try_to_timestamp(c, F.lit("d.M.yyyy H:m:s"))
    monthfirst = F.try_to_timestamp(c, F.lit("M.d.yyyy H:m:s"))
    ambiguous = (
        present
        & ~iso
        & dayfirst.isNotNull()
        & monthfirst.isNotNull()
        & (dayfirst != monthfirst)
    )
    ts = F.try_to_timestamp(c)
    return {
        f"{ts_col}__unparseable": F.sum(F.when(present & ts.isNull() & dayfirst.isNull(), 1).otherwise(0)),
        f"{ts_col}__ambiguous": F.sum(F.when(ambiguous, 1).otherwise(0)),
        f"{ts_col}__not_before_today": F.sum(
            F.when(ts.isNotNull() & (ts >= F.current_date().cast("timestamp")), 1).otherwise(0)
        ),
        f"{ts_col}__min": F.min(ts),
        f"{ts_col}__max": F.max(ts),
    }


def validate_schema_single_pass(df: DataFrame, schema: dict[str, str]) -> ValidationResult:
    """Run the full V1 battery over every declared column in ONE scan.

    Replaces the reference's N sequential chunked passes with a single
    distributed conditional-agg pass (SURVEY.md §4) — same verdicts,
    strictly more informative (all columns reported, not first-failure).
    The pass carries counts only; offending samples are gathered by a
    second pass over the failing columns alone, so a passing batch
    never pays for the ``collect_set`` aggregates (passing columns
    report ``[]``).
    """
    declared = {n: d for n, d in schema.items() if n in df.columns}
    counts: dict[str, dict[str, Column]] = {n: column_rule_aggs(n, d) for n, d in declared.items()}
    aggs = [v.alias(k) for col in counts.values() for k, v in col.items()]
    if not aggs:
        return ValidationResult(is_valid=True, metadata={"checked_columns": 0})
    row = df.agg(*aggs).collect()[0].asDict()
    failing = {
        n: [k for k in col if k != f"{n}__nulls" and row[k]]
        for n, col in counts.items()
    }
    failing = {n: keys for n, keys in failing.items() if keys}
    samples = {}
    if failing:
        samples = df.agg(
            *[_bad_samples(n, declared[n]).alias(n) for n in failing]
        ).collect()[0].asDict()
    errors: list[str] = []
    metadata: dict[str, object] = {}
    for n, col in counts.items():
        metadata.update({k: row[k] for k in col})
        if len(col) > 1:  # the column has rules, hence samples
            metadata[f"{n}__bad_samples"] = samples.get(n, [])
        for k in failing.get(n, []):
            errors.append(f"{k}: {row[k]} offending values (samples: {samples[n]})")
    return ValidationResult(is_valid=not errors, errors=errors, metadata=metadata)
