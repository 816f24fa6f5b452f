"""Output checks. Every expected value is computed independently of
the program, with DuckDB over the generated input files."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb


# --- ingest -------------------------------------------------------------

def expected_ingest(insert_csv: str, merge_csv: str) -> dict:
    """Summary counts each ingest call must report, from key-set
    overlap of the two manifests. No row is blank-keyed or mistyped, so
    nothing is skipped or failed; duplicate keys collapse in the upsert."""
    con = duckdb.connect()
    try:
        for name, path in (("ins", insert_csv), ("mrg", merge_csv)):
            con.execute(
                f"CREATE TABLE {name} AS SELECT rid FROM "
                f"read_csv('{path}', all_varchar=true, header=true)"
            )
        n_ins, k_ins = con.execute("SELECT count(*), count(DISTINCT rid) FROM ins").fetchone()
        n_mrg, k_mrg = con.execute("SELECT count(*), count(DISTINCT rid) FROM mrg").fetchone()
        upd = con.execute(
            "SELECT count(*) FROM (SELECT DISTINCT rid FROM mrg) m"
            " WHERE m.rid IN (SELECT rid FROM ins)"
        ).fetchone()[0]
        final = con.execute(
            "SELECT count(DISTINCT rid) FROM (SELECT rid FROM ins UNION ALL SELECT rid FROM mrg)"
        ).fetchone()[0]
    finally:
        con.close()
    return {
        "insert": {"total": n_ins, "updated": 0, "inserted": k_ins,
                   "deduped": n_ins - k_ins, "skipped": 0, "failed": 0},
        "merge": {"total": n_mrg, "updated": upd, "inserted": k_mrg - upd,
                  "deduped": n_mrg - k_mrg, "skipped": 0, "failed": 0},
        "final_rows": final,
    }


def observed_ingest(summary, upsert_result: tuple[int, int, int]) -> dict:
    updated, inserted, deduped = upsert_result
    return {
        "total": summary.total_records,
        "updated": updated,
        "inserted": inserted,
        "deduped": summary.deduped,
        "skipped": summary.skipped,
        "failed": summary.failed,
        "processed": summary.processed,
        "upsert_deduped": deduped,
    }


def check_ingest(expected: dict, observed: dict) -> list[str]:
    """Problems with one ingest call's counts (empty = correct)."""
    problems = [
        f"{k}: expected {v}, got {observed.get(k)}"
        for k, v in expected.items()
        if observed.get(k) != v
    ]
    if observed.get("processed") != expected["updated"] + expected["inserted"]:
        problems.append(f"processed: got {observed.get('processed')}")
    if observed.get("upsert_deduped") != expected["deduped"]:
        problems.append(f"upsert deduped: got {observed.get('upsert_deduped')}")
    return problems


def parquet_rows(path: str) -> int:
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')"
        ).fetchone()[0]
    finally:
        con.close()


# --- refresh ------------------------------------------------------------

REPORT_COLS = (
    "n_docs", "n_dup_corpus", "n_dup_batch", "n_novel",
    "n_chars", "chars_novel", "novel_frac",
)


def expected_refresh(doc_batches: list[str]) -> tuple[dict, int]:
    """Per-batch, per-source novelty reports for folding ``doc_batches``
    in order (the refresh_report oracle logic generalised from two
    batches to N: a doc is a corpus dup when its fingerprint appeared in
    any earlier batch), plus the corpus row count after the last batch."""
    union = " UNION ALL ".join(
        f"SELECT *, {b} AS batch_id FROM read_parquet('{p}/*.parquet')"
        for b, p in enumerate(doc_batches)
    )
    sql = f"""
    WITH docs AS (
      SELECT doc_id, source, batch_id, length(text) AS nc,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM ({union})
    ),
    flag AS (
      SELECT d.*, CASE WHEN EXISTS (
               SELECT 1 FROM docs p WHERE p.batch_id < d.batch_id AND p.fp = d.fp)
             THEN 1 END AS in_corpus
      FROM docs d
    ),
    tot AS (
      SELECT batch_id, source, count(*) AS n_docs,
             sum(CASE WHEN in_corpus IS NOT NULL THEN 1 ELSE 0 END) AS n_dup_corpus,
             sum(nc) AS n_chars
      FROM flag GROUP BY 1, 2
    ),
    scored AS (
      SELECT *, CASE WHEN row_number() OVER (
                   PARTITION BY batch_id, fp ORDER BY nc DESC, doc_id ASC) = 1
                THEN 1 ELSE 0 END AS is_winner
      FROM flag WHERE in_corpus IS NULL
    ),
    fam AS (
      SELECT batch_id, source, sum(is_winner) AS n_novel,
             sum(1 - is_winner) AS n_dup_batch,
             sum(CASE WHEN is_winner = 1 THEN nc ELSE 0 END) AS chars_novel
      FROM scored GROUP BY 1, 2
    )
    SELECT t.batch_id, t.source, t.n_docs, t.n_dup_corpus,
           coalesce(f.n_dup_batch, 0), coalesce(f.n_novel, 0),
           t.n_chars, coalesce(f.chars_novel, 0),
           coalesce(f.n_novel, 0) / CAST(t.n_docs AS DOUBLE)
    FROM tot t LEFT JOIN fam f USING (batch_id, source)
    """
    con = duckdb.connect()
    try:
        rows = con.execute(sql).fetchall()
        n_docs = con.execute(f"SELECT count(DISTINCT doc_id) FROM ({union})").fetchone()[0]
    finally:
        con.close()
    out: dict = {}
    for batch_id, source, *vals in rows:
        out.setdefault(batch_id, {})[source] = dict(zip(REPORT_COLS, map(float, vals)))
    return out, n_docs


def check_refresh_batch(expected: dict, report: list[dict]) -> list[str]:
    """Problems with one batch's stored novelty report (empty = correct)."""
    got = {r["source"]: r for r in report}
    problems = []
    if set(got) != set(expected):
        problems.append(f"sources differ: {sorted(set(got) ^ set(expected))}")
    for source in sorted(set(got) & set(expected)):
        for col in REPORT_COLS:
            e, g = expected[source][col], float(got[source][col])
            if not math.isclose(e, g, rel_tol=1e-5, abs_tol=1e-6):
                problems.append(f"{source}.{col}: expected {e}, got {g}")
    return problems


# --- queries ------------------------------------------------------------

def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "as_tuple"):  # Decimal
        return float(v)
    return v


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (x is None, str(round(x, 4)) if isinstance(x, float) else str(x)) for x in row
    )


def canonical(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Order-insensitive form of a result: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=_sort_key)


def digest(rows: list[tuple]) -> str:
    text = repr([
        tuple(round(x, 6) if isinstance(x, float) else x for x in r) for r in rows
    ])
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _same(a, b) -> bool:
    if isinstance(a, (float, int)) and isinstance(b, (float, int)) and (
        isinstance(a, float) or isinstance(b, float)
    ):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def compare_results(spark_rows: list[tuple], oracle_rows: list[tuple]) -> list[str]:
    if len(spark_rows) != len(oracle_rows):
        return [f"row count: spark {len(spark_rows)}, oracle {len(oracle_rows)}"]
    for s, o in zip(spark_rows, oracle_rows):
        if not _same(s, o):
            return [f"first differing row: spark {s}, oracle {o}"]
    return []


def oracle_rows(base: str, sql: str, tables: tuple[str, ...]) -> tuple[list[tuple], list[str]]:
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(base, t)}.parquet'")
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        return res.fetchall(), cols
    finally:
        con.close()
