"""The closed-loop workloads. One client in one process: each pass
starts only after the previous one finished.

Every workload reports, per pass, the wall time of its own operation
(``op_s``) and of two parts that split along the mechanism the
workload exists to stress: the ``light`` part bypasses it and the
``heavy`` part exercises it (README.md has the map). From the traced
run it also derives its layer metrics from the spans. A layer metric
whose spans are missing reads None, and the runner fails the run.
"""

from __future__ import annotations

import gc
import os
import shutil
import time
from statistics import median

from perfbench import checks, gen
from perfbench.trace import children_of, inclusive, self_time, union_wall


def _med(xs: list) -> float | None:
    """Median, or None when there is nothing to take it of (or any
    input is itself missing)."""
    if not xs or any(x is None for x in xs):
        return None
    return float(median(xs))


def settle(spark) -> None:
    """Collect garbage in both VMs before a timed operation, so that a
    collection the previous operation left due lands outside the timing."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001


def _named(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name]


def _ratio(num: float | None, den: float) -> float | None:
    return None if num is None else num / den


class Workload:
    # prefixes of the per-layer metric names this workload must report
    PREFIXES: tuple[str, ...] = ()

    def install(self, tracer) -> None:
        """Patch the functions the pass calls (undone by ``tracer.restore``)."""


# warm-up passes before the timed ingest pass. The ingest is bound by
# per-job driver overhead, not by rows, and its passes keep getting
# faster (about 15 -> 12 -> 10 s on 4 cores): the second warm-up pass
# moves the timed one off the steepest part of that curve
WARM_PASSES = 2


class Ingest(Workload):
    """Two manifests per pass into a fresh target: ``insert`` (empty
    target, write-only upsert) then ``merge`` (half updates, half new
    keys: read-merge-rewrite of the touched buckets)."""

    PREFIXES = ("ingest.",)
    OPS = ("insert", "merge")

    def __init__(self, info: dict, work: str):
        self.info = info
        self.work = os.path.join(work, "run", "ingest")
        self.expected = checks.expected_ingest(
            info["manifests"]["insert"], info["manifests"]["merge"]
        )
        self.in_bytes = info["bytes"]
        self.upsert_results: list[tuple] = []

    def install(self, tracer) -> None:
        from data_ingestors_spark.ingest import pipeline

        orig, results = pipeline.upsert, self.upsert_results

        def upsert(*args, **kwargs):
            results.append(orig(*args, **kwargs))
            return results[-1]

        # the result is kept for the output check; the span goes around it
        tracer.patch(pipeline, "upsert", upsert)
        tracer.wrap(pipeline, "read_csv_source", "readers")
        tracer.wrap(pipeline, "run_battery", "validators")
        tracer.wrap(pipeline, "upsert", "upsert")

    def warm(self, spark) -> None:
        """WARM_PASSES passes on the warm-up pair, unchecked, each into a
        fresh throwaway target."""
        from data_ingestors_spark.ingest.pipeline import Ingestor

        target = os.path.join(self.work, "warm", "target")
        for _ in range(WARM_PASSES):
            shutil.rmtree(os.path.dirname(target), ignore_errors=True)
            for op in self.OPS:
                Ingestor(spark, self._config(), target).ingest(self.info["manifests"][f"warm_{op}"])
        shutil.rmtree(os.path.dirname(target), ignore_errors=True)

    def _config(self):
        from data_ingestors_spark.ingest.config import ResolvedConfig

        return ResolvedConfig(
            table_name="perfbench_ingest",
            schema=dict(gen.INGEST_SCHEMA),
            label_column="flag",
            data_id_strategy="column",
            data_id_column="rid",
        )

    def one_pass(self, spark, i: int, tracer) -> dict:
        from data_ingestors_spark.ingest.pipeline import Ingestor

        target = os.path.join(self.work, f"pass{i}", "target")
        shutil.rmtree(os.path.dirname(target), ignore_errors=True)
        rec: dict = {"problems": [], "ops": 0, "failed": 0, "files_written": {}}
        for op in self.OPS:
            before = gen.tree_files(target)
            rec["ops"] += 1
            self.upsert_results.clear()
            settle(spark)
            t0 = time.perf_counter()
            try:
                with tracer.span(f"ingest.{op}", pass_no=i):
                    summary = Ingestor(spark, self._config(), target).ingest(
                        self.info["manifests"][op]
                    )
                rec[f"{op}_s"] = time.perf_counter() - t0
                if len(self.upsert_results) != 1:
                    problems = [f"{len(self.upsert_results)} upsert results captured, expected 1"]
                else:
                    problems = checks.check_ingest(
                        self.expected[op], checks.observed_ingest(summary, self.upsert_results[0])
                    )
                if op == "merge":
                    rows = checks.parquet_rows(target)
                    if rows != self.expected["final_rows"]:
                        problems.append(
                            f"final rows: expected {self.expected['final_rows']}, got {rows}"
                        )
            except Exception as e:  # counted as a failed operation
                rec[f"{op}_s"] = time.perf_counter() - t0
                problems = [f"raised {type(e).__name__}: {str(e)[:200]}"]
            rec["files_written"][op] = len(gen.tree_files(target) - before)
            if problems:
                rec["failed"] += 1
                rec["problems"] += [f"pass {i} {op}: {p}" for p in problems]
        rec["light_s"], rec["heavy_s"] = rec["insert_s"], rec["merge_s"]
        rec["op_s"] = rec["pass_s"] = rec["insert_s"] + rec["merge_s"]
        shutil.rmtree(os.path.dirname(target), ignore_errors=True)
        return rec

    def headline(self, passes: list[dict]) -> dict:
        rows = self.info["rows"]
        return {
            "ingest.insert_rows_per_s": (rows["insert"] / _med([p["insert_s"] for p in passes]), "rows/s"),
            "ingest.merge_rows_per_s": (rows["merge"] / _med([p["merge_s"] for p in passes]), "rows/s"),
        }

    def layers(self, spans: list[dict], passes: list[dict]) -> dict:
        out: dict = {}
        for op in self.OPS:
            tops = _named(spans, f"ingest.{op}")
            kids = {t["id"]: children_of(spans, t["id"]) for t in tops}

            def child(name, key, tops=tops, kids=kids):
                # every call must have made the wrapped call at least once
                per_top = [[c[key] for c in kids[t["id"]] if c["name"] == name] for t in tops]
                return _med([sum(v) if v else None for v in per_top])

            p = f"ingest.{op}"
            out[f"{p}.pipeline.self_s"] = _med([self_time(t, kids[t["id"]]) for t in tops])
            out[f"{p}.pipeline.self_tasks"] = _med([t["tasks"] for t in tops])
            out[f"{p}.readers.s"] = child("readers", "s")
            out[f"{p}.validators.s"] = child("validators", "s")
            out[f"{p}.validators.jobs"] = child("validators", "jobs")
            for key in ("s", "jobs", "tasks", "shuffle_write_bytes", "executor_cpu_ms"):
                out[f"{p}.upsert.{key}"] = child("upsert", key)
            out[f"{p}.upsert.files_written"] = _med([r["files_written"][op] for r in passes])
            out[f"{p}.upsert.bytes_written_per_input_byte"] = _ratio(
                child("upsert", "output_bytes"), self.in_bytes[op]
            )
            out[f"{p}.gc_ms"] = _med([inclusive(spans, t, "gc_ms") for t in tops])
            out[f"{p}.spill_bytes"] = _med([inclusive(spans, t, "spill_bytes") for t in tops])
        return out


class QuerySet:
    """Registry queries in a given order. Each is built (the registry
    call), collected, and followed by ``clearCache()``. Collecting,
    rather than counting, keeps Catalyst from pruning away the
    projections the query exists to compute, and yields the result
    digest every pass must reproduce."""

    def __init__(self, base: str, order: list[str]):
        from data_ingestors_spark.io.readers import TABLES
        from data_ingestors_spark.queries import all_oracles

        self.base, self.order = base, order
        oracles = all_oracles()
        self.expected: dict[str, list] = {}
        for name in order:
            if name in oracles:
                rows, cols = checks.oracle_rows(base, oracles[name], TABLES)
                self.expected[name] = checks.canonical(rows, cols)
        self.digests: dict[str, set] = {name: set() for name in order}
        self.verdicts: dict[tuple, list] = {}

    def warm(self, spark) -> None:
        """Every query once, unchecked. The caller clears the cache
        afterwards."""
        from data_ingestors_spark.queries import all_queries

        registry = all_queries()
        for name in self.order:
            registry[name](spark, self.base).collect()

    def run(self, spark, i: int, tracer, rec: dict, rounds: int = 1) -> None:
        """``rounds`` rounds; adds to ``rec``'s op counts and problems and
        sets ``query_s``/``build_s`` per name to the median over the rounds
        (``query_rounds`` keeps every time)."""
        from data_ingestors_spark.queries import all_queries

        registry = all_queries()
        times: dict[str, list] = {name: [] for name in self.order}
        builds: dict[str, list] = {name: [] for name in self.order}
        for r in range(rounds):
            for name in self.order:
                rec["ops"] += 1
                settle(spark)
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"queries.{name}", pass_no=i, round_no=r):
                        with tracer.span("build"):
                            df = registry[name](spark, self.base)
                        builds[name].append(time.perf_counter() - t0)
                        rows = df.collect()
                    times[name].append(time.perf_counter() - t0)
                    spark.catalog.clearCache()
                    got = checks.canonical([tuple(row) for row in rows], list(df.columns))
                    key = (name, checks.digest(got))
                    # each distinct result is compared with the oracle once
                    if key not in self.verdicts:
                        self.verdicts[key] = (
                            checks.compare_results(got, self.expected[name])
                            if name in self.expected else []
                        )
                    problems = list(self.verdicts[key])
                    self.digests[name].add(key[1])
                    if len(self.digests[name]) > 1:
                        problems.append("result digest differs between rounds")
                except Exception as e:
                    times[name].append(time.perf_counter() - t0)
                    problems = [f"raised {type(e).__name__}: {str(e)[:200]}"]
                if problems:
                    rec["failed"] += 1
                    rec["problems"] += [f"pass {i} round {r} {name}: {p}" for p in problems]
        rec["query_rounds"] = times
        rec["query_s"] = {name: median(ts) for name, ts in times.items()}
        rec["build_s"] = {name: median(bs) for name, bs in builds.items() if bs}
        rec["relational_s"] = sum(rec["query_s"][n] for n in self.order if n in gen.RELATIONAL)
        rec["pipeline_s"] = sum(rec["query_s"][n] for n in self.order if n in gen.PIPELINE)

    def headline(self, passes: list[dict]) -> dict:
        def fam(names):
            return sum(_med([p["query_s"][n] for p in passes]) for n in self.order if n in names)

        return {
            "queries.relational_s": (fam(gen.RELATIONAL), "s"),
            "queries.pipeline_s": (fam(gen.PIPELINE), "s"),
        }

    def layers(self, spans: list[dict]) -> dict:
        out: dict = {}
        fam_tops: dict[str, list] = {"relational": [], "pipeline": []}
        n_rounds = {"relational": set(), "pipeline": set()}
        for name in self.order:
            tops = _named(spans, f"queries.{name}")
            builds = [_named(children_of(spans, t["id"]), "build") for t in tops]
            out[f"queries.{name}.s"] = _med([t["s"] for t in tops])
            out[f"queries.{name}.build_s"] = _med([b[0]["s"] if b else None for b in builds])
            for key in ("jobs", "shuffle_write_bytes"):
                out[f"queries.{name}.{key}"] = _med([inclusive(spans, t, key) for t in tops])
            family = "relational" if name in gen.RELATIONAL else "pipeline"
            fam_tops[family] += tops
            n_rounds[family] |= {(t["pass_no"], t["round_no"]) for t in tops}

        def fam_sum(family, key):
            tops = fam_tops[family]
            if not tops:
                return None
            return sum(inclusive(spans, t, key) for t in tops) / len(n_rounds[family])

        out["queries.relational.executor_cpu_ms"] = fam_sum("relational", "executor_cpu_ms")
        out["queries.pipeline.executor_cpu_ms"] = fam_sum("pipeline", "executor_cpu_ms")
        out["queries.pipeline.spill_bytes"] = fam_sum("pipeline", "spill_bytes")
        rel, pipe = fam_sum("relational", "gc_ms"), fam_sum("pipeline", "gc_ms")
        out["queries.gc_ms"] = None if rel is None or pipe is None else rel + pipe
        return out


FOLDS = {
    "incremental_dedup_fold_batch": "dedup",
    "neardup_fold_batch": "neardup",
    "embedding_neardup_fold_batch": "embedding",
}


# rounds of the registry slice per refresh pass; each query reports
# its median over them
SLICE_ROUNDS = 3


class Refresh(Workload):
    """The warm-up folds batch 0 into a store; each pass runs the
    registry slice SLICE_ROUNDS times, then folds batch 1 into a copy
    of that store (``compact_every=2``, so the batch also compacts).
    ``light_s`` is the slice, which reads only the base tables and so
    bypasses the refresh machinery: the sum of each query's median
    over the rounds. ``heavy_s`` is the batch, and ``op_s`` the two
    together. The slice runs before the batch: right after it, the
    queries read slower and swing more from round to round."""

    PREFIXES = ("refresh.", "queries.")

    def __init__(self, info: dict, work: str):
        self.info = info
        self.work = os.path.join(work, "run", "refresh")
        self.warm_store = os.path.join(self.work, "warm", "store")
        expected, self.n_docs = checks.expected_refresh([d for d, _ in info["batches"]])
        self.expected = expected[1]
        self.batch_docs = info["rows"]["batch_1"][0]
        self.in_bytes = info["bytes"]
        self.queries = QuerySet(info["base"], info["order"])

    def install(self, tracer) -> None:
        from data_ingestors_spark.io import writers
        from data_ingestors_spark.streaming import neardup

        for fn, short in FOLDS.items():
            tracer.wrap(neardup, fn, f"fold.{short}")
        tracer.wrap(writers, "upsert", "fold.upsert")
        tracer.wrap(neardup, "compact_neardup_index", "compact.index")
        tracer.wrap(neardup, "compact_embedding_neardup_index", "compact.index")
        tracer.wrap(writers, "compact_table", "compact.table")

    def warm(self, spark) -> None:
        """Batch 0 into the store every pass starts from, compacted at
        once (``compact_every=1``), so every fold and both compactions
        run cold here; then every slice query once. Unchecked: the
        pass's checks cover the store's state."""
        from data_ingestors_spark.ingest import refresh

        shutil.rmtree(os.path.dirname(self.warm_store), ignore_errors=True)
        docs, emb = self.info["batches"][0]
        refresh.refresh_corpus(
            spark, self.warm_store, docs, embedding_batch_path=emb, compact_every=1
        )
        self.queries.warm(spark)
        spark.catalog.clearCache()

    def one_pass(self, spark, i: int, tracer) -> dict:
        from data_ingestors_spark.ingest import refresh

        rec: dict = {"problems": [], "ops": 1, "failed": 0}
        self.queries.run(spark, i, tracer, rec, rounds=SLICE_ROUNDS)
        store = os.path.join(self.work, f"pass{i}", "store")
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)
        shutil.copytree(self.warm_store, store)
        docs, emb = self.info["batches"][1]
        settle(spark)
        t0 = time.perf_counter()
        try:
            with tracer.span("refresh.batch", pass_no=i):
                summary = refresh.refresh_corpus(
                    spark, store, docs, embedding_batch_path=emb, compact_every=2
                )
            rec["batch_s"] = time.perf_counter() - t0
            problems = checks.check_refresh_batch(self.expected, summary["report"])
            if not summary["compacted"]:
                problems.append("the batch did not compact")
            rows = checks.parquet_rows(os.path.join(store, "corpus"))
            if rows != self.n_docs:
                problems.append(f"corpus rows expected {self.n_docs}, got {rows}")
        except Exception as e:
            rec["batch_s"] = time.perf_counter() - t0
            problems = [f"raised {type(e).__name__}: {str(e)[:200]}"]
        if problems:
            rec["failed"] += 1
            rec["problems"] += [f"pass {i} batch: {p}" for p in problems]
        rec["store_files"] = len(gen.tree_files(store))
        rec["store_bytes"] = gen.tree_bytes(store)
        shutil.rmtree(os.path.dirname(store), ignore_errors=True)
        rec["light_s"] = rec["relational_s"] + rec["pipeline_s"]
        rec["heavy_s"] = rec["batch_s"]
        rec["op_s"] = rec["pass_s"] = rec["light_s"] + rec["heavy_s"]
        return rec

    def headline(self, passes: list[dict]) -> dict:
        batch = _med([p["batch_s"] for p in passes])
        return {
            "refresh.docs_per_s": (self.batch_docs / batch, "docs/s"),
            "refresh.batch_p50_s": (batch, "s"),
            **self.queries.headline(passes),
        }

    def layers(self, spans: list[dict], passes: list[dict]) -> dict:
        batches = _named(spans, "refresh.batch")
        kids = {b["id"]: children_of(spans, b["id"]) for b in batches}

        def under(b, name):
            return [s for s in kids[b["id"]] if s["name"] == name]

        out: dict = {}
        for short in ("dedup", "upsert", "neardup", "embedding"):
            folds = [f for b in batches for f in under(b, f"fold.{short}")]
            for key in ("s", "tasks", "shuffle_write_bytes"):
                out[f"refresh.fold.{short}.{key}"] = _med([inclusive(spans, f, key) for f in folds])
        max_s, overlap = [], []
        for b in batches:
            folds = [s for s in kids[b["id"]] if s["name"].startswith("fold.")]
            max_s.append(max(f["s"] for f in folds) if folds else None)
            overlap.append(sum(f["s"] for f in folds) / union_wall(folds) if folds else None)
        out["refresh.fold.max_s"] = _med(max_s)
        out["refresh.fold.overlap"] = _med(overlap)

        def compact(name, key):
            return _med([sum(s[key] for s in under(b, name)) if under(b, name) else None
                         for b in batches])

        out["refresh.compact.index_s"] = compact("compact.index", "s")
        out["refresh.compact.table_s"] = compact("compact.table", "s")
        idx, tbl = compact("compact.index", "output_bytes"), compact("compact.table", "output_bytes")
        out["refresh.compact.bytes_rewritten"] = None if idx is None or tbl is None else idx + tbl
        out["refresh.loop.self_s"] = _med([self_time(b, kids[b["id"]]) for b in batches])
        out["refresh.store.files"] = _med([p["store_files"] for p in passes])
        out["refresh.store.bytes_per_input_byte"] = _ratio(
            _med([p["store_bytes"] for p in passes]), self.in_bytes
        )
        out["refresh.gc_ms"] = _med([inclusive(spans, b, "gc_ms") for b in batches])
        out["refresh.spill_bytes"] = _med([inclusive(spans, b, "spill_bytes") for b in batches])
        out.update(self.queries.layers(spans))
        return out


class Queries(Workload):
    """By hand only (``--report``): one round per pass of the 15
    registry queries. ``op_s`` is the round, ``light_s`` the relational
    family and ``heavy_s`` the pipeline family."""

    PREFIXES = ("queries.",)

    def __init__(self, info: dict, work: str):
        self.queries = QuerySet(info["base"], info["order"])

    def warm(self, spark) -> None:
        self.queries.warm(spark)
        spark.catalog.clearCache()

    def one_pass(self, spark, i: int, tracer) -> dict:
        rec: dict = {"problems": [], "ops": 0, "failed": 0}
        self.queries.run(spark, i, tracer, rec)
        rec["light_s"], rec["heavy_s"] = rec["relational_s"], rec["pipeline_s"]
        rec["op_s"] = rec["pass_s"] = rec["light_s"] + rec["heavy_s"]
        return rec

    def headline(self, passes: list[dict]) -> dict:
        return self.queries.headline(passes)

    def layers(self, spans: list[dict], passes: list[dict]) -> dict:
        return self.queries.layers(spans)


WORKLOADS = {"ingest": Ingest, "refresh": Refresh, "queries": Queries}
