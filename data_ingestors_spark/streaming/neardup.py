"""Streaming MinHash-LSH near-duplicate detection — the incremental
form of operators/dedup.py minhash_near_duplicates for document
streams (the shape a training-data pipeline actually ingests: batches
arrive forever; a new document must be checked against EVERYTHING seen
so far without re-scanning the corpus).

Per micro-batch:

1. shingle + MinHash the batch (the same JVM-side expressions as the
   batch operator — one persisted shingle frame per batch);
2. candidate pairs = batch band rows equi-joined against the
   ACCUMULATED band index (old ∪ this batch) on (band, bucket), the
   probe form of operators/pairs.candidate_pairs — the index holds
   (doc_id, band, bucket) longs only, never text;
3. exact-Jaccard verify against the accumulated shingle store;
4. append this batch's bands/shingles to the index and its verified
   pairs to the output — all three are batch-keyed stores
   (streaming/batches.py), so a crash-replayed batch rewrites its own
   partitions with identical content.

Coverage argument: a pair (a, b) is checked exactly when the LATER of
the two arrives (or both in one batch: the ``!=`` guard finds it from
both sides, and ``least``/``greatest`` plus a distinct keep it once), so
after any prefix of batches the emitted pair set equals the batch
operator's output over the union of those batches — asserted in tests.

The per-batch cost is |batch| x bands index probes plus verification
of collisions only; the stream never joins old-vs-old again. The index
and shingle stores are partitioned by ``__batch`` only, so each probe
still reads every prior layer of both, not just the touched buckets.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestors_spark.operators.pairs import (
    candidate_pairs,
    jaccard_verify,
    minhash_bands,
    pair_payload,
)
from data_ingestors_spark.streaming.batches import (
    BATCH_PART_COL,
    compact_batches,
    read_prior,
    start_folds,
    write_all,
    write_batch,
)


def _batch_index_frames(
    batch: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_n: int,
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """(band_rows, shingle_rows, cached_intermediates) for one batch,
    reusing the batch operator's shingle/signature/band expressions.
    band_rows/shingle_rows are cheap derivations OF the cached
    intermediates (an 8-struct explode and a projection) — the caller
    keeps the intermediates persisted until its last consumer ran,
    then unpersists them."""
    from data_ingestors_spark.operators.dedup import (
        _materialize,
        _minhash_sig_expr,
        shingle_docs,
    )

    # Both frames need a persist() CACHE BOUNDARY in the plan (the
    # InMemoryRelation is what stops CollapseProject re-inlining the
    # shingle regex into every seed's array_min, and the 32-way
    # signature expression into the 8 bucket hashes — the per-seed
    # lambdas mis-collapse and every band hashes the same components;
    # observed: one bucket repeated across all bands). Only the TOP
    # frame needs the eager count: materializing sigs computes the
    # shingles once and populates both caches in the same job —
    # r12-opt, one pass over the batch instead of two and one fewer
    # job per fold (guide §1.2: don't compute things twice).
    shingled = shingle_docs(batch, text_col, id_col, shingle_n).persist()
    sigs = _materialize(
        shingled.select("doc_id", _minhash_sig_expr(num_hashes).alias("signature"))
    )
    band_rows = minhash_bands(sigs, num_hashes, bands)
    return band_rows, shingled.select("doc_id", "shingles"), [shingled, sigs]


def neardup_fold_batch(
    spark,
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> None:
    """Fold one batch into the near-dup index and emit its pairs.
    Idempotent by batch id (dynamic overwrite of own partitions)."""
    from data_ingestors_spark.io.fs import path_exists

    bands_dir = f"{index_path}/bands"
    sh_dir = f"{index_path}/shingles"
    new_bands, new_sh, intermediates = _batch_index_frames(
        batch, text_col, id_col, num_hashes, bands, shingle_n
    )
    # r12-opt (guide §5 caching): new_sh IS a projection of the
    # persisted shingle frame and new_bands a cheap 8-struct explode
    # of the persisted signature frame — re-persisting both doubled
    # the cached bytes and cost two extra count jobs per batch. Keep
    # the helper's caches live for the whole fold instead; every
    # branch (candidate join, verify, index writes) reads them.

    have_index = path_exists(spark, bands_dir)
    all_bands = new_bands
    all_sh = new_sh
    if have_index:
        # a replayed batch's own earlier partitions may be present;
        # exclude them so its pairs come out identical, not doubled
        old_bands = read_prior(spark, bands_dir, batch_id).select("doc_id", "band", "bucket")
        old_sh = read_prior(spark, sh_dir, batch_id).select("doc_id", "shingles")
        all_bands = new_bands.unionByName(old_bands)
        all_sh = new_sh.unionByName(old_sh)

    cand = candidate_pairs(all_bands, ["band", "bucket"], "doc_id", probe=new_bands)
    verified = jaccard_verify(pair_payload(cand, all_sh, "doc_id", "shingles"), threshold)

    # The three writes land on DISTINCT paths and each reads only the
    # persisted shingle/signature caches (plus prior-batch parquet), so
    # they are independent jobs — run them concurrently (r12-opt,
    # guide §2.6) instead of paying three serial job latencies.
    try:
        write_all(
            partial(write_batch, verified, pairs_path, batch_id),
            partial(write_batch, new_bands, bands_dir, batch_id),
            partial(write_batch, new_sh, sh_dir, batch_id),
        )
    finally:
        # free the shingle/signature caches so long streams don't
        # accumulate storage memory
        for frame in intermediates:
            frame.unpersist()


def stream_neardup(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
    available_now: bool = False,
):
    """Streaming near-dup query over a document stream. Read the
    cumulative verified pairs with
    ``spark.read.parquet(pairs_path).drop("__batch")``."""
    return start_folds(
        docs,
        checkpoint,
        partial(
            neardup_fold_batch,
            index_path=index_path,
            pairs_path=pairs_path,
            text_col=text_col,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_n=shingle_n,
            threshold=threshold,
        ),
        available_now,
    )


def compact_neardup_index(spark, index_path: str) -> None:
    """Fold the MinHash monitor's per-batch band/shingle partitions
    into one __batch=-1 layer each (see ``batches.compact_batches``).
    Index rows are immutable facts, so folding is pure row movement
    and emitted pairs are unaffected."""
    for sub in ("bands", "shingles"):
        compact_batches(spark, f"{index_path}/{sub}")


def compact_embedding_neardup_index(spark, index_path: str) -> None:
    """Fold the embedding monitor's per-batch sketch/vector
    partitions into one __batch=-1 layer each (see
    ``compact_neardup_index``)."""
    for sub in ("sketches", "vectors"):
        compact_batches(spark, f"{index_path}/{sub}")


# ------------------------------------------------- incremental dedup monitor


def incremental_dedup_fold_batch(
    spark,
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    reports_path: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int | None = None,
) -> None:
    """Fold one document batch into the streaming fingerprint index
    and emit its per-source novelty report — the continuous form of
    operators/dedup.py incremental_dedup_report (the two share the
    report computation, _novelty_report, so they cannot drift).

    Exactly-once under checkpoint replay: the report and the batch's
    fingerprint rows are batch-keyed stores and the corpus probe reads
    only prior batches (streaming/batches.py), unlike the batch-API
    build_fingerprint_index, whose merge fold is at-least-once.

    Scale: the index holds (fp_md5) per (__batch, __bucket) partition
    — ids only, never text. The probe reads ONLY the batch's touched
    bucket directories across prior batches (two-level partition
    pruning); per-batch cost is O(|batch| fingerprints + touched
    buckets), the stream never rescans the corpus."""
    from data_ingestors_spark.io.fs import path_exists
    from data_ingestors_spark.io.writers import (
        BUCKET_COL,
        DEFAULT_N_BUCKETS,
        _cluster_by_bucket,
    )
    from data_ingestors_spark.operators.dedup import _novelty_report, normalize_text

    n_buckets = n_buckets or DEFAULT_N_BUCKETS
    fps_dir = f"{index_path}/fps"
    b = (
        batch.select(
            F.col(id_col).alias("doc_id"),
            F.col(source_col).alias("source"),
            F.length(text_col).alias("nc"),
            F.md5(normalize_text(F.col(text_col))).alias("fp_md5"),
        )
        .withColumn(
            BUCKET_COL,
            F.pmod(F.xxhash64(F.col("fp_md5")), F.lit(n_buckets)).cast("int"),
        )
        .persist()
    )
    try:
        touched = [r[0] for r in b.select(BUCKET_COL).distinct().collect()]
        if path_exists(spark, fps_dir) and touched:
            idx = (
                read_prior(spark, fps_dir, batch_id)
                .filter(F.col(BUCKET_COL).isin(touched))
                .select("fp_md5")
                .distinct()
                .select("fp_md5", F.lit(1).alias("in_corpus"))
            )
        else:
            idx = spark.createDataFrame([], "fp_md5 string, in_corpus int")
        report = _novelty_report(b.drop(BUCKET_COL).join(idx, "fp_md5", "left"))
        # cluster on the bucket column before the two-level
        # partitionBy write (io/writers._cluster_by_bucket): one file
        # per touched bucket per batch layer in at most one task per
        # core — unclustered, every task writes one file into every
        # bucket directory it holds rows for (tasks × buckets files
        # per batch; measured 130 files / 1.8 s at sf0.1 vs 0.7 s
        # clustered), and at corpus scale the file count per batch
        # layer is what keeps the touched-bucket probe's listing cheap.
        new_fps = _cluster_by_bucket(b.select("fp_md5", BUCKET_COL).distinct(), n_buckets)
        # the two writes land on distinct paths and both read only the
        # persisted batch frame (+ prior-batch fps, whose file listing
        # was captured above) — run them concurrently (r12-opt, guide
        # §2.6)
        write_all(
            partial(write_batch, report, reports_path, batch_id),
            partial(
                write_batch, new_fps, fps_dir, batch_id,
                partition_by=(BATCH_PART_COL, BUCKET_COL),
            ),
        )
    finally:
        b.unpersist()


def stream_incremental_dedup(
    docs: DataFrame,
    index_path: str,
    reports_path: str,
    checkpoint: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int | None = None,
    available_now: bool = False,
):
    """Continuous incremental-dedup monitor over a document stream:
    per micro-batch, the per-source novelty report vs everything seen
    in PRIOR batches. Read results with :func:`read_incremental_dedup`."""
    return start_folds(
        docs,
        checkpoint,
        partial(
            incremental_dedup_fold_batch,
            index_path=index_path,
            reports_path=reports_path,
            text_col=text_col,
            id_col=id_col,
            source_col=source_col,
            n_buckets=n_buckets,
        ),
        available_now,
    )


def read_incremental_dedup(spark, reports_path: str) -> DataFrame:
    """The accumulated per-batch novelty reports, one row per
    (__batch, source) — same columns as the batch report plus the
    batch id."""
    return spark.read.parquet(reports_path).orderBy(BATCH_PART_COL, "source")


# ------------------------------------------ streaming embedding near-dup


def embedding_neardup_fold_batch(
    spark,
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    recall_eps: float = 1e-4,
) -> None:
    """Fold one EMBEDDING micro-batch into a hyperplane-LSH sketch
    index and emit exact-cosine-verified near-dup pairs against
    everything seen so far — the embedding twin of
    ``neardup_fold_batch`` (text MinHash) and ``stream_fuzzy_match``
    (string FastSS): the third modality of incremental dedup.

    Same exactly-once construction: sketches, vectors, and pairs are
    all batch-keyed stores (streaming/batches.py), and a replayed
    batch's rewrite is identical because the hyperplanes are seeded
    literals — sketches are deterministic across runs and processes.

    The analytic gate is honest about geometry exactly like the batch
    operator: thresholds where recall-safe hyperplane LSH cannot
    prune (t below ~0.5) raise — an incremental index CANNOT help
    there, run the batch chunked-grid scan over the union instead.

    Coverage: a pair is checked when its LATER element arrives (or
    both in one batch, found from both sides and kept once) against the SAME
    (tbl, bucket) collision predicate and the same exact verify as
    ``operators/similarity._lsh_cosine_pairs`` — so after any prefix
    of batches the emitted set equals the batch operator over the
    union (asserted in tests)."""
    from data_ingestors_spark.io.fs import path_exists
    from data_ingestors_spark.operators.similarity import (
        _lsh_pair_params,
        _pair_cosine_udf,
        _sketch_buckets_udf,
    )

    params = _lsh_pair_params(threshold, recall_eps=recall_eps)
    if params is None:
        raise ValueError(
            f"hyperplane LSH cannot prune at threshold {threshold} — "
            "no recall-safe sketch separates qualifying from random "
            "pairs; run the batch chunked-grid scan "
            "(operators/similarity.blocked_cosine_pairs) over the "
            "full corpus instead"
        )
    probe = batch.select(vec_col).head()
    if probe is None:
        return
    dim = len(probe[0])
    k_planes, n_tables, _f = params
    sketch = _sketch_buckets_udf(k_planes, n_tables, dim)

    base = batch.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("vec")
    )
    new_sk = base.select(
        "vec_id", F.posexplode(sketch(F.col("vec"))).alias("tbl", "bucket")
    ).persist()
    new_vec = base.persist()
    # r13-opt (guide §1.2, same as the r12 text-fold change): ONE eager
    # count materializes BOTH caches — computing new_sk scans base,
    # which the cache manager substitutes with new_vec's registered
    # InMemoryRelation and populates on the way through. The second
    # count job was pure overhead.
    new_sk.count()

    sk_dir = f"{index_path}/sketches"
    vec_dir = f"{index_path}/vectors"
    all_sk, all_vec = new_sk, new_vec
    if path_exists(spark, sk_dir):
        old_sk = read_prior(spark, sk_dir, batch_id).select("vec_id", "tbl", "bucket")
        old_vec = read_prior(spark, vec_dir, batch_id).select("vec_id", "vec")
        all_sk = new_sk.unionByName(old_sk)
        all_vec = new_vec.unionByName(old_vec)

    cand = candidate_pairs(all_sk, ["tbl", "bucket"], "vec_id", probe=new_sk)
    sim = _pair_cosine_udf()(F.col("vec_a"), F.col("vec_b"))
    verified = (
        pair_payload(cand, all_vec, "vec_id", "vec")
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )

    # r13-opt (guide §2.6, VERDICT r12 #6): the three writes land on
    # DISTINCT paths (pairs / sketches / vectors) and all read only the
    # persisted new_sk/new_vec caches plus prior-batch parquet — the
    # exact shape the text fold already runs concurrently.
    try:
        write_all(
            partial(write_batch, verified, pairs_path, batch_id),
            partial(write_batch, new_sk, sk_dir, batch_id),
            partial(write_batch, new_vec, vec_dir, batch_id),
        )
    finally:
        new_sk.unpersist()
        new_vec.unpersist()


def stream_embedding_neardup(
    vecs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    recall_eps: float = 1e-4,
    available_now: bool = False,
):
    """Streaming embedding near-dup query over a vector stream. Read
    the cumulative verified pairs with
    ``spark.read.parquet(pairs_path).drop("__batch")``."""
    return start_folds(
        vecs,
        checkpoint,
        partial(
            embedding_neardup_fold_batch,
            index_path=index_path,
            pairs_path=pairs_path,
            id_col=id_col,
            vec_col=vec_col,
            threshold=threshold,
            recall_eps=recall_eps,
        ),
        available_now,
    )
