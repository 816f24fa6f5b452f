"""Unit tests for custom operators: as-of join, dedup family,
similarity search (incl. ANN recall vs exact), streaming."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_ingestors_spark.operators import (
    asof_join,
    exact_dedup,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash,
)
from data_ingestors_spark.operators.dedup import simhash_near_duplicates
from data_ingestors_spark.operators.similarity import cosine_topk_bruteforce, lsh_ann_topk


def ts(s):
    return dt.datetime.fromisoformat(s)


def test_asof_join_backward_inclusive(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00"), "e1"),
         (1, ts("2024-01-01 12:00"), "e2"),
         (2, ts("2024-01-01 09:00"), "e3")],
        ["k", "t", "ev"],
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00"), 100.0),
         (1, ts("2024-01-01 11:00"), 200.0),
         (2, ts("2024-01-01 09:30"), 300.0)],
        ["k", "rt", "px"],
    )
    out = asof_join(
        left, right, left_on="k", right_on="k", left_time="t", right_time="rt", payload=["px"]
    )
    got = {r.ev: r.px for r in out.collect()}
    assert got == {"e1": 100.0, "e2": 200.0, "e3": None}  # inclusive; no-match → NULL


def test_asof_join_payload_is_atomic(spark):
    # When the matched right row has a NULL payload field, the output
    # must carry THAT row's (NULL, value) pair — not stitch the field
    # from an older right row (DuckDB/pandas ASOF semantics).
    left = spark.createDataFrame([(1, ts("2024-01-01 12:00"), "e1")], ["k", "t", "ev"])
    right = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00"), 100.0, "full"),
         (1, ts("2024-01-01 11:00"), None, "partial")],
        ["k", "rt", "px", "tag"],
    )
    out = asof_join(
        left, right, left_on="k", right_on="k", left_time="t", right_time="rt",
        payload=["px", "tag"],
    ).collect()
    assert len(out) == 1
    assert out[0].tag == "partial" and out[0].px is None


def test_asof_join_forward_and_nearest(spark):
    left = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00"), "e1"),   # exact hit both directions
         (1, ts("2024-01-01 10:20"), "e2"),   # back 20min vs fwd 40min -> backward
         (1, ts("2024-01-01 10:40"), "e3"),   # back 40min vs fwd 20min -> forward
         (1, ts("2024-01-01 10:30"), "e4"),   # exact tie -> backward (pandas rule)
         (1, ts("2024-01-01 12:00"), "e5"),   # nothing after -> nearest falls back
         (2, ts("2024-01-01 09:00"), "e6")],  # nothing before -> nearest falls fwd
        ["k", "t", "ev"],
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00"), 100.0),
         (1, ts("2024-01-01 11:00"), 200.0),
         (2, ts("2024-01-01 09:30"), 300.0)],
        ["k", "rt", "px"],
    )
    fwd = {
        r.ev: r.px
        for r in asof_join(
            left, right, left_on="k", right_on="k", left_time="t", right_time="rt",
            payload=["px"], direction="forward",
        ).collect()
    }
    assert fwd == {"e1": 100.0, "e2": 200.0, "e3": 200.0, "e4": 200.0,
                   "e5": None, "e6": 300.0}
    near = {
        r.ev: r.px
        for r in asof_join(
            left, right, left_on="k", right_on="k", left_time="t", right_time="rt",
            payload=["px"], direction="nearest",
        ).collect()
    }
    assert near == {"e1": 100.0, "e2": 100.0, "e3": 200.0, "e4": 100.0,
                    "e5": 200.0, "e6": 300.0}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, left_on="k", right_on="k", left_time="t",
                  right_time="rt", payload=["px"], direction="sideways")


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], ["doc_id", "text"]
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def _docs(spark):
    base = " ".join(
        f"w{i} the quick brown fox jumps over the lazy dog token{i}" for i in range(8)
    )
    rows = [
        (1, base),
        (2, base + " extra"),            # near-dup of 1
        (3, "completely different words about spark query engines and shuffles"),
        (4, base.replace("w3", "q3")),   # near-dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_neardups(spark):
    pairs = minhash_near_duplicates(
        _docs(spark), "text", "doc_id", num_hashes=32, bands=16, shingle_n=2, threshold=0.3
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_simhash_stable_and_neardup(spark):
    df = _docs(spark)
    h1 = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id").collect()}
    h2 = {r.doc_id: r.simhash for r in simhash(df, "text", "doc_id").collect()}
    assert h1 == h2  # deterministic
    pairs = simhash_near_duplicates(df, "text", "doc_id", max_hamming=10)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got


@pytest.mark.parametrize("max_hamming", [3, 6, 10])
def test_simhash_near_duplicates_matches_brute_force_hamming(spark, max_hamming):
    """Every pair within ``max_hamming`` bits of ``simhash()``'s own
    values comes out, each with its distance, and nothing else: the
    banding stays lossless past 3 differing bits (4 fixed 16-bit bands
    only guarantee a shared band up to 3)."""
    import random

    rng = random.Random(7)
    base = [f"w{rng.randrange(60)}" for _ in range(30)]
    rows = []
    for i in range(40):
        words = list(base)
        for _ in range(rng.randrange(1, 5)):
            words[rng.randrange(30)] = f"x{rng.randrange(1000)}"
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = sorted((r.doc_id, r.simhash) for r in simhash(df, "text", "doc_id").collect())
    want = {
        (a, b): bin((ha ^ hb) & (2**64 - 1)).count("1")
        for i, (a, ha) in enumerate(sims)
        for b, hb in sims[i + 1:]
    }
    want = {p: d for p, d in want.items() if d <= max_hamming}
    pairs = simhash_near_duplicates(df, "text", "doc_id", max_hamming=max_hamming)
    assert {(r.id_a, r.id_b): r.hamming for r in pairs.collect()} == want
    with pytest.raises(ValueError):
        simhash_near_duplicates(df, "text", "doc_id", max_hamming=64)


def test_candidate_pairs_self_join_and_probe_forms(spark):
    """Each true pair comes out exactly once as id_a < id_b, however
    many keys it shares and from whichever side the probe finds it;
    a null id or a null key never pairs."""
    from data_ingestors_spark.operators.pairs import candidate_pairs

    rows = spark.createDataFrame(
        [
            (1, "x"), (2, "x"), (3, "x"), (None, "x"),  # null id
            (1, "z"), (2, "z"),                          # (1, 2) shares two keys
            (4, None), (5, None),                        # null keys
            (6, "y"), (7, "y"),
        ],
        "id long, k string",
    )

    def got(df):
        out = [(r.id_a, r.id_b) for r in df.collect()]
        assert len(out) == len(set(out)), out
        return sorted(out)

    assert got(candidate_pairs(rows, ["k"], "id")) == [(1, 2), (1, 3), (2, 3), (6, 7)]
    assert got(candidate_pairs(rows, ["k"], "id", where=F.col("a.k") != "y")) == [
        (1, 2), (1, 3), (2, 3),
    ]
    probe = rows.filter("id IN (2, 5, 7) OR id IS NULL")
    assert got(candidate_pairs(rows, ["k"], "id", probe=probe)) == [(1, 2), (2, 3), (6, 7)]
    both_sides = rows.filter("id IN (1, 2)")  # (1, 2) is found from 1 and from 2
    assert got(candidate_pairs(rows, ["k"], "id", probe=both_sides)) == [(1, 2), (1, 3), (2, 3)]


def test_ngram_jaccard_blocked(spark):
    df = spark.createDataFrame(
        [(1, "a b c d", "x"), (2, "a b c e", "x"), (3, "a b c d", "y")],
        ["doc_id", "text", "src"],
    )
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", "src", threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got  # (1,3) blocked apart


def test_ann_recall_vs_bruteforce(spark, sf_dir):
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, q, k=5)
    approx = lsh_ann_topk(emb, q, k=5, n_tables=8, n_planes=6, dim=64)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.4, f"ANN recall too low: {recall}"


def test_streaming_windowed_counts(spark, sf_dir, tmp_path):
    """Streaming result == batch result for the same window agg."""
    from data_ingestors_spark.queries.events import q_tumbling_window
    from data_ingestors_spark.streaming import stream_events, windowed_counts_stream, run_stream_to_memory

    # stage events as a streaming-source dir (complete mode: no watermark wait)
    from data_ingestors_spark.queries.base import tables

    ev = tables(spark, sf_dir, "events")["events"]
    src = str(tmp_path / "events_stream")
    ev.write.parquet(src)

    agg = windowed_counts_stream(stream_events(spark, src), window="1 hour", watermark="0 seconds")
    got = run_stream_to_memory(agg, "win_counts", output_mode="complete")
    batch = q_tumbling_window(spark, sf_dir)
    s = {(r.w_start.isoformat(), r.event_type, r.n_events) for r in got.collect()}
    b = {
        (dt.datetime.fromtimestamp(r.w_start, dt.timezone.utc).replace(tzinfo=None).isoformat(), r.event_type, r.n_events)
        for r in batch.collect()
    }
    assert s == b


def test_streaming_dedup(spark, sf_dir, tmp_path):
    from data_ingestors_spark.queries.base import tables
    from data_ingestors_spark.streaming import stream_events, dedup_stream, run_stream_to_memory

    ev = tables(spark, sf_dir, "events")["events"]
    src = str(tmp_path / "events_dedup")
    ev.write.parquet(src)
    out = run_stream_to_memory(
        dedup_stream(stream_events(spark, src)), "dedup_out", output_mode="append"
    )
    n_pairs = ev.select("user_id", "event_type").distinct().count()
    assert out.count() == n_pairs


def test_stateful_sessions_matches_batch_gaps_and_islands(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer == batch gaps-and-islands.

    Non-final sessions (closed by a later event for the same user) must
    all emit; each user's trailing session emits only if the event-time
    watermark passed its timeout (last + gap), which with a 0-second
    watermark delay means last + gap < global max ts."""
    from data_ingestors_spark.queries.base import tables
    from data_ingestors_spark.streaming import (
        stream_events,
        stateful_sessions,
        run_stream_to_memory,
    )
    from pyspark.sql import Window

    ev = tables(spark, sf_dir, "events")["events"]
    src = str(tmp_path / "events_sessions")
    ev.write.parquet(src)

    out = run_stream_to_memory(
        stateful_sessions(stream_events(spark, src), gap="30 minutes"),
        "sessions_out",
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 6))
        for r in out.collect()
    }

    # batch oracle: gaps-and-islands sessions with the same >= gap rule
    gap_s = 30 * 60
    w = Window.partitionBy("user_id").orderBy("ts")
    sess = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("ts").cast("long") - F.col("prev").cast("long") >= gap_s),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
    )
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    rows = sess.collect()
    last_per_user = {}
    for r in rows:
        cur = last_per_user.get(r.user_id)
        if cur is None or r.session_end > cur.session_end:
            last_per_user[r.user_id] = r

    def key(r):
        return (r.user_id, r.session_start, r.session_end, r.n_events, round(r.sum_value, 6))

    import datetime as _dt

    expected = set()
    for r in rows:
        is_final = last_per_user[r.user_id] is r
        closes = r.session_end + _dt.timedelta(seconds=gap_s) < max_ts
        if not is_final or closes:
            expected.add(key(r))
    assert got == expected, (
        f"stateful sessions diverge: {len(got)} emitted vs {len(expected)} expected; "
        f"missing={list(expected - got)[:3]} extra={list(got - expected)[:3]}"
    )


def test_stateful_sessions_multi_chunk_group(spark, tmp_path):
    """Regression: a group spanning >1 Arrow chunk must not inflate rows.

    The handler concatenates per-chunk pandas frames; with default
    (non-ignored) indexes, label-based reordering selects every row
    sharing a duplicate label — a 4-event group yielded 8 rows. Force
    2-record Arrow batches so a single user's events arrive as many
    chunks, and check n_events/sum_value exactly."""
    import datetime as dt

    from data_ingestors_spark.streaming import (
        stream_events,
        stateful_sessions,
        run_stream_to_memory,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # one user, 7 events 1 minute apart (single session), then a
        # far-future closer event so the session emits without timeout
        *[(1, base + dt.timedelta(minutes=i), "click", float(i)) for i in range(7)],
        (1, base + dt.timedelta(hours=12), "click", 0.0),
        (2, base + dt.timedelta(hours=13), "click", 0.0),
    ]
    src = str(tmp_path / "events_chunks")
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string, value double")
    ev.write.parquet(src)

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        out = run_stream_to_memory(
            stateful_sessions(stream_events(spark, src), gap="30 minutes"),
            "sessions_chunks",
        )
        got = [
            (r.user_id, r.n_events, r.sum_value)
            for r in out.collect()
            if r.user_id == 1 and r.n_events > 1
        ]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == [(1, 7, float(sum(range(7))))], got


def test_cosine_numpy_matches_bruteforce_exactly(spark, sf_dir):
    """The GEMM fast path must be bit-identical to the HOF baseline
    after portable 6-dp rounding — same rows, same scores, same ranks."""
    from data_ingestors_spark.operators import cosine_topk_bruteforce, cosine_topk_numpy
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    exact = {tuple(r) for r in cosine_topk_bruteforce(emb, q, k=5).collect()}
    fast = {tuple(r) for r in cosine_topk_numpy(emb, q, k=5).collect()}
    assert fast == exact


def test_cosine_numpy_query_bound_fails_loud(spark, sf_dir):
    """The driver-collect contract is enforced, not prose: a query set
    above max_collected_queries raises before anything is collected."""
    import pytest as _pytest

    from data_ingestors_spark.operators import cosine_topk_numpy
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    with _pytest.raises(ValueError, match="max_collected_queries"):
        cosine_topk_numpy(emb, emb, k=3, max_collected_queries=5).count()
    # at/under the bound the fast path still runs
    q = emb.filter(F.col("vec_id") < 3)
    assert cosine_topk_numpy(emb, q, k=3, max_collected_queries=3).count() > 0


def test_binary_audit_stratum_bound_fails_loud(spark, sf_dir, monkeypatch):
    """binary_embedding_audit's broadcast stratum is counted first and
    fails loudly above MAX_BROADCAST_STRATUM (patched low to prove it)."""
    import pytest as _pytest

    from data_ingestors_spark.queries import text_audits

    monkeypatch.setattr(text_audits, "MAX_BROADCAST_STRATUM", 1)
    with _pytest.raises(ValueError, match="broadcast stratum"):
        text_audits.q_binary_embedding_audit(spark, sf_dir).count()


def test_ivf_ann_recall(spark, sf_dir):
    from data_ingestors_spark.operators import cosine_topk_bruteforce, ivf_ann_topk
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, q, k=5)
    approx = ivf_ann_topk(emb, q, k=5, n_cells=16, n_probe=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # r6 adaptive probe depth: the flat-similarity corpus widens to
    # 2*n_probe cells, measured 0.8 here (was 0.6 fixed-depth)
    assert recall >= 0.7, f"IVF recall too low: {recall}"


def test_adaptive_probe_counts_shape():
    """The mass rule's two regimes: a dominant own-cluster centroid
    collapses the probe depth to the n_probe floor; flat similarities
    (the random-corpus worst case) widen it to the cap. Monotone in
    probe_mass; always within [n_probe, n_probe_max]."""
    import numpy as np

    from data_ingestors_spark.operators.similarity import _adaptive_probe_counts

    # row 0: one cell at sim 0.9, rest at 0.0 -> concentrated
    # row 1: all cells equal -> perfectly flat
    sims = np.vstack([
        np.array([0.9] + [0.0] * 15),
        np.full(16, 0.2),
    ])
    order = np.argsort(-sims, axis=1)
    c = _adaptive_probe_counts(
        sims, order, n_probe=4, n_probe_max=8, probe_mass=0.75, probe_tau=0.2
    )
    assert c[0] == 4, c      # floor: top cell alone holds >= 0.75 mass
    assert c[1] == 8, c      # cap: uniform mass needs 12 cells, clamped
    for lo, hi in ((1, 16), (2, 10)):
        cc = _adaptive_probe_counts(
            sims, order, n_probe=lo, n_probe_max=hi, probe_mass=0.75, probe_tau=0.2
        )
        assert (cc >= lo).all() and (cc <= hi).all()


def test_ivf_ann_recall_on_label_sorted_corpus(spark, sf_dir):
    """Adversarial ordering: corpus sorted by label, quantizer sample
    bounded well below the corpus size. A limit()-based sample would
    train on the first labels only and recall collapses for the rest;
    the deterministic hash sample must hold the threshold (VERDICT r2,
    what's-wrong #1)."""
    from data_ingestors_spark.operators import cosine_topk_bruteforce, ivf_ann_topk
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    sorted_corpus = emb.orderBy("label", "vec_id").coalesce(1)
    q = emb.filter(F.col("vec_id") % 100 == 7)  # queries across all labels
    exact = cosine_topk_bruteforce(emb, q, k=5)
    approx = ivf_ann_topk(sorted_corpus, q, k=5, n_cells=16, n_probe=4, sample_rows=64)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.7, f"IVF recall collapsed on sorted corpus: {recall}"


def test_winnowing_shared_passage_shares_fingerprint(spark):
    """The winnowing guarantee: two docs sharing a passage of >=
    window+k-1 words must share at least one fingerprint; disjoint
    docs share none."""
    from data_ingestors_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, "intro words here " + shared + " trailing words"),
         (2, shared + " completely different ending tokens"),
         (3, "nothing in common with either of the others at all ok")],
        ["doc_id", "text"],
    )
    fps = winnowing_fingerprints(docs, "text", "doc_id", k=5, window=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 10-word passage must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])
    # sampling: fingerprints are a strict subset of all gram hashes
    n_words = len(("intro words here " + shared + " trailing words").split())
    assert len(by_doc[1]) < n_words - 4


def test_chunk_documents_overlap_and_tail(spark):
    from data_ingestors_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(11))),  # 11 words -> real tail
         (2, "a b")],                                 # shorter than chunk
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, "text", "doc_id", chunk_size=4, overlap=1).collect()
    got = {(r.doc_id, r.chunk_id): (r.n_words, r.chunk_text) for r in out}
    # doc 1: stride 3 -> starts 0,3,6,9; last chunk is the 2-word tail
    assert got[(1, 0)] == (4, "w0 w1 w2 w3")
    assert got[(1, 1)] == (4, "w3 w4 w5 w6")
    assert got[(1, 2)] == (4, "w6 w7 w8 w9")
    assert got[(1, 3)] == (2, "w9 w10")
    assert got[(2, 0)] == (2, "a b")
    assert len(got) == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, "text", "doc_id", chunk_size=4, overlap=4)


def test_ngram_jaccard_strategies_agree(spark, sf_dir):
    """The bitmask fast path must produce EXACTLY the inverted-index
    result (pairs and rounded jaccard values) — it is a physical
    strategy choice, not a different operator."""
    from data_ingestors_spark.operators.dedup import ngram_jaccard_pairs
    from data_ingestors_spark.queries.base import tables

    docs = tables(spark, sf_dir, "documents")["documents"]
    idx = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", "source", 0.5, strategy="index"
        ).collect()
    }
    bm = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", "source", 0.5, strategy="bitmask"
        ).collect()
    }
    assert idx == bm and idx


def test_ngram_jaccard_index_prefix_pruning_lossless(spark):
    """r12: the prefix-filtered + positionally-filtered index path
    must equal the unpruned bitmask path on a ZIPFIAN corpus — the
    shape where the pruning actually fires (head stopwords in every
    doc stay out of the index; the sf0.001 corpus's 31-word vocab
    barely exercises it). Docs share a heavy stopword head; planted
    near-dup pairs must all survive the pruning."""
    import numpy as np

    from data_ingestors_spark.operators.dedup import ngram_jaccard_pairs

    rng = np.random.RandomState(1212)
    head = [f"s{i}" for i in range(8)]            # stopwords, in ~every doc
    tail = [f"t{i}" for i in range(400)]          # rare content words
    rows = []
    for i in range(120):
        toks = list(rng.choice(head, size=6)) + [
            tail[j] for j in rng.choice(400, size=10, replace=False)
        ]
        rng.shuffle(toks)
        rows.append((i, " ".join(toks), f"b{i % 3}"))
        if i % 7 == 0:  # planted near-dup: drop one token, add one
            toks2 = toks[1:] + [tail[int(rng.randint(400))]]
            rows.append((1000 + i, " ".join(toks2), f"b{i % 3}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, src string")
    idx = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", "src", 0.5, strategy="index"
        ).collect()
    }
    bm = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", "src", 0.5, strategy="bitmask"
        ).collect()
    }
    assert idx == bm
    assert any(b >= 1000 for _, b in idx), "planted near-dups missing"


def test_cell_gemm_scorer_guards_and_rounding():
    """Unit contract of the cogrouped GEMM pair scorer (no Spark):
    the diagonal id guard fires only at ci==cj (and, with the
    cell-pruned 'same' flag, only on same-cell pairs), empty sides
    yield a typed empty frame, and similarities are the 6-dp portable
    floor-rounding of dot/(|x||y|)."""
    import numpy as np
    import pandas as pd

    from data_ingestors_spark.operators.similarity import (
        _cell_gemm_scorer,
        _pround,
    )

    vecs = [np.array(v, dtype=np.float64) for v in
            ([1.0, 0.0], [0.9, 0.1], [0.0, 1.0])]
    l = pd.DataFrame({"id_l": [1, 2, 3], "v_l": vecs})
    r = pd.DataFrame({"id_r": [1, 2, 3], "v_r": vecs})

    # off-diagonal cell: every cross pair once, least/greatest ids
    out = _cell_gemm_scorer(-1.0)(("b", 0, 1), l, r)
    assert len(out) == 9 and (out.id_a <= out.id_b).all()

    # diagonal cell: strict id_l < id_r halves the square
    out_d = _cell_gemm_scorer(-1.0)(("b", 1, 1), l, r)
    assert sorted(zip(out_d.id_a, out_d.id_b)) == [(1, 2), (1, 3), (2, 3)]

    # cell-pruned variant: cross-CELL pairs at equal chunk ids keep
    # every pair (same=False); same-cell keeps the guard
    l2 = l.assign(same=False)
    assert len(_cell_gemm_scorer(-1.0, id_guard_col="same")(("b", 9, 1, 1), l2, r)) == 9
    l3 = l.assign(same=True)
    assert len(_cell_gemm_scorer(-1.0, id_guard_col="same")(("b", 9, 1, 1), l3, r)) == 3

    # threshold + rounding contract
    out_t = _cell_gemm_scorer(0.9)(("b", 0, 1), l, r)
    want = float(_pround(np.array([vecs[0] @ vecs[1] / np.linalg.norm(vecs[1])]), 6)[0])
    got = dict(zip(zip(out_t.id_a, out_t.id_b), out_t.cos_sim))
    assert got[(1, 2)] == want
    assert all(v >= 0.9 for v in out_t.cos_sim)

    # empty side: typed empty frame
    empty = _cell_gemm_scorer(0.5)(("b", 0, 0), l.iloc[:0], r)
    assert list(empty.columns) == ["id_a", "id_b", "cos_sim"] and empty.empty


def test_ngram_jaccard_forced_bitmask_vocab_cap(spark):
    """strategy='bitmask' on an open-vocabulary corpus must fail loud
    (the auto path gates at 1024 words / 16 mask longs; the forced
    path honors the same cap instead of generating hundreds of scalar
    mask columns through the self-join)."""
    import pytest

    from data_ingestors_spark.operators.dedup import ngram_jaccard_pairs

    # >1024 distinct words in one block -> nw > 16
    rows = [
        (i, "b", " ".join(f"w{j}" for j in range(i * 600, i * 600 + 600)))
        for i in range(2)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    with pytest.raises(ValueError, match="strategy='index'"):
        ngram_jaccard_pairs(
            df, "text", "doc_id", "source", 0.5, strategy="bitmask"
        ).collect()


def test_embedding_dim_corr_empty_table_raises_clearly(spark, tmp_path):
    """An empty embeddings table must raise a clear ValueError from the
    1-row dimensionality probe, not a TypeError on None."""
    import pytest

    from data_ingestors_spark.queries import all_queries

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    sf = str(tmp_path / "sf_empty")
    empty.write.parquet(f"{sf}/embeddings.parquet")
    with pytest.raises(ValueError, match="empty"):
        all_queries()["embedding_dim_corr"](spark, sf)


def test_flat_vectors_rejects_null_and_ragged():
    """_flat_vectors (embedding_dim_corr's Arrow batch decoder) must
    fail LOUDLY on null/ragged vectors: pyarrow's flatten() silently
    drops null list slots, which would misalign every subsequent row
    (wrong results at scale, not a crash — VERDICT r12 #8)."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from data_ingestors_spark.queries.text_corpus import _flat_vectors

    t = pa.list_(pa.float64())
    ok = pa.RecordBatch.from_arrays(
        [pa.array([[1.0, 2.0], [3.0, 4.0]], type=t)], ["v"]
    )
    V = _flat_vectors(ok, 2)
    assert V.shape == (2, 2) and V[1, 1] == 4.0 and V.dtype == np.float64

    with_null = pa.RecordBatch.from_arrays(
        [pa.array([[1.0, 2.0], None, [5.0, 6.0]], type=t)], ["v"]
    )
    with pytest.raises(ValueError, match="null or ragged"):
        _flat_vectors(with_null, 2)

    ragged = pa.RecordBatch.from_arrays(
        [pa.array([[1.0, 2.0], [3.0]], type=t)], ["v"]
    )
    with pytest.raises(ValueError, match="null or ragged"):
        _flat_vectors(ragged, 2)


def test_ivf_corpus_size_skips_sizing_job(spark, sf_dir):
    """With corpus_size passed, ivf_ann_topk must not run the sizing
    count() — callers with filtered/joined lineage can supply a cached
    or approximate size (ADVICE r3). Also: mid-band corpus sizes
    (sample_rows <= n < 2*sample_rows) must use ceiling division so
    the hash stripe stays selective instead of passing every row."""
    from unittest.mock import patch

    from pyspark.sql import DataFrame

    from data_ingestors_spark.operators import ivf_ann_topk
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    n = emb.count()
    q = emb.filter(F.col("vec_id") < 3)
    orig_count = DataFrame.count
    calls = []

    def spy(self):
        calls.append(1)
        return orig_count(self)

    with patch.object(DataFrame, "count", spy):
        res = ivf_ann_topk(emb, q, k=3, n_cells=8, n_probe=3, corpus_size=n)
        rows = res.collect()
    assert calls == [], "sizing count() ran despite corpus_size"
    assert rows

    # ceiling modulus: n in [sample_rows, 2*sample_rows) -> m == 2
    assert max(1, -(-150 // 100)) == 2


def test_zorder_write_rejects_zero_bit_budget(spark, tmp_path):
    from data_ingestors_spark.operators.layout import zorder_write

    df = spark.range(10).selectExpr(*[f"id AS c{i}" for i in range(70)])
    with pytest.raises(ValueError, match="too many z-order columns"):
        zorder_write(df, str(tmp_path / "z"), [f"c{i}" for i in range(70)])


def test_neardup_clusters_union_find(spark):
    """Min-label propagation must agree with a reference union-find:
    chain {1-2,2-3}, pair {5-6}, singleton 9."""
    from data_ingestors_spark.operators.dedup import neardup_clusters

    ids = spark.createDataFrame([(i,) for i in (1, 2, 3, 5, 6, 9)], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (6, 5)], "id_a long, id_b long"
    )
    got = {
        (r.doc_id, r.cluster_id, r.keep)
        for r in neardup_clusters(ids, pairs).collect()
    }
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False),
        (5, 5, True), (6, 5, False),
        (9, 9, True),
    }


def test_neardup_clusters_long_chain_converges(spark):
    """A 10-node path graph needs multiple propagation rounds; the
    label must still converge to the global minimum of the component."""
    from data_ingestors_spark.operators.dedup import neardup_clusters

    n = 10
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    rows = neardup_clusters(ids, pairs).collect()
    assert all(r.cluster_id == 0 for r in rows)
    assert sorted(r.doc_id for r in rows if r.keep) == [0]


def test_pii_redact(spark):
    from data_ingestors_spark.operators.text import pii_redact

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@example.co.uk now"),
            (2, "see https://ex.com/a?b=1 and http://y.io"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text with no pii at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in pii_redact(df, "text", "doc_id").collect()}
    assert rows[1].n_email == 1 and "<EMAIL>" in rows[1].redacted
    assert "bob.smith" not in rows[1].redacted
    assert rows[2].n_url == 2 and rows[2].redacted.count("<URL>") == 2
    assert rows[3].n_phone == 1 and "<PHONE>" in rows[3].redacted
    assert "555" not in rows[3].redacted
    assert rows[4].redacted == "clean text with no pii at all"
    assert (rows[4].n_email, rows[4].n_url, rows[4].n_phone) == (0, 0, 0)


def test_mad_outlier_stats_and_geomean(spark):
    from data_ingestors_spark.operators.robust import geomean_by_group, mad_outlier_stats

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 100.0), ("b", 4.0), ("b", 4.0)],
        "g string, v double",
    )
    mad = {r.g: r for r in mad_outlier_stats(df, "g", "v", k=3.0).collect()}
    # group a: median 2.5, MAD 1.0, 100.0 is the single outlier
    assert mad["a"].med == 2.5 and mad["a"].mad == 1.0 and mad["a"].n_outliers == 1
    # group b: constant values, MAD 0, no outliers beyond 0 deviation
    assert mad["b"].mad == 0.0 and mad["b"].n_outliers == 0

    gm = {r.g: r.gm for r in geomean_by_group(df, "g", "v").collect()}
    assert abs(gm["b"] - 4.0) < 1e-12
    import math
    assert abs(gm["a"] - math.exp(sum(math.log(x) for x in (1, 2, 3, 100)) / 4)) < 1e-9


def test_salted_join_matches_plain_join(spark):
    """Salting must only change physical routing: the joined result
    set is identical to the plain join, including a 50%-hot key."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.operators.joins import salted_join

    fact = spark.range(20_000).select(
        F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("rowid"),
    )
    dim = spark.range(50).select(F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("dv"))
    plain = {(r.k, r.rowid, r.dv) for r in fact.join(dim, "k").collect()}
    salted = {(r.k, r.rowid, r.dv) for r in salted_join(fact, dim, "k", n_salt=8).collect()}
    assert salted == plain


def test_approx_aggs_within_tolerance(spark):
    """The rows-only approx ops are verified here against exact
    answers: approx_count_distinct within its rsd bound, and
    approx_percentile within the window implied by its accuracy."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.io.readers import load_table

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact_d"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_d"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("approx_p50"),
    ).collect()[0]
    assert abs(row.approx_d - row.exact_d) / row.exact_d < 0.05
    assert abs(row.approx_p50 - row.exact_p50) / row.exact_p50 < 0.01


def test_morton_key_overflow_guard(spark, tmp_path):
    """5 columns x 16 bits = 80 key bits > 63: Spark's shiftleft wraps
    the shift count mod 64, silently corrupting the key — morton_key
    must fail loud; zorder_write must auto-cap bits instead."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from data_ingestors_spark.operators.layout import morton_key, zorder_write

    cols = [F.lit(i) for i in range(5)]
    with _pytest.raises(ValueError, match="63"):
        morton_key(cols, bits=16)
    # 12 bits x 5 cols = 60 <= 63: fine
    morton_key(cols, bits=12)
    # zorder_write caps automatically (63 // 5 = 12) and still writes
    df = spark.range(200).select(
        *[(F.col("id") * (i + 3) % 97).alias(f"c{i}") for i in range(5)]
    )
    p = str(tmp_path / "z5")
    zorder_write(df, p, [f"c{i}" for i in range(5)], n_files=2)
    assert spark.read.parquet(p).count() == 200


def test_zorder_layout_tightens_file_stats(spark, tmp_path):
    """Z-order clustering must make per-file min-max ranges narrow on
    BOTH dimensions: for a tight predicate on y, far fewer files can
    match than under an x-only sort — the stats-pruning win the layout
    exists for. File stats are read back via duckdb parquet metadata,
    i.e. exactly what a parquet reader prunes on."""
    import duckdb
    from pyspark.sql import functions as F

    from data_ingestors_spark.operators.layout import zorder_write

    n = 40_000
    # two independent uniform dims in [0, 1000), non-negative and exact
    df = spark.range(n).select(
        (F.col("id") % 1000).alias("x"),
        ((F.col("id") * 7919) % 1000).alias("y"),
        F.col("id").alias("payload"),
    )
    z_path = str(tmp_path / "zorder")
    lin_path = str(tmp_path / "linear")
    zorder_write(df, z_path, ["x", "y"], n_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lin_path)

    def overlapping_files(path, col, lo, hi):
        con = duckdb.connect()
        rows = con.execute(
            f"""
            SELECT file_name,
                   min(CAST(stats_min_value AS BIGINT)) AS mn,
                   max(CAST(stats_max_value AS BIGINT)) AS mx
            FROM parquet_metadata('{path}/*.parquet')
            WHERE path_in_schema = '{col}'
            GROUP BY file_name
            """
        ).fetchall()
        con.close()
        assert rows, "no parquet stats found"
        total = len(rows)
        hit = sum(1 for _, mn, mx in rows if not (mx < lo or mn > hi))
        return hit, total

    z_hit, z_total = overlapping_files(z_path, "y", 0, 49)
    l_hit, l_total = overlapping_files(lin_path, "y", 0, 49)
    # x-sorted layout: y is random in every file -> all files match
    assert l_hit == l_total
    # z-ordered: only the curve segments crossing y<50 can match
    assert z_hit < z_total / 2

    # layout must not change content
    assert spark.read.parquet(z_path).count() == n
    got = spark.read.parquet(z_path).agg(F.sum("payload")).collect()[0][0]
    want = df.agg(F.sum("payload")).collect()[0][0]
    assert got == want


def test_hll_sketch_rollup_merges_accurately(spark):
    """Daily sketches merged to monthly must estimate distinct users
    within the HLL envelope, and merging must equal sketching the raw
    data directly (associativity)."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.io.readers import load_table
    from data_ingestors_spark.operators.sketches import (
        build_sketch_rollup,
        merge_sketch_rollup,
    )

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        F.to_date("ts").alias("day"), "user_id", "event_type"
    )
    daily = build_sketch_rollup(ev, ["day", "event_type"], "user_id")
    # sketch table is tiny: one row per (day, type)
    assert daily.count() < 200

    merged = merge_sketch_rollup(daily, ["event_type"]).collect()
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in merged:
        assert abs(r.approx_distinct - exact[r.event_type]) / exact[r.event_type] < 0.05

    # global roll-up from sketches == direct sketch over raw data
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).cast("long").alias("d")
    ).collect()[0].d
    via_merge = merge_sketch_rollup(daily, []).collect()[0].approx_distinct
    assert via_merge == direct


def test_temperature_mix_zero_survivor_source_falls_back(spark, tmp_path):
    """A source whose rows ALL fail the h32 pre-filter must still
    contribute its full quota via the unfiltered fallback (ADVICE r4:
    the old exactness check grouped only surviving sources, so a
    zero-survivor source silently vanished from the mix).

    Construction: two sources of 2500 docs each -> quota 500 each,
    h32_max = 0.8 * 2^32. Source "hi" is built exclusively from doc_ids
    whose md5 first-32-bits fall ABOVE that threshold, so its pre-filter
    keeps 0 rows.
    """
    import hashlib

    from data_ingestors_spark.queries.sampling import q_temperature_mix

    def h32(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)

    cut = int(0.8 * 2**32)
    hi_ids = [i for i in range(100_000, 200_000) if h32(i) >= cut][:2500]
    lo_ids = list(range(1, 2501))
    assert len(hi_ids) == 2500
    rows = [(i, "hi") for i in hi_ids] + [(i, "lo") for i in lo_ids]
    spark.createDataFrame(rows, ["doc_id", "source"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )

    out = q_temperature_mix(spark, str(tmp_path)).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r.doc_id)
    # both sources hit their exact quota — "hi" only via the fallback
    assert len(by_src["hi"]) == 500
    assert len(by_src["lo"]) == 500
    # and "hi" picked exactly the true md5-order head, not an approximation
    expect_hi = sorted(hi_ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[:500]
    assert sorted(by_src["hi"]) == sorted(expect_hi)


def _brute_pairs(spark, df, threshold, block_col="label"):
    from data_ingestors_spark.functions.rounding import fround
    from data_ingestors_spark.operators.similarity import cosine_similarity_col

    a = df.select(
        F.col(block_col).alias("blk"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a")
    )
    b = df.select(
        F.col(block_col).alias("blk_b"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b")
    )
    sim = fround(cosine_similarity_col(F.col("v_a"), F.col("v_b")), 6)
    return (
        a.join(b, (F.col("blk") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _pairset(rows):
    return {(r.id_a, r.id_b, r.cos_sim) for r in rows}


def test_blocked_cosine_pairs_grid_matches_bruteforce(spark, sf_dir):
    """Grid path (forced multi-chunk) is EXACT: identical pair set and
    sims as the naive all-pairs join, with every pair met in exactly
    one grid cell (no duplicates)."""
    from data_ingestors_spark.operators.similarity import blocked_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = blocked_cosine_pairs(
        emb, threshold=0.3, block_col="label", chunk_rows=7, strategy="grid"
    ).collect()
    want = _brute_pairs(spark, emb, 0.3).collect()
    assert len(got) == len(want) > 0  # duplicates would inflate len
    assert _pairset(got) == _pairset(want)


def test_blocked_cosine_pairs_lsh_exact_on_planted_neardups(spark):
    """FORCED LSH path at t=0.9: planted near-duplicates (perturbed
    copies, cos >= ~0.95) must ALL be found — candidate recall is
    total on this fixture, and exact-verify makes the output identical
    to brute force (deterministic: seeded hyperplanes, fixed data).
    Forced because r11's auto cost model routes t=0.9 (analytic
    f=0.10 > LSH_PAIRS_CANDIDATE_CUTOVER) to the faster exact grid;
    the LSH machinery stays covered here and engages under auto only
    at very high thresholds."""
    import numpy as np

    from data_ingestors_spark.operators.similarity import (
        _lsh_pair_params,
        blocked_cosine_pairs,
    )

    rng = np.random.RandomState(7)
    base = rng.randn(40, 64)
    rows = []
    for i, v in enumerate(base):
        v = v / np.linalg.norm(v)
        rows.append((i, int(i % 3), [float(x) for x in v]))
        dup = v + 0.15 * rng.randn(64) / np.sqrt(64)  # cos ~ 0.97-0.99
        dup = dup / np.linalg.norm(dup)
        rows.append((100 + i, int(i % 3), [float(x) for x in dup]))
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])

    params = _lsh_pair_params(0.9)
    assert params is not None and params[2] <= 0.15  # params exist and prune
    got = blocked_cosine_pairs(
        df, threshold=0.9, block_col="label", strategy="lsh"
    ).collect()
    want = _brute_pairs(spark, df, 0.9).collect()
    assert len(want) >= 40  # every planted duplicate qualifies
    assert _pairset(got) == _pairset(want)


def test_blocked_cosine_pairs_gate_routes_by_threshold(spark, sf_dir):
    """auto strategy routing (r11 cost model): t=0.35 -> grid (no
    recall-safe LSH params exist that close to 90deg); t=0.9 -> grid
    too (params exist but analytic f=0.10 exceeds
    LSH_PAIRS_CANDIDATE_CUTOVER — the per-candidate verify cost would
    lose 13-20x to the exact GEMM, BASELINE.md §r11); t>=0.95 -> LSH
    (f=0.004 < cutover). Routing asserted by instrumenting
    _lsh_cosine_pairs; results agree with brute force at both fixture
    thresholds."""
    import data_ingestors_spark.operators.similarity as S
    from data_ingestors_spark.operators.similarity import (
        LSH_PAIRS_CANDIDATE_CUTOVER,
        _lsh_pair_params,
        blocked_cosine_pairs,
    )

    assert _lsh_pair_params(0.35) is None
    assert _lsh_pair_params(0.9)[2] > LSH_PAIRS_CANDIDATE_CUTOVER
    assert _lsh_pair_params(0.95)[2] < LSH_PAIRS_CANDIDATE_CUTOVER

    routed = []
    real = S._lsh_cosine_pairs
    orig = S._lsh_cosine_pairs
    try:
        S._lsh_cosine_pairs = lambda *a, **k: routed.append(1) or real(*a, **k)
        emb0 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        blocked_cosine_pairs(emb0, threshold=0.9, block_col="label").collect()
        assert not routed, "t=0.9 must route to the exact grid (f=0.10)"
        blocked_cosine_pairs(emb0, threshold=0.95, block_col="label").collect()
        assert routed, "t=0.95 must route to LSH (f=0.004)"
    finally:
        S._lsh_cosine_pairs = orig
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for t in (0.35, 0.9):
        got = blocked_cosine_pairs(emb, threshold=t, block_col="label").collect()
        want = _brute_pairs(spark, emb, t).collect()
        assert _pairset(got) == _pairset(want)


def test_winnowing_overlap_hot_fingerprint_bounded(spark, tmp_path):
    """MOSS noise filter: a boilerplate passage shared by EVERY doc
    must not explode the inverted-index join into all-pairs matches.
    Its fingerprints have df = n_docs > max_df and are dropped, so the
    output contains exactly the one genuinely copied pair (which
    shares >= 3 RARE fingerprints), not the C(50,2) boilerplate
    pairs."""
    import random

    from data_ingestors_spark.queries.text_llm import q_winnowing_overlap

    rng = random.Random(11)

    def words(n):
        return " ".join(f"w{rng.randrange(10**9)}" for _ in range(n))

    boiler = "all rights reserved this document is provided as is without warranty of any kind express or implied"
    passage = words(30)
    rows = []
    for i in range(50):
        rows.append((i, f"{words(6)} {boiler} {words(6)}", "web"))
    rows.append((100, f"{words(5)} {passage}", "web"))
    rows.append((101, f"{passage} {words(5)}", "web"))
    spark.createDataFrame(rows, ["doc_id", "text", "source"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )

    out = q_winnowing_overlap(spark, str(tmp_path)).collect()
    got = {(r.id_a, r.id_b) for r in out}
    assert got == {(100, 101)}


def test_pq_ann_recall(spark, sf_dir):
    """PQ-ADC with exact re-rank: recall floor on the random corpus
    (measured 0.76-0.84 at refine=10; random embeddings are the hard
    case for an 8x32 codebook), and every reported similarity must be
    a TRUE cosine — the re-rank means quantization error can only cost
    recall, never score precision."""
    from data_ingestors_spark.operators import cosine_topk_bruteforce, pq_ann_topk
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id): r.cos_sim
             for r in cosine_topk_bruteforce(emb, q, k=5).collect()}
    got = {(r.query_id, r.neighbor_id): r.cos_sim
           for r in pq_ann_topk(emb, q, k=5, refine=10).collect()}
    recall = len(exact.keys() & got.keys()) / len(exact)
    assert recall >= 0.5, f"PQ recall too low: {recall}"
    for pair in exact.keys() & got.keys():
        assert got[pair] == exact[pair], (pair, got[pair], exact[pair])


def _clustered_vec_df(spark, n_clusters=3, per_cluster=40, dim=16, noise=0.05):
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.randn(n_clusters, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + noise * rng.randn(dim)
            v /= np.linalg.norm(v)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id BIGINT, label INT, embedding ARRAY<DOUBLE>")


def test_cell_pruned_pairs_exact_on_clustered(spark):
    """The SemDeDup cells strategy must return EXACTLY the grid
    strategy's pairs (ids and similarities) — cell-pair pruning is a
    provable skip, never an approximation. Clustered fixture so the
    pruning path actually exercises (cross-cluster cell pairs are
    provably below threshold)."""
    from data_ingestors_spark.operators.similarity import blocked_cosine_pairs

    df = _clustered_vec_df(spark)
    grid = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in blocked_cosine_pairs(
            df, id_col="vec_id", vec_col="embedding",
            threshold=0.6, strategy="grid", chunk_rows=16,
        ).collect()
    }
    cells = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in blocked_cosine_pairs(
            df, id_col="vec_id", vec_col="embedding",
            threshold=0.6, strategy="cells", n_cells=6, chunk_rows=16,
        ).collect()
    }
    assert grid, "fixture produced no qualifying pairs"
    assert cells == grid


def test_cell_pruning_geometry_prunes_clustered_fixture(spark):
    """Driver-side replica of the cell-pair bound on the clustered
    fixture: with tight clusters at wide mutual angles, at least one
    cell PAIR must be provably below threshold (the pruning payoff),
    while every same-cell pair survives (the bound can never prune
    the diagonal)."""
    import math

    import numpy as np

    from pyspark.sql import functions as F

    from data_ingestors_spark.operators.similarity import (
        _kmeans,
        _stripe_sample_normalized,
    )

    df = _clustered_vec_df(spark)
    base = df.select(
        F.lit(0).alias("block"),
        F.col("vec_id").alias("pid"),
        F.col("embedding").alias("vec"),
    )
    Xn = _stripe_sample_normalized(base, "pid", "vec", 2048, None)
    cents = _kmeans(Xn, 6, seed=42)
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    V = np.array([r.vec for r in base.select("vec").collect()])
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    sims = Vn @ cents.T
    cell = sims.argmax(axis=1)
    theta = np.arccos(np.clip(sims[np.arange(len(V)), cell], -1, 1))
    rad = {c: theta[cell == c].max() for c in set(cell)}
    theta_t = math.acos(0.6 - 1e-5)
    cc = np.clip(cents @ cents.T, -1, 1)
    pruned = kept = 0
    for i in sorted(rad):
        for j in sorted(rad):
            if j < i:
                continue
            gap = math.acos(cc[i, j]) - rad[i] - rad[j]
            if max(0.0, gap) <= theta_t:
                kept += 1
                continue
            pruned += 1
            assert i != j, "diagonal cell pair must never prune"
    assert pruned > 0, "clustered fixture should prune at least one cell pair"
    assert kept > 0


def test_ivfpq_ann_recall(spark, sf_dir):
    """Composed IVF-PQ: recall floor is set by the IVF probe pruning,
    with PQ error absorbed by the exact re-rank. r6 adaptive probing +
    refine=20/n_codes=64 defaults measure 0.8 at both test scales on
    the random-corpus worst case; reported sims are true cosines."""
    from data_ingestors_spark.operators import cosine_topk_bruteforce, ivfpq_ann_topk
    from data_ingestors_spark.queries.base import tables

    emb = tables(spark, sf_dir, "embeddings")["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id): r.cos_sim
             for r in cosine_topk_bruteforce(emb, q, k=5).collect()}
    got = {(r.query_id, r.neighbor_id): r.cos_sim
           for r in ivfpq_ann_topk(emb, q, k=5).collect()}
    recall = len(exact.keys() & got.keys()) / len(exact)
    assert recall >= 0.7, f"IVF-PQ recall too low: {recall}"
    for pair in exact.keys() & got.keys():
        assert got[pair] == exact[pair], (pair, got[pair], exact[pair])


def test_incremental_rollup_matches_full_recompute(spark, tmp_path):
    """Continuous-aggregate contract: folding batches in (with late
    data overlapping earlier buckets) must equal a full recompute over
    the union, and an untouched bucket's files must not be rewritten
    by a refresh that does not touch it."""
    import os
    import time as _time

    from data_ingestors_spark.operators.rollup import (
        BUCKET_PART_COL,
        read_rollup,
        rollup_upsert,
    )
    from data_ingestors_spark.io.readers import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "ts", "event_type", "value"
    )
    cut = events.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    b1 = events.filter(F.col("ts") <= F.lit(cut))
    b2 = events.filter(F.col("ts") > F.lit(cut))  # overlaps the cut hour = late data

    store = str(tmp_path / "rollup")
    rollup_upsert(spark, b1, store)
    # mtime snapshot of a bucket b2 cannot touch (earliest bucket)
    first_bucket = sorted(
        d for d in os.listdir(store) if d.startswith(BUCKET_PART_COL + "=")
    )[0]
    files = lambda: {
        f: os.path.getmtime(os.path.join(store, first_bucket, f))
        for f in os.listdir(os.path.join(store, first_bucket))
        if f.endswith(".parquet")
    }
    before = files()
    _time.sleep(1.1)
    touched = rollup_upsert(spark, b2, store)
    assert touched >= 1
    assert files() == before, "refresh rewrote an untouched bucket partition"

    got = {
        (r.bucket, r.event_type): (r.n_events, float(r.sum_value), r.min_value, r.max_value)
        for r in read_rollup(spark, store).collect()
    }
    full = {
        (r.b, r.event_type): (r.n, float(r.s), r.mn, r.mx)
        for r in events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd-HH").alias("b"),
            "event_type",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(30,10)")).cast("decimal(30,10)").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == full


def test_compact_rollup_immune_to_dynamic_overwrite_mode(spark, tmp_path):
    """Regression: with session partitionOverwriteMode=dynamic (which
    rollup_upsert itself sets, and clusters commonly default to), the
    compaction's full-store overwrite used to replace only the
    __batch=-1 partitions, leaving stale per-batch partials that
    read_rollup then double-counted."""
    import datetime as dt

    from data_ingestors_spark.operators.rollup import (
        compact_rollup,
        read_rollup,
        rollup_append_partials,
    )

    rows = [(i, dt.datetime(2024, 1, 1, i % 2), 1, "view", float(i), "{}") for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    store = str(tmp_path / "r")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        rollup_append_partials(spark, df.filter("event_id < 2"), store, 0)
        rollup_append_partials(spark, df.filter("event_id >= 2"), store, 1)
        before = sorted(
            (r.bucket, r.event_type, r.n_events, float(r.sum_value))
            for r in read_rollup(spark, store).collect()
        )
        compact_rollup(spark, store)
        after = sorted(
            (r.bucket, r.event_type, r.n_events, float(r.sum_value))
            for r in read_rollup(spark, store).collect()
        )
        assert after == before
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_compact_rollup_on_a_merged_store_runs_no_spark_job(spark, tmp_path):
    """A merged-bucket store (rollup_upsert) has no per-batch layers, and
    compact_rollup tells so from a listing: no Spark job runs."""
    from data_ingestors_spark.operators.rollup import compact_rollup, rollup_upsert

    rows = [(i, dt.datetime(2024, 1, 1, i % 3), 1, "view", float(i), "{}") for i in range(6)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    store = str(tmp_path / "r")
    rollup_upsert(spark, df, store)
    sc = spark.sparkContext
    group = f"compact_rollup_merged_{id(store)}"
    sc.setJobGroup(group, group)
    try:
        compact_rollup(spark, store)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    compact_rollup(spark, str(tmp_path / "absent"))  # no store: nothing to do


def test_compact_rollup_recovers_from_crash_mid_swap(spark, tmp_path, monkeypatch):
    """A crash between the compaction swap's two renames (live store
    moved aside, folded copy not yet in place) loses nothing: recovery
    restores the store, read_rollup answers as before, and so it does
    after a compaction that first repairs a crashed one."""
    import os

    from data_ingestors_spark.io import fs
    from data_ingestors_spark.operators.rollup import (
        compact_rollup,
        read_rollup,
        rollup_append_partials,
    )

    rows = [(i, dt.datetime(2024, 1, 1, i % 2), 1, "view", float(i), "{}") for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    store = str(tmp_path / "r")
    rollup_append_partials(spark, df.filter("event_id < 2"), store, 0)
    rollup_append_partials(spark, df.filter("event_id >= 2"), store, 1)

    def snapshot():
        return sorted(
            (r.bucket, r.event_type, r.n_events, float(r.sum_value))
            for r in read_rollup(spark, store).collect()
        )

    before = snapshot()
    real_rename = fs.rename

    def crash_into_store(spark, src, dst):
        if dst == store:
            raise OSError("simulated crash before the folded copy is swapped in")
        real_rename(spark, src, dst)

    monkeypatch.setattr(fs, "rename", crash_into_store)
    with pytest.raises(OSError):
        compact_rollup(spark, store)
    monkeypatch.setattr(fs, "rename", real_rename)
    assert not os.path.exists(store)

    fs.recover_swaps(spark, str(tmp_path))
    assert snapshot() == before

    monkeypatch.setattr(fs, "rename", crash_into_store)
    with pytest.raises(OSError):
        compact_rollup(spark, store)
    monkeypatch.setattr(fs, "rename", real_rename)
    compact_rollup(spark, store)
    assert snapshot() == before
    assert os.listdir(tmp_path) == ["r"]


def test_interval_overlap_join_exactly_once_across_bins(spark):
    """A pair overlapping across MANY shared bins must appear exactly
    once (the later-start bin guard), and touching endpoints count as
    overlap (closed intervals)."""
    from data_ingestors_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 10_000), (2, 500, 600), (3, 20_000, 20_100)], "id long, s long, e long"
    )
    right = spark.createDataFrame(
        [(10, 100, 9_000), (11, 600, 650), (12, 30_000, 30_001)], "id long, s long, e long"
    )
    rows = sorted(
        (r.l_id, r.r_id)
        for r in interval_overlap_join(left, right, bin_size=256).collect()
    )
    # (1,10): overlap spanning ~35 shared bins -> once; (1,11) inside 1;
    # (2,10) overlap; (2,11) touching at 600 -> closed-interval match;
    # nothing matches 3 or 12
    assert rows == [(1, 10), (1, 11), (2, 10), (2, 11)]


def test_rollup_upsert_refuses_partials_layout_store(spark, tmp_path):
    """Regression: merging flat bucket rows into a (bucket, batch_id)
    partials store left mixed-depth partition dirs that broke the NEXT
    read — refuse loudly at write time instead."""
    import datetime as dt

    import pytest

    from data_ingestors_spark.operators.rollup import (
        read_rollup,
        rollup_append_partials,
        rollup_upsert,
    )

    rows = [(i, dt.datetime(2024, 1, 1, i % 2), 1, "view", float(i), "{}") for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    store = str(tmp_path / "r")
    rollup_append_partials(spark, df, store, 0)
    with pytest.raises(ValueError, match="partials layout"):
        rollup_upsert(spark, df, store)
    # the store must still be readable after the refusal
    assert read_rollup(spark, store).count() > 0


def test_minhash_signature_seeds_are_independent(spark):
    """Regression: the 32-seed fan-out must produce 32 DIFFERENT
    min-hashes. A two-parameter lambda in the transform made PySpark
    use the (element, index) HOF form, silently rebinding the seed to
    the element position — every component collapsed to the seed-0
    value and LSH banding degenerated to a single-hash index."""
    from data_ingestors_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog and runs far away home tonight")],
        "doc_id long, text string",
    )
    sig = minhash_signatures(df, "text", "doc_id").collect()[0].signature
    assert len(set(sig)) >= 30, f"seed fan-out collapsed: {len(set(sig))} distinct of {len(sig)}"


# --- FastSS fuzzy join ------------------------------------------------


def _brute_dist1_pairs(spark, rows):
    """Ground truth: all-pairs levenshtein == 1 via a cross join."""
    df = spark.createDataFrame(rows, ["id", "s"])
    a = df.select(F.col("id").alias("id_a"), F.col("s").alias("sa"))
    b = df.select(F.col("id").alias("id_b"), F.col("s").alias("sb"))
    return {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("sa", "sb") == 1)
        .collect()
    }


def test_fastss_pairs_equal_bruteforce(spark):
    """Deletion-neighborhood blocking is complete for edit distance 1:
    substitutions, insertions, deletions all found; distance-2 pairs
    that share a deletion key are rejected by the verify step; exact
    duplicates (distance 0) are excluded."""
    from data_ingestors_spark.operators.fuzzy import fastss_pairs

    rows = [
        (1, "matrix"),
        (2, "motrix"),   # substitution of 1
        (3, "matrixx"),  # insertion into 1
        (4, "atrix"),    # deletion from 1 (also distance 2 from 2)
        (5, "mxtrxx"),   # distance 2 from 1 — shares no single edit
        (6, "ab"),
        (7, "ba"),       # transposition = distance 2 in Levenshtein
        (8, "b"),        # distance 1 from both 6 and 7
        (9, "matrix"),   # exact duplicate of 1 — must NOT pair
        (10, "zzzzz"),   # isolated
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    got = {
        (r.id_a, r.id_b)
        for r in fastss_pairs(df, "s", "id").collect()
    }
    want = _brute_dist1_pairs(spark, rows)
    # duplicate strings are distance 0, not 1 — both sides must agree
    assert (1, 9) not in want
    assert got == want and want, want


def test_fastss_hot_key_cap(spark):
    """max_key_df drops blocking keys shared by too many rows; with a
    cap of 1 every shared key dies and no pairs survive."""
    from data_ingestors_spark.operators.fuzzy import fastss_pairs

    rows = [(i, f"item{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["id", "s"])
    uncapped = fastss_pairs(df, "s", "id").count()
    capped = fastss_pairs(df, "s", "id", max_key_df=1).count()
    assert uncapped > 0
    assert capped == 0


def test_fastss_default_cap_pathological(spark):
    """The documented df² traps: (a) 1-char values all share the
    empty-string deletion key, (b) a mass-duplicated value makes every
    one of its keys hot. With the default cap both complete with the
    hot keys dropped; the healthy tail of the corpus still matches."""
    from data_ingestors_spark.operators.fuzzy import fastss_match, fastss_pairs

    # 3000 single-char rows (all "x") + 3000 copies of one name + two
    # normal distance-1 names. Uncapped, the empty-string key alone
    # would be a 3000² = 9M-candidate join.
    rows = (
        [(i, "x") for i in range(3000)]
        + [(10_000 + i, "massdup") for i in range(3000)]
        + [(99_991, "alice"), (99_992, "alicia")]  # distance 2 — no pair
        + [(99_993, "bob"), (99_994, "rob")]       # distance 1
    )
    df = spark.createDataFrame(rows, ["id", "s"])
    pairs = fastss_pairs(df, "s", "id").collect()
    # every "x"~"x" and "massdup"~"massdup" pair is distance 0 anyway;
    # the cap drops their keys before the join rather than generating
    # 18M candidates for levenshtein to discard
    assert {(r.id_a, r.id_b, r.dist) for r in pairs} == {(99_993, 99_994, 1)}

    ref = spark.createDataFrame(
        [(1, "x"), (2, "massdup"), (3, "bob")], ["rid", "rs"]
    )
    got = {
        (r.id, r.ref_id, r.dist)
        for r in fastss_match(df, ref, "s", "id", "rs", "rid").collect()
    }
    # hot keys dropped on the probe side kill the degenerate matches;
    # healthy rows still hit the reference (bob exact, rob distance 1)
    assert (99_993, 3, 0) in got and (99_994, 3, 1) in got
    assert not any(r[1] == 1 for r in got)  # "x" matches capped away


def test_fastss_cap_noop_on_natural_data(spark):
    """Default cap result == uncapped result when no key is hot."""
    from data_ingestors_spark.operators.fuzzy import fastss_pairs

    rows = [(i, f"customer#{i:05d}") for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "s"])
    capped = {tuple(r) for r in fastss_pairs(df, "s", "id").collect()}
    exact = {tuple(r) for r in fastss_pairs(df, "s", "id", max_key_df=None).collect()}
    assert capped == exact


def test_fuzzy_match_stats_counts(spark):
    from data_ingestors_spark.operators.fuzzy import fuzzy_match_stats

    rows = [(1, "cat"), (2, "cap"), (3, "cut"), (4, "dog")]
    df = spark.createDataFrame(rows, ["id", "s"])
    out = {r.id: (r.n_matches, r.min_match_id)
           for r in fuzzy_match_stats(df, "s", "id").collect()}
    # cat~cap, cat~cut; cap~cut is distance 2; dog isolated
    assert out == {1: (2, 2), 2: (1, 1), 3: (1, 1)}


# --- duplicated-substring windows ------------------------------------


def test_dup_span_stats_windows(spark):
    from data_ingestors_spark.operators.text import dup_span_stats

    rows = [
        (1, "abcdefgh"),   # all 4 windows duplicated (copy in doc 2)
        (2, "abcdefgh"),
        (3, "qrstuvwxyz"),  # unique: 6 windows, 0 dup
        (4, "abc"),         # shorter than span — absent
        (5, "aaaaaaa"),     # intra-doc repeats: 3 windows of "aaaaa"
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_frac)
           for r in dup_span_stats(df, "text", "doc_id", span=5).collect()}
    assert 4 not in out
    assert out[1] == (4, 4, 1.0)
    assert out[2] == (4, 4, 1.0)
    assert out[3] == (6, 0, 0.0)
    # "aaaaaaa" -> windows at 3 offsets, all the same string: global
    # occurrence count 3 > 1, so every window is a duplicate
    assert out[5] == (3, 3, 1.0)


def test_dup_span_merge_islands(spark):
    """Maximal-span merging: a fully-duplicated doc collapses to one
    region; two duplicated blocks separated by unique text stay two
    regions; intra-doc repeats merge into one overlapping run."""
    from data_ingestors_spark.operators.text import dup_span_merge

    rows = [
        (1, "abcdefgh"),                  # all 4 windows dup (copy in 2)
        (2, "abcdefgh"),
        (3, "qrstuvwxyz"),                # unique -> absent
        (5, "aaaaaaa"),                   # intra-doc repeats, one run
        (6, "zzzzz0123456789zzzzz"),      # two dup blocks, gap 15 > span
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.n_spans, r.dup_chars, r.max_span_chars)
           for r in dup_span_merge(df, "text", "doc_id", span=5).collect()}
    assert 3 not in out
    # docs 1/2: dup positions 1..4 -> one island, chars = 4-1+5 = 8
    assert out[1] == (1, 8, 8)
    assert out[2] == (1, 8, 8)
    # doc 5: "aaaaa" at positions 1..3 (n_occ 3) -> one island of 7
    assert out[5] == (1, 7, 7)
    # doc 6: "zzzzz" dup at pos 1 and 16; gap 15 > span -> two islands
    assert out[6] == (2, 10, 5)


def test_dup_span_merge_adjacency(spark):
    """Positions exactly `span` apart produce contiguous character
    coverage and must merge into one region."""
    from data_ingestors_spark.operators.text import dup_span_merge

    # "alpha" at pos 1 and "bravo" at pos 6 in doc 1; both duplicated
    # via docs 2/3. Positions 1 and 6 differ by exactly span=5.
    rows = [
        (1, "alphabravo"),
        (2, "alpha00000000"),
        (3, "11111111bravo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.n_spans, r.dup_chars, r.max_span_chars)
           for r in dup_span_merge(df, "text", "doc_id", span=5).collect()}
    n_spans, dup_chars, _ = out[1]
    assert n_spans == 1 and dup_chars == 10, out[1]


def test_dup_line_stats_fractions(spark, tmp_path):
    """Crafted doc: lines [a, b, a, c] (empty line ignored) -> half
    the line occurrences are duplicates; the two paragraphs are
    distinct -> paragraph dup fractions 0."""
    from data_ingestors_spark.queries import all_queries

    df = spark.createDataFrame(
        [(1, "a\nb\na\n\nc", "s")], ["doc_id", "text", "source"]
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = all_queries()["dup_line_stats"](spark, str(tmp_path)).collect()[0]
    assert (out.n_line, out.dup_line_frac, out.dup_line_char_frac) == (4, 0.5, 0.5)
    assert (out.n_para, out.dup_para_frac, out.dup_para_char_frac) == (2, 0.0, 0.0)


def test_c4_line_filter_rules(spark):
    """Each C4 line rule and doc rule fires: terminal punctuation,
    5-word minimum, javascript mention, lorem ipsum, curly brace,
    3-surviving-lines floor."""
    from data_ingestors_spark.operators.text import c4_line_filter

    good = "This line has plenty of words and punctuation."
    rows = [
        (1, "\n".join([good] * 3)),                       # passes
        (2, "\n".join([good, "no terminal punctuation here", good])),
        (3, "\n".join([good, "Too few words.", good])),
        (4, "\n".join([good, "Enable JavaScript to view this page.", good, good])),
        (5, "\n".join([good] * 3) + "\nLorem ipsum dolor sit amet."),
        (6, "\n".join([good] * 3) + "\nfunction f() { return 1; }"),
        (7, "\n".join([good] * 2)),                       # only 2 kept lines
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.asDict() for r in c4_line_filter(df, "text", "doc_id").collect()}
    assert out[1]["passes_c4"] is True and out[1]["n_kept"] == 3
    assert out[2]["n_kept"] == 2                          # middle line dropped
    assert out[3]["n_kept"] == 2
    assert out[4]["n_kept"] == 3                          # javascript line dropped
    assert out[5]["has_lorem"] is True and out[5]["passes_c4"] is False
    assert out[6]["has_brace"] is True and out[6]["passes_c4"] is False
    assert out[7]["n_kept"] == 2 and out[7]["passes_c4"] is False
    assert out[2]["cleaned_text"] == good + "\n" + good


def test_gopher_quality_flags_rules(spark):
    """Each published Gopher rule fires on a crafted violator and
    passes on a healthy doc."""
    from data_ingestors_spark.operators.text import gopher_quality_flags

    healthy = (
        "The quick brown fox jumps over the lazy dog and then it sits down "
        "to rest with some friends that have been waiting nearby today. "
    ) * 4  # ~96 words, stopwords present, normal lengths
    rows = [
        (1, healthy),
        (2, "too few words here"),                          # word count
        (3, " ".join(["ab"] * 60)),                         # mean word len < 3
        (4, " ".join(["the", "of", "and"] * 20 + ["#"] * 10)),  # symbol ratio
        (5, "\n".join(["• bullet line the and of"] * 10)),  # bullets >= 90%
        (6, "\n".join(["the and of words..."] * 10)),       # ellipsis >= 30%
        (7, " ".join(["the", "and"] * 30 + ["123"] * 40)),  # alpha < 80%
        (8, " ".join(["alpha", "bravo", "tango"] * 25)),    # no stopwords
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.asDict() for r in
           gopher_quality_flags(df, "text", "doc_id").collect()}
    assert out[1]["passes_gopher"] is True
    assert out[2]["f_word_count"] is False
    assert out[3]["f_mean_word_len"] is False
    assert out[4]["f_symbol_ratio"] is False
    assert out[5]["f_bullet_lines"] is False
    assert out[6]["f_ellipsis_lines"] is False
    assert out[7]["f_alpha_words"] is False
    assert out[8]["f_stopwords"] is False
    for d in range(2, 9):
        assert out[d]["passes_gopher"] is False


def test_strip_dup_spans_rewrite(spark):
    """The rewrite step: duplicated regions cut, unique text kept,
    min_len filters short regions back into the text."""
    from data_ingestors_spark.operators.text import strip_dup_spans

    rows = [
        (1, "abcdefgh"),
        (2, "abcdefgh"),
        (3, "qrstuvwxyz"),
        (6, "zzzzz0123456789zzzzz"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: (r.cleaned_text, r.n_regions, r.removed_chars)
           for r in strip_dup_spans(df, "text", "doc_id", span=5).collect()}
    assert out[1] == ("", 1, 8)           # fully duplicated -> empty
    assert out[2] == ("", 1, 8)
    assert out[3] == ("qrstuvwxyz", 0, 0)  # untouched passthrough
    assert out[6] == ("0123456789", 2, 10)  # both flanks cut

    # raising min_len above the flank size keeps doc 6 intact while
    # doc 1's 8-char region still cuts
    out2 = {r.doc_id: (r.cleaned_text, r.n_regions)
            for r in strip_dup_spans(df, "text", "doc_id", span=5, min_len=6).collect()}
    assert out2[6] == ("zzzzz0123456789zzzzz", 0)
    assert out2[1] == ("", 1)


def test_strip_matches_merge_accounting(spark, sf_dir):
    """With min_len == span, the rewrite must remove EXACTLY the
    regions dup_span_merge reports: removed_chars == dup_chars,
    n_regions == n_spans per doc, and untouched docs remove 0."""
    from data_ingestors_spark.operators.text import dup_span_merge, strip_dup_spans
    from data_ingestors_spark.queries.base import tables

    docs = tables(spark, sf_dir, "documents")["documents"]
    merge = {r.doc_id: (r.n_spans, r.dup_chars)
             for r in dup_span_merge(docs, "text", "doc_id", span=30).collect()}
    strip = {r.doc_id: (r.n_regions, r.removed_chars)
             for r in strip_dup_spans(docs, "text", "doc_id", span=30).collect()}
    assert merge, "fixture corpus contains no duplicated regions"
    for doc_id, (n_regions, removed) in strip.items():
        if doc_id in merge:
            assert (n_regions, removed) == merge[doc_id], doc_id
        else:
            assert (n_regions, removed) == (0, 0), doc_id


def test_dup_span_merge_consistent_with_stats(spark, sf_dir):
    """Cross-operator invariants on real corpus data: the two
    substring-dedup ops must agree on WHICH documents contain
    duplicated windows, and each doc's merged regions must satisfy
    the counting relations (>=1 position per island, >= span chars
    per island, islands can't outnumber dup windows)."""
    from data_ingestors_spark.operators.text import dup_span_merge, dup_span_stats
    from data_ingestors_spark.queries.base import tables

    docs = tables(spark, sf_dir, "documents")["documents"]
    stats = {
        r.doc_id: r.n_dup_windows
        for r in dup_span_stats(docs, "text", "doc_id", span=30).collect()
    }
    merged = {
        r.doc_id: (r.n_spans, r.dup_chars, r.max_span_chars)
        for r in dup_span_merge(docs, "text", "doc_id", span=30).collect()
    }
    assert set(merged) == {d for d, n in stats.items() if n > 0}
    assert merged, "fixture corpus contains no duplicated windows"
    for doc_id, (n_spans, dup_chars, max_chars) in merged.items():
        assert n_spans >= 1
        assert n_spans <= stats[doc_id]          # each island needs a window
        assert dup_chars >= n_spans * 30         # each island covers >= span
        assert 30 <= max_chars <= dup_chars


def test_dup_span_stats_hot_span(spark):
    """Pathological corpus: ONE boilerplate span shared by every
    document (license-header shape). Correctness must hold, and the
    plan must contain no window function and no join keyed on the span
    string — all reductions over "w" are partial-aggregated groupBys,
    so the hot key collapses map-side instead of landing d rows on one
    reducer."""
    from data_ingestors_spark.operators.text import dup_span_stats

    boiler = "SPDX-License-Identifier: MIT"  # shared prefix, len > span
    rows = [(i, boiler + f" unique tail {i:06d}") for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)
    out = dup_span_stats(df, "text", "doc_id", span=5)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the only join is the per-doc fold (totals ⋈ uniq on doc_id)
    assert plan.lower().count("join") <= 2, plan

    got = {r.doc_id: (r.n_windows, r.n_dup_windows) for r in out.collect()}
    assert len(got) == 500
    # every doc: the boilerplate's span-5 windows are corpus-global
    # duplicates; doc 499's "00499" digit window is globally unique.
    n_win, n_dup = got[499]
    assert n_win == len(rows[499][1]) - 4
    assert 0 < n_dup < n_win
    # all docs have identical text length and boilerplate, so counts
    # are uniform except the digits region
    assert all(v[0] == n_win for v in got.values())


def test_quantile_digest_rank_error(spark, sf_dir):
    """Digest quantiles must land within the ~2/B rank-error bound of
    the exact CDF (B=50 here to make the bound meaningful at smoke
    scale)."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.operators.digest import digest_quantiles
    from data_ingestors_spark.queries.base import tables

    li = tables(spark, sf_dir, "lineitem")["lineitem"].select("l_extendedprice")
    li = li.persist()
    n = li.count()
    qs = [0.1, 0.5, 0.9]
    rows = digest_quantiles(li, "l_extendedprice", qs, b=50).collect()
    assert {r.q for r in rows} == set(qs)
    for r in rows:
        rank = li.filter(F.col("l_extendedprice") <= r.est).count() / n
        assert abs(rank - r.q) <= 2.5 / 50, (r.q, r.est, rank)
    li.unpersist()


def test_quantile_digest_mergeable(spark):
    """Centroid digests built on disjoint halves, unioned, must answer
    quantiles like a digest over the whole — the property that lets
    per-day digests roll up to any grain."""
    from pyspark.sql import functions as F

    from data_ingestors_spark.operators.digest import (
        build_digest,
        digest_quantiles,
        merge_digest_quantiles,
    )

    vals = [(float(i),) for i in range(2000)]
    df = spark.createDataFrame(vals, "x double")
    a = df.filter(F.col("x") < 1000)
    b = df.filter(F.col("x") >= 1000)
    merged = merge_digest_quantiles(
        build_digest(a, "x", b=64).union(build_digest(b, "x", b=64)), [0.25, 0.5, 0.75], b=64
    ).collect()
    whole = {r.q: r.est for r in digest_quantiles(df, "x", [0.25, 0.5, 0.75], b=64).collect()}
    for r in merged:
        # exact answers are 499.5/999.5/1499.5-ish; both paths must sit
        # within one centroid width (2000/64 ≈ 31) of truth and of
        # each other
        truth = 2000 * r.q
        assert abs(r.est - truth) <= 40, (r.q, r.est)
        assert abs(r.est - whole[r.q]) <= 40


def test_pareto_frontier_matches_bruteforce(spark):
    """The window-based skyline must equal the O(n^2) dominance scan,
    including duplicate points and ties on one dimension."""
    import random

    # same plan shape as queries/statistics.py:q_pareto_frontier, on
    # adversarial random data instead of the benchmark table
    rng = random.Random(5)
    pts = [(i, rng.randint(0, 20) + 0.5, rng.randint(0, 20)) for i in range(120)]
    pts += [(200, 3.5, 3), (201, 3.5, 3)]  # exact duplicate pair — both stay
    df = spark.createDataFrame(pts, "id long, price double, size int")

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per_price = df.groupBy("price").agg(F.min("size").alias("min_size"))
    w = Window.orderBy("price").rowsBetween(Window.unboundedPreceding, -1)
    fp = per_price.withColumn("prefix_min", F.min("min_size").over(w))
    got = {
        r.id
        for r in df.join(fp, "price")
        .filter(
            (F.col("size") == F.col("min_size"))
            & (F.col("prefix_min").isNull() | (F.col("size") < F.col("prefix_min")))
        )
        .collect()
    }
    brute = {
        i
        for i, p, s in pts
        if not any(
            (p2 <= p and s2 <= s and (p2 < p or s2 < s)) for _, p2, s2 in pts
        )
    }
    assert got == brute
    # the duplicate pair must share a fate: both in or both out
    assert (200 in got) == (201 in got)


def test_keyed_diff_classification(spark):
    """added/removed/modified/unchanged classification incl. the
    value-becomes-NULL edge (null-safe comparison)."""
    from data_ingestors_spark.operators.joins import keyed_diff

    old = spark.createDataFrame(
        [(1, 10), (2, 20), (3, None), (4, 40)], "k long, v int"
    )
    new = spark.createDataFrame(
        [(2, 21), (3, None), (4, None), (5, 50)], "k long, v int"
    )
    got = {r.k: r.status for r in keyed_diff(old, new, ["k"], ["v"]).collect()}
    assert got == {
        1: "removed",
        2: "modified",
        3: "unchanged",   # NULL == NULL under null-safe compare
        4: "modified",    # value became NULL
        5: "added",
    }


def test_grouped_digest_quantiles(spark):
    """Per-group digest quantiles must land within the rank-error
    bound of each group's exact CDF, including a hot group that spans
    many partitions."""
    import numpy as np

    rows = (
        [("a", float(i)) for i in range(2000)]      # hot group
        + [("b", float(i * 10)) for i in range(100)]  # small group
    )
    from data_ingestors_spark.operators.digest import grouped_digest_quantiles

    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    got = {
        (r.k, r.q): r.est
        for r in grouped_digest_quantiles(df, "k", "v", [0.25, 0.5, 0.9], b=64).collect()
    }
    for (k, n, scale) in [("a", 2000, 1.0), ("b", 100, 10.0)]:
        vals = np.arange(n) * scale
        for q in [0.25, 0.5, 0.9]:
            est = got[(k, q)]
            rank = (vals <= est).sum() / n
            assert abs(rank - q) <= 2.5 / 64 + 1.0 / n, (k, q, est, rank)


def test_ewma_matches_bruteforce(spark):
    """The window+HOF EWMA must equal the truncated normalized EWMA
    computed in pure python on a random per-user series."""
    import random
    from datetime import datetime, timedelta

    from data_ingestors_spark.queries.statistics import _EWMA_ALPHA, _EWMA_SPAN

    rng = random.Random(13)
    rows = []
    for u in (1, 2):
        for i in range(35):
            rows.append(
                (u * 1000 + i, datetime(2024, 1, 1) + timedelta(minutes=i), u, "x",
                 round(rng.uniform(-5, 5), 3), "{}")
            )
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.createOrReplaceTempView("__ewma_src")

    # reuse the query body against the in-memory frame via the same ops
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from data_ingestors_spark.functions.rounding import fround

    half = 1.0 - _EWMA_ALPHA
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-(_EWMA_SPAN - 1), 0)
    ev = df.withColumn("vals", F.collect_list("value").over(w))
    num = F.expr(
        f"""CAST(aggregate(
              zip_with(vals, sequence(size(vals) - 1, 0, -1),
                       (v, e) -> v * pow({half}, e)),
              CAST(0 AS DECIMAL(30,10)),
              (acc, x) -> CAST(acc + CAST(x AS DECIMAL(30,10)) AS DECIMAL(30,10))) AS DOUBLE)"""
    )
    den = F.lit(1.0) - F.pow(F.lit(half), F.size("vals"))
    got = {
        r.event_id: r.ewma
        for r in ev.select(
            "event_id", fround(F.lit(_EWMA_ALPHA) * num / den, 6).alias("ewma")
        ).collect()
    }

    # brute force per user
    by_user = {}
    for eid, ts, u, _t, v, _p in rows:
        by_user.setdefault(u, []).append((ts, eid, v))
    for u, seq in by_user.items():
        seq.sort()
        vals = [v for _, _, v in seq]
        for i, (_, eid, _) in enumerate(seq):
            window = vals[max(0, i - _EWMA_SPAN + 1): i + 1]
            m = len(window)
            num_b = sum(x * (half ** (m - 1 - j)) for j, x in enumerate(window))
            den_b = sum(half ** j for j in range(m))
            expect = num_b / den_b
            assert abs(got[eid] - expect) < 1e-6, (eid, got[eid], expect)


# --- Bloom-filter semi-join prefilter ----------------------------------


def test_bloom_semi_join_exact_and_prunes(spark):
    """bloom_semi_join must equal the plain semi join bit-for-bit, and
    the broadcast filter must actually drop non-matching rows before
    the exact join (the whole point of the operator)."""
    from data_ingestors_spark.operators.joins import (
        bloom_build,
        bloom_might_contain_sql,
        bloom_semi_join,
    )

    keys = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    big = spark.range(0, 20000).select(
        F.pmod(F.col("id") * 13 + 1, F.lit(40000)).alias("k"),
        F.col("id").alias("v"),
    )
    got = sorted(tuple(r) for r in bloom_semi_join(big, keys, "k").collect())
    want = sorted(
        tuple(r) for r in big.join(keys.distinct(), "k", "left_semi").collect()
    )
    assert got == want and got  # exact + non-trivial

    # membership: every true member passes; FPR on non-members is tiny
    bf = bloom_build(keys, "k")
    pred = bloom_might_contain_sql("k", 1 << 17, 5)
    members = keys.crossJoin(F.broadcast(bf)).where(F.expr(pred)).count()
    assert members == 500  # no false negatives, ever
    non = spark.range(0, 10000).select((F.col("id") * 7 + 3).alias("k"))
    fp = non.crossJoin(F.broadcast(bf)).where(F.expr(pred)).count()
    assert fp / 10000 < 0.01  # m/n = 262 -> FPR ~ 0


def test_bloom_build_rejects_bad_m(spark):
    from data_ingestors_spark.operators.joins import bloom_build

    with pytest.raises(ValueError):
        bloom_build(spark.range(3).select(F.col("id").alias("k")), "k", m_bits=100)


# --- weighted median / Holt / sequence lift sanity ----------------------


def test_weighted_median_matches_bruteforce(spark):
    """Lower-weighted-median rule against a pure-Python fold."""
    import random

    rng = random.Random(7)
    rows = [
        (grp, round(rng.uniform(1, 100), 2), rng.randint(1, 9))
        for grp in ("a", "b")
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, price double, w int")

    from pyspark.sql import Window

    per = df.groupBy("g", "price").agg(F.sum("w").alias("w"))
    wcum = Window.partitionBy("g").orderBy("price")
    tot = Window.partitionBy("g")
    got = {
        r["g"]: r["m"]
        for r in per.select(
            "g",
            "price",
            F.sum("w").over(wcum).alias("cum"),
            F.sum("w").over(tot).alias("total"),
        )
        .filter(2 * F.col("cum") >= F.col("total"))
        .groupBy("g")
        .agg(F.min("price").alias("m"))
        .collect()
    }

    for grp in ("a", "b"):
        vals = sorted((p, w) for g, p, w in rows if g == grp)
        total = sum(w for _, w in vals)
        cum = 0
        for p, w in vals:
            cum += w
            if 2 * cum >= total:
                assert got[grp] == p, (grp, got[grp], p)
                break


def test_holt_recursion_matches_bruteforce(spark):
    """The applyInPandas Holt recursion equals a scalar Python loop."""
    from data_ingestors_spark.queries.statistics import (
        _HOLT_ALPHA,
        _HOLT_BETA,
        q_holt_linear,
    )

    sf = "/root/testdata/sf0.001"
    out = {r["day"]: (r["level"], r["trend"]) for r in q_holt_linear(spark, sf).collect()}

    import duckdb

    con = duckdb.connect()
    daily = con.execute(
        "SELECT CAST(o_orderdate AS DATE) AS day,"
        " CAST(sum(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE) AS rev"
        f" FROM '{sf}/orders.parquet' GROUP BY 1 ORDER BY 1"
    ).fetchall()
    level = trend = 0.0
    for i, (day, x) in enumerate(daily):
        if i == 0:
            level, trend = x, 0.0
        else:
            prev = level
            level = _HOLT_ALPHA * x + (1 - _HOLT_ALPHA) * (level + trend)
            trend = _HOLT_BETA * (level - prev) + (1 - _HOLT_BETA) * trend
        import math

        gl = math.floor(level * 100 + 0.5) / 100
        gt = math.floor(trend * 10000 + 0.5) / 10000
        assert out[day] == (gl, gt), (day, out[day], (gl, gt))


def test_bloom_semi_join_empty_keys(spark):
    """An empty key set must yield an empty (not erroring) result."""
    from data_ingestors_spark.operators.joins import bloom_semi_join

    keys = spark.range(0).select(F.col("id").alias("k"))
    big = spark.range(100).select(F.col("id").alias("k"))
    assert bloom_semi_join(big, keys, "k").count() == 0


# --- late-r6 batch: planning / SCD2 / quantization / blocking -----------


def test_file_binpack_bins_bounded(spark):
    """No bin exceeds target + one max-file (running-total fill
    invariant), and total bytes are conserved across bins."""
    from data_ingestors_spark.queries.planning import (
        _BINPACK_ROW_BYTES,
        _BINPACK_TARGET,
        q_file_binpack,
    )

    sf = "/root/testdata/sf0.001"
    bins = q_file_binpack(spark, sf).collect()
    inv = (
        spark.read.parquet(f"{sf}/lineitem.parquet")
        .groupBy("l_suppkey")
        .count()
        .select((F.col("count") * _BINPACK_ROW_BYTES).alias("b"))
        .agg(F.sum("b").alias("total"), F.max("b").alias("biggest"))
        .collect()[0]
    )
    assert sum(r["total_bytes"] for r in bins) == inv["total"]
    for r in bins:
        assert r["total_bytes"] < _BINPACK_TARGET + inv["biggest"], r


def test_scd2_intervals_contiguous(spark):
    """Per customer: version intervals chain (valid_to == next
    valid_from), only the last is open, and n_events covers every
    order."""
    from collections import defaultdict

    from data_ingestors_spark.queries.advanced import q_scd2_build

    sf = "/root/testdata/sf0.001"
    rows = q_scd2_build(spark, sf).collect()
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r["custkey"]].append(r)
    n_orders = spark.read.parquet(f"{sf}/orders.parquet").count()
    assert sum(r["n_events"] for r in rows) == n_orders
    for cust, vs in by_cust.items():
        vs.sort(key=lambda r: r["version"])
        assert [v["version"] for v in vs] == list(range(1, len(vs) + 1))
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"], (cust, a, b)
            assert a["priority"] != b["priority"], (cust, a, b)
        assert vs[-1]["valid_to"] is None


def test_int8_quant_error_bounded(spark):
    """Affine int8 round-to-nearest: per-dim worst error <= scale/2
    (+1 ulp slack)."""
    from data_ingestors_spark.queries.text_corpus import q_int8_quant_audit

    rows = q_int8_quant_audit(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 64
    for r in rows:
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-9, r
        assert r["mse"] <= (r["scale"] / 2) ** 2 + 1e-12, r


def test_incremental_dedup_index_path_matches_relational(spark, tmp_path):
    """The bucketed-index incremental dedup report must be row-for-row
    identical to the oracle-paired relational registry query on the
    same corpus/batch split, and its index read must prune to the
    batch's touched buckets only (PartitionFilters, no full scan)."""
    from data_ingestors_spark.operators.dedup import (
        build_fingerprint_index,
        incremental_dedup_report,
    )
    from data_ingestors_spark.queries.base import tables
    from data_ingestors_spark.queries.text_audits import q_incremental_dedup

    sf_dir = "/root/testdata/sf0.001"
    docs = tables(spark, sf_dir, "documents")["documents"]
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    idx_path = str(tmp_path / "fp_index")
    build_fingerprint_index(spark, idx_path, corpus, n_buckets=16)

    got = incremental_dedup_report(spark, idx_path, batch, n_buckets=16)
    want = q_incremental_dedup(spark, sf_dir)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]

    # touched-buckets-only proof: the index scan carries a partition
    # filter on the bucket column — directory pruning, not a data scan
    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    i = plan.index("PartitionFilters")
    assert "__bucket" in plan[i : i + 300]

    # an empty (absent) index treats every batch row as novel
    got_empty = incremental_dedup_report(
        spark, str(tmp_path / "missing"), batch, n_buckets=16
    ).agg(F.sum("n_dup_corpus")).collect()[0][0]
    assert got_empty == 0


def test_whale_basket_cap_bounds_fanout(spark, tmp_path):
    """One customer buying EVERY part (the degenerate whale) must not
    turn the per-basket O(k²)/O(k³) fan-outs quadratic: the
    MAX_BASKET_ITEMS cap drops the whale and every basket query
    completes bounded, with the small baskets' results intact."""
    from data_ingestors_spark.operators import baskets
    from data_ingestors_spark.operators.baskets import cap_baskets
    from data_ingestors_spark.queries import analytics as A
    from data_ingestors_spark.queries import analytics_stats as AS
    from data_ingestors_spark.queries import graph as G

    # whale: customer 1 / order 1 holds 80 distinct parts; the sane
    # baskets are orders 2-4 (3 parts each, shared across customers)
    rows = [(1, p) for p in range(1, 81)]
    for ok, parts in ((2, [1, 2, 3]), (3, [1, 2, 3]), (4, [2, 3, 4])):
        rows += [(ok, p) for p in parts]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    od = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3), (4, 4)], "o_orderkey long, o_custkey long"
    )
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    od.write.parquet(str(tmp_path / "orders.parquet"))

    import unittest.mock as mock

    with mock.patch.object(baskets, "MAX_BASKET_ITEMS", 10):
        pairs = A.q_copurchase_pairs(spark, str(tmp_path)).collect()
        cos = AS.q_item_cosine(spark, str(tmp_path)).collect()
        rules = AS.q_assoc_rules(spark, str(tmp_path)).collect()
        triples = AS.q_copurchase_triples(spark, str(tmp_path)).collect()
        tri = G.q_triangle_count(spark, str(tmp_path)).collect()[0]
    # the whale contributed nothing: no pair involves parts > 4, and
    # the fan-out stayed at C(3,2) per sane basket
    assert pairs and all(r.part_b <= 4 for r in pairs)
    assert cos and all(r.part_b <= 4 for r in cos)
    assert rules and all(r.consequent <= 4 for r in rules)
    assert all(r.part_c <= 4 for r in triples)
    # (1,2,3) is the only triple with support >= the Apriori floor
    assert [(r.part_a, r.part_b, r.part_c) for r in triples] == [(1, 2, 3)]
    # co-purchase graph: only {1,2,3} has support-2 edges; uncapped, the
    # whale would lift (2,4) and (3,4) to support 2 (2 triangles, 5 edges)
    assert (tri.n_triangles, tri.n_edges) == (1, 3)
    # uncapped, the whale dominates: the guard is what excluded it
    whale_pairs = cap_baskets(li, "l_orderkey")
    assert whale_pairs.count() == li.count()  # cap off -> nothing dropped



@pytest.mark.parametrize("directed", [False, True])
@pytest.mark.parametrize("min_support", [1, 2])
def test_basket_pairs_null_keys_match_duckdb(spark, directed, min_support):
    """A null basket key or a null item never forms a pair: the
    ``basket_pairs`` fan-out matches the DuckDB self-join on a frame
    with a null basket, a null item and one item in two baskets."""
    import duckdb
    import pyarrow as pa

    from data_ingestors_spark.operators.baskets import basket_pairs

    rows = [
        (1, 10), (1, 20),           # item 10 sits in baskets 1 and 2
        (2, 10), (2, 20), (2, 30),
        (None, 10), (None, 20),     # null basket: would lift (10, 20) to 3
        (3, None), (3, 10),         # null item: would pair with 10
    ]
    items = spark.createDataFrame(rows, "basket long, item long")
    got = {
        tuple(r)
        for r in basket_pairs(
            items, "basket", "item", min_support=min_support, directed=directed
        ).collect()
    }
    con = duckdb.connect()
    con.register(
        "items",
        pa.table({
            "basket": pa.array([b for b, _ in rows], pa.int64()),
            "item": pa.array([i for _, i in rows], pa.int64()),
        }),
    )
    op = "<>" if directed else "<"
    want = set(con.execute(
        "SELECT a.item, b.item, count(*) FROM items a JOIN items b"
        f" ON a.basket = b.basket AND a.item {op} b.item"
        f" GROUP BY 1, 2 HAVING count(*) >= {min_support}"
    ).fetchall())
    assert got == want
    undirected = {(10, 20): 2} if min_support == 2 else {
        (10, 20): 2, (10, 30): 1, (20, 30): 1
    }
    expect = dict(undirected)
    if directed:
        expect.update(((b, a), n) for (a, b), n in undirected.items())
    assert got == {(a, b, n) for (a, b), n in expect.items()}

def test_supplier_price_outliers_ignores_null_supplier(spark, tmp_path):
    """A null-``l_suppkey`` line is no second supplier: a part with one
    real supplier plus such a line has no cross-supplier ratio and stays
    out, as under the oracle's ``count(DISTINCT l_suppkey)``."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_ingestors_spark.queries.analytics_trade import (
        O_SUPPLIER_PRICE_OUTLIERS,
        q_supplier_price_outliers,
    )

    # part 1: supplier 10 plus a null-supplier line; part 2: suppliers 20, 21
    path = tmp_path / "lineitem.parquet"
    pq.write_table(
        pa.table({
            "l_partkey": pa.array([1, 1, 2, 2], pa.int64()),
            "l_suppkey": pa.array([10, None, 20, 21], pa.int64()),
            "l_extendedprice": [100.0, 300.0, 50.0, 80.0],
            "l_quantity": [1.0, 1.0, 1.0, 1.0],
        }),
        path,
    )
    got = {
        (r.l_partkey, r.l_suppkey)
        for r in q_supplier_price_outliers(spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{path}'")
    want = {r[:2] for r in con.execute(O_SUPPLIER_PRICE_OUTLIERS).fetchall()}
    assert got == want == {(2, 20), (2, 21)}


def test_blocking_audit_lossless_on_fixture(spark):
    """FastSS 1-deletion blocking retains every true distance-1 pair
    on the customer fixture (pair completeness 1.0) while pruning the
    overwhelming majority of the n^2 pairs."""
    from data_ingestors_spark.queries.text_corpus import q_blocking_audit

    r = q_blocking_audit(spark, "/root/testdata/sf0.001").collect()[0]
    assert r["n_found"] == r["n_true"]
    assert r["pair_completeness"] == 1.0
    # sequential Customer#NNN names are an adversarially dense fixture
    # (most pairs differ in a couple of digits), and the audit's
    # deterministic %10 ground-truth sample keeps only 15 rows at
    # sf0.001 — those all share most digits, so blocking can prune
    # only the minority of this tiny quadratic space. The sample and
    # the blocking are both deterministic, so PIN the exact counts:
    # any relaxation of the pruning (or the sample) moves these.
    assert r["n_records"] == 15
    assert r["n_total_pairs"] == 105
    assert r["n_candidates"] == 72
    assert r["n_true"] == 60
    assert r["reduction_ratio"] == 0.314286


@pytest.mark.parametrize(
    ("mask_vocab_limit", "n_docs"),
    [
        (4096, 40),  # vocab 67 > 64: nw=2 scalar mask columns (r9: spans
        #              the word boundary, exercising the multi-word
        #              min-common dedup + the bit-63 overflow-free low mask)
        (4096, 30),  # vocab 50 <= 64: nw=1 scalar-long masks + min-common dedup
        (0, 40),  # forced open-vocabulary array-intersect path
    ],
)
def test_prefix_filter_lossless_open_vocab(spark, mask_vocab_limit, n_docs):
    """Prefix-prefix candidate join must find EVERY pair with Jaccard
    >= t on an open-vocabulary corpus (each doc also carries unique
    tokens, so prefixes genuinely prune) — verified against the
    brute-force all-pairs scan, on ALL THREE verify strategies
    (scalar-long bitmask when vocab <= 64, array bitmask when vocab
    <= limit, array-intersect open path forced with limit=0)."""
    import itertools

    from data_ingestors_spark.operators.dedup import prefix_filter_pairs

    docs = [
        (i, " ".join(["common%d" % (k % 7) for k in range(i, i + 8)]
                     + ["uniq%dx%d" % (i, j) for j in range(i % 4)]))
        for i in range(n_docs)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    t = 0.6
    got = {(r.id_a, r.id_b) for r in
           prefix_filter_pairs(df, "text", "doc_id", threshold=t,
                               mask_vocab_limit=mask_vocab_limit).collect()}
    sets = {i: set(s.split()) for i, s in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter and inter / len(sets[a] | sets[b]) >= t:
            want.add((a, b))
    assert got == want
    assert want  # non-vacuous


def test_fingerprint_index_multi_batch_cumulative(spark, tmp_path):
    """A fingerprint seen across batches keeps CORPUS-CUMULATIVE stats
    — min(first_doc_id), sum(n_docs), max(max_nc) — not the latest
    batch's values (the bare upsert is batch-wins and would reset
    them; r8 ADVICE)."""
    from data_ingestors_spark.operators.dedup import build_fingerprint_index

    idx_path = str(tmp_path / "fp_idx")
    # "Hello  World!" and "hello world" normalize to the same
    # fingerprint but differ in raw length (13 vs 11) — max_nc must be
    # the max across batches, first_doc_id the min (3 < 5)
    b1 = spark.createDataFrame(
        [(5, "Hello  World!"), (7, "only batch one")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, "hello world"), (9, "only batch two")], "doc_id long, text string"
    )
    build_fingerprint_index(spark, idx_path, b1, n_buckets=8)
    build_fingerprint_index(spark, idx_path, b2, n_buckets=8)
    rows = spark.read.parquet(idx_path).collect()
    assert len(rows) == 3
    shared = [r for r in rows if r["n_docs"] == 2]
    assert len(shared) == 1, rows
    assert shared[0]["first_doc_id"] == 3
    assert shared[0]["max_nc"] == 13
    singles = {r["first_doc_id"]: r["n_docs"] for r in rows if r["n_docs"] == 1}
    assert singles == {7: 1, 9: 1}
