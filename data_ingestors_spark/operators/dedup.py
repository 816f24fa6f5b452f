"""Deduplication operators for training-data pipelines.

Exact, normalized-exact, MinHash+LSH, SimHash, and n-gram Jaccard
near-dup — all expressed as DataFrame programs:

- candidate generation is always *bucketed* (hash group / LSH band
  join), never all-pairs: at 100 TB an O(n²) similarity join is
  impossible; LSH keeps it at O(n · bands) with a shuffle per band
  join. Verification runs only on bucket-collision candidates.
- hash functions are Spark's deterministic Murmur3 (``hash``) and
  xxhash64 (``xxhash64``) with integer seed columns — reproducible
  across runs and executors, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_ingestors_spark.functions.rounding import fround
from data_ingestors_spark.operators.pairs import (
    candidate_pairs,
    jaccard_verify,
    minhash_bands,
    pair_payload,
)

# --- exact -------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct text, keeping
    the smallest id (deterministic, unlike dropDuplicates)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def normalize_text(c) -> "F.Column":
    """Canonical text form: lowercase, non-alphanumerics collapsed to
    single spaces, trimmed. Shared by normalized dedup + fingerprint."""
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def normalized_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup after canonicalization (case / punctuation /
    whitespace insensitive)."""
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("content_hash"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


# --- MinHash + LSH ------------------------------------------------------


def let_bound(expr, build) -> "F.Column":
    """Let-binding for Spark SQL expressions: evaluate ``expr`` ONCE per
    row and pass it to ``build`` as a higher-order-function lambda
    variable. Referencing a non-trivial expression inside a HOF lambda
    body re-evaluates its whole subtree per array element (Catalyst
    does no subexpression elimination inside interpreted lambdas) — a
    measured O(words²) blow-up for shingling. Wrapping the expression
    in a 1-element array and transforming over it makes it a cheap
    lambda-variable reference instead."""
    return F.get(F.transform(F.array(expr), build), 0)


def shingle_docs(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc_id, shingles) where each shingle is the **xxhash64 of its n
    words** (array<long>), with the tokenization materialized ONCE per
    doc — the split/normalize regex must not be re-evaluated per
    shingle index (an O(words²) regex trap; see ``let_bound``).

    Hashing at shingle-construction time (instead of building
    concatenated shingle STRINGS) is the difference between a string
    allocation + copy per (doc × shingle) and three O(1) array probes
    + one 64-bit mix — measured ~3× on the whole MinHash pipeline at
    sf0.1, and the long arrays also make the exact-verify
    ``array_intersect`` integer comparisons. Set-resolution effect:
    two distinct shingles collide with p ≈ |A|·|B| / 2⁶⁴ per pair —
    irrelevant to any realistic Jaccard threshold."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    if n == 1:
        sh = F.array_distinct(F.transform(words, lambda w: F.xxhash64(w)))
    else:
        def build(ws):
            # 0-based F.get: out-of-range probes on docs shorter than n
            # words yield NULL, which xxhash64 skips — no ANSI
            # INVALID_ARRAY_INDEX, short docs get one truncated shingle
            idx = F.sequence(F.lit(0), F.greatest(F.size(ws) - n, F.lit(0)))
            return F.array_distinct(
                F.transform(
                    idx,
                    lambda i: F.xxhash64(*[F.get(ws, i + j) for j in range(n)]),
                )
            )
        sh = let_bound(words, build)
    return df.select(F.col(id_col).alias("doc_id"), sh.alias("shingles")).filter(
        F.size("shingles") > 0
    )


def _materialize(df: DataFrame) -> DataFrame:
    """persist + eager count barrier. The LSH plans below reference the
    shingled/signature frames from several join branches; a *lazy*
    persist lets those branches race to populate the cache inside one
    job (duplicate evaluation, 'Block already exists' churn). An eager
    count materializes once, and every branch reads the cache."""
    df = df.persist()
    df.count()
    return df


def _minhash_sig_expr(num_hashes: int) -> "F.Column":
    """The 32-seed min-hash fan-out over a *materialized* ``shingles``
    column. MUST be evaluated on top of a persisted shingled frame: a
    cache boundary becomes an InMemoryRelation, which CollapseProject
    cannot inline through — otherwise Catalyst re-inlines the shingle
    regex/split construction into every seed's array_min and each doc
    is re-tokenized num_hashes× (a measured 150× blow-up)."""
    def seed_min(i: int) -> "F.Column":
        # NB: the lambda must take exactly ONE parameter. PySpark picks
        # the (element, index) HOF form by lambda ARITY, so the
        # once-tempting `lambda s, i=i:` default-arg closure silently
        # rebinds i to the element-index variable — every seed then
        # computes hash(s, position) and all 32 signature components
        # collapse to the seed-0 value (found via the streaming
        # near-dup index; regression-tested below).
        return F.array_min(F.transform(F.col("shingles"), lambda s: F.hash(s, F.lit(i))))

    return F.array(*[seed_min(i) for i in range(num_hashes)])


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: for each seed, the min Murmur3 hash
    over the doc's shingle set. All JVM-side higher-order functions.

    The shingled frame is persisted before the seed fan-out (see
    ``_minhash_sig_expr``); at cluster scale swap ``persist()`` for a
    reliable checkpoint if executor loss during the build is a concern.
    """
    shingled = _materialize(shingle_docs(df, text_col, id_col, shingle_n))
    return shingled.select("doc_id", "shingles", _minhash_sig_expr(num_hashes).alias("signature"))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verification.

    shingle → minhash → band → bucket self-join → verify. Bands of
    r = num_hashes/bands rows; docs colliding in ≥1 band become
    candidates; candidates are verified with exact Jaccard on shingle
    sets so the output has no false positives (recall is the usual LSH
    probability 1-(1-t^r)^b).
    """
    # Two small cached frames: shingles (reused by exact verify) and
    # signatures (reused by band join + estimate prune). The persist
    # boundary on shingled is load-bearing — see _minhash_sig_expr —
    # and both are materialized eagerly so the downstream join
    # branches read the cache instead of racing to populate it.
    shingled = _materialize(shingle_docs(df, text_col, id_col, shingle_n))
    sigs = _materialize(
        shingled.select("doc_id", _minhash_sig_expr(num_hashes).alias("signature"))
    )

    # Stage 1 — candidate ids from the band join.
    cand = candidate_pairs(minhash_bands(sigs, num_hashes, bands), ["band", "bucket"], "doc_id")

    # Stage 2 — cheap signature-based Jaccard estimate (fraction of
    # equal minhash components) prunes the band join's false positives
    # before any shingle array moves.
    est_eq = F.size(
        F.filter(F.zip_with("signature_a", "signature_b", lambda x, y: x == y), lambda b: b)
    ) / F.lit(float(num_hashes))
    est = (
        pair_payload(cand, sigs, "doc_id", "signature")
        .withColumn("est_j", est_eq)
        .filter(F.col("est_j") >= threshold - 0.2)
        .select("id_a", "id_b")
    )

    # Stage 3 — exact verification on the survivors only.
    return jaccard_verify(pair_payload(est, shingled, "doc_id", "shingles"), threshold)


# --- SimHash ------------------------------------------------------------


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document — fully per-row, ZERO shuffle.

    tokens → one xxhash64 per token → per-bit signed vote vector via an
    ``aggregate`` HOF → recombine with a literal powers-of-two array.
    Every intermediate (tokens, hashes, votes) is referenced exactly
    once, so Catalyst's projection collapsing evaluates each one once
    per row; in particular each token is hashed once, not ``bits``×.
    No explode and no groupBy: at 100 TB this stays embarrassingly
    parallel over input splits.
    """
    toks = F.filter(F.split(normalize_text(F.col(text_col)), " "), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bitseq = F.sequence(F.lit(0), F.lit(bits - 1))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            bitseq,
            lambda v, i: v
            + F.when(
                F.call_function("shiftright", h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        ),
    )
    # bit i contributes 2^i when its vote is positive; i=63 contributes
    # Long.MIN_VALUE (two's complement), matching signed 64-bit packing.
    powers = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(bits)]
    )
    sim = F.aggregate(
        F.zip_with(votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), sim.alias("simhash"), F.size(toks).alias("_nt"))
        .filter(F.col("_nt") > 0)
        .select("doc_id", "simhash")
    )


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into ``max_hamming + 1``
    disjoint keys of ``64 // (max_hamming + 1)`` bits (pigeonhole: hamming
    ≤ max_hamming ⇒ at least one identical band), bucket-join, verify
    exact Hamming distance."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_bands = max_hamming + 1
    width = 64 // n_bands
    mask = (1 << width) - 1 if width < 64 else -1
    # eager persist: the self-join would otherwise evaluate the per-doc
    # simhash HOF chain twice (once per side) or race the cache.
    sh = _materialize(simhash(df, text_col, id_col))
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    # not candidate_pairs: the simhash rides in the join, so no verify join
    right = bands.select(
        F.col("band").alias("band_r"),
        F.col("key").alias("key_r"),
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sim_b"),
    )
    cand = (
        bands.join(
            right,
            (F.col("band") == F.col("band_r"))
            & (F.col("key") == F.col("key_r"))
            & (F.col("doc_id") < F.col("id_b")),
        )
        .select(F.col("doc_id").alias("id_a"), "id_b", "simhash", "sim_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("simhash").bitwiseXOR(F.col("sim_b")))
    return cand.select("id_a", "id_b", hamming.cast("int").alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# --- n-gram Jaccard (bounded candidate set) ----------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    strategy: str = "auto",
) -> DataFrame:
    """Exact word-set Jaccard over a *blocked* candidate set (pairs
    sharing ``block_col``). Two physical strategies behind one
    contract, chosen from block statistics like a cost-based optimizer
    (``strategy="auto"``; force with "index" / "bitmask"):

    **Inverted index** (the unbounded-vocabulary scale path; r12:
    PREFIX-FILTERED): only each set's rarest ``sz − ceil(t·sz) + 1``
    tokens are indexed (the lossless Bayardo rule, see
    :func:`_jaccard_pairs_index`), candidates equi-join on
    (block, prefix token) and verify exactly via array_intersect.
    Cost grows with Σ df_prefix² — head stopwords never enter the
    index, which is what keeps Zipfian (real) text linear; the
    pre-r12 full-token index was quadratic there (docstring of
    _jaccard_pairs_index has the measurement).

    **Bitmask** (the bounded-vocabulary fast path): per-block word ids
    → each doc's word set packed into nw SCALAR LONG mask columns →
    block-local pair join computes the intersection as
    ``Σ bit_count(ma_k & mb_k)`` — whole-stage-codegen'd integer ops,
    no per-word rows at all (r9: the masks were an ``array<long>``
    whose per-pair HOF folds ran interpreted — the same trap fixed in
    prefix_filter_pairs; scalar columns measured 33.8 s → 3.8 s on the
    10× sf1). Exact same output.

    Strategy choice (``auto``) is a measured COST MODEL, not a fixed
    bound: both paths' dominant cost is the rows their join
    materializes — Σ C(n_b, 2) candidates for the bitmask,
    Σ_(block,w) df² intermediate rows for the index (since r12 a
    LOOSE upper bound: prefix filtering indexes only the rare tail,
    so the real index cost is Σ df_prefix² ≤ Σ df² — the model can
    only err toward the bitmask, whose estimate stays exact) — so
    auto picks the smaller (requiring the per-block vocab to pack
    into ≤16 longs for the bitmask to be feasible at all). On the dense
    benchmark corpus the bitmask side wins at every scale measured
    (622k vs 77M at sf0.1, 62.5M vs 770M at the 10× sf1); a truly
    open vocabulary fails the ≤1024 gate and uses the index.

    Blocking bounds the candidate set; for unblocked corpora use
    minhash_near_duplicates.
    """
    words = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(block_col).alias("block"), words.alias("words")
    )
    tok = base.select("doc_id", "block", F.explode("words").alias("w"))

    dft_shared = None
    if strategy == "auto":
        # ONE driver-blocking sizing action (r10, ADVICE): the per-block
        # vocab/df² stats and the per-block doc counts are joined on
        # block and folded into a single final aggregate, so the cost
        # model costs one job instead of two corpus scans with two
        # collects. Left join from the doc side: blocks whose docs all
        # tokenize to empty word sets vanish from tok but still
        # contribute candidate pairs.
        # r12: the per-(block, word) frame is MATERIALIZED so that when
        # auto routes to the index path, the global df order the prefix
        # filter needs derives from it by one bounded re-aggregation —
        # the pre-r12 form re-scanned and re-tokenized the whole corpus
        # for a second frequency pass (measured 42 s of the 500k-doc
        # natural-tier run).
        blk_df = _materialize(
            tok.groupBy("block", "w").agg(F.count("*").alias("df"))
        )
        per_block_vocab = (
            blk_df.groupBy("block")
            .agg(
                F.count("*").alias("v"),
                F.sum(F.col("df") * F.col("df")).alias("df2"),
            )
        )
        per_block_docs = base.groupBy("block").agg(F.count("*").alias("ndocs"))
        stats = (
            per_block_docs.join(per_block_vocab, "block", "left")
            .agg(
                F.max("v").alias("max_vocab"),
                F.sum("v").alias("total_vocab"),
                F.sum("df2").alias("df2"),
                F.sum(F.col("ndocs") * (F.col("ndocs") - 1) / 2).alias("npairs"),
            )
            .collect()[0]
        )
        npairs = stats["npairs"] or 0
        if (
            stats["max_vocab"] is not None
            and stats["max_vocab"] <= 1024
            and npairs <= float(stats["df2"] or 0)
        ):
            # reuse the stats job's max vocab — no second sizing job.
            # The *per-block* vocab bound says nothing about the TOTAL
            # (block, word) row count — millions of small blocks would
            # blow a forced broadcast — so the explicit hint is gated on
            # the total from the same stats job; past it, AQE picks the
            # join strategy from runtime sizes.
            return _jaccard_pairs_bitmask(
                tok,
                threshold,
                max_vocab=int(stats["max_vocab"]),
                broadcast_vocab=(stats["total_vocab"] or 0) <= 2_000_000,
            )
        strategy = "index"
        dft_shared = blk_df.groupBy("w").agg(F.sum("df").alias("df"))
    if strategy == "bitmask":
        return _jaccard_pairs_bitmask(tok, threshold)
    return _jaccard_pairs_index(base, threshold, dft=dft_shared)


def _jaccard_pairs_index(
    base: DataFrame, threshold: float, dft: DataFrame | None = None
) -> DataFrame:
    """Blocked inverted index with PREFIX FILTERING (r12).

    The pre-r12 form indexed EVERY token, so its join materialized
    Σ df² rows per (block, word) — on Zipfian text the head tokens
    appear in nearly every document (df ≈ block size), making the
    intermediate quadratic in corpus size AND skewed onto the single
    reducer owning the hottest (block, token) key. Measured on the
    natural tier (tools/make_natural_corpus.py): 50k docs, 8 source
    blocks → one core pegged >15 min, vs 36 s for the same decade on
    the synthetic corpus whose short docs keep df low (the r11
    "index path proven linear" ran there — linear in n only while
    df/n stays constant, which real text violates).

    Fix: only each set's first ``sz − ceil(t·sz) + 1`` tokens under
    the global rarest-first order are indexed (the same lossless
    Bayardo/ssjoin rule :func:`prefix_filter_pairs` proves against
    its exhaustive oracle — any pair with Jaccard ≥ t shares a
    prefix token). Head stopwords land in every doc's SUFFIX, so
    posting lists carry rare tokens and candidate volume collapses
    to Σ df_prefix²; candidates verify exactly against the
    materialized word sets. Output identical (exact verification,
    same rounding); the auto cost model's Σ df² stays a sound (now
    loose) upper bound for this path.

    This is the canonical distributed ssjoin shape (Vernica, Carey &
    Li, "Efficient Parallel Set-Similarity Joins Using MapReduce",
    SIGMOD 2010): prefix-token equi-join for candidates, row-local
    length + positional filters inside the join, pair dedup, exact
    verification against the stored sets — expressed as DataFrame
    joins so Catalyst/AQE own the physical strategy.

    Two physical forms behind the same rule, gated on |vocab| (one
    bounded count over the df frame):

    - **dictionary** (vocab ≤ 2M, broadcastable): words encode to
      int ids ASSIGNED IN RAREST-FIRST ORDER, so ``sort_array`` on a
      doc's id set IS the prefix order — the prefix is ``slice(ids,
      1, plen)`` with no per-document window shuffle at all, the
      candidate join carries ids+ints only, and verification
      intersects ``array<int>`` (~5× lighter per row than the string
      arrays that spilled the 500k-doc local run out of memory).
    - **open vocabulary** (the 100 TB tail: a dictionary too big to
      broadcast or to row_number in one partition): classic form —
      per-document rank window over (global df, token), string-keyed
      prefix join, array_intersect verify on the word arrays."""
    from pyspark.sql import Window

    sz_filter = F.least(F.col("a.sz"), F.col("b.sz")) >= F.ceil(
        F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
    )
    # PPJoin positional filter (Xiao et al., WWW 2008), row-local in
    # the candidate join: a pair meeting Jaccard t needs overlap
    # o = t/(1+t)·(szA+szB); for a shared token at 0-based rarest-
    # first positions (i, j) every common token sits at or after it,
    # so overlap ≤ min(szA−i, szB−j). Filtering rows on that bound is
    # LOSSLESS before the distinct: the pair's MINIMAL common token —
    # inside both prefixes by the Bayardo theorem — satisfies the
    # bound whenever the pair truly qualifies, so at least that
    # generating row always survives. The ε guards float rounding of
    # the (exact-in-theory) threshold product; it can only weaken the
    # filter, never drop a true pair.
    pos_filter = (
        F.least(
            F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
        ).cast("double")
        >= F.lit(threshold / (1.0 + threshold))
        * (F.col("a.sz") + F.col("b.sz")).cast("double")
        - F.lit(1e-9)
    )
    sets = base.withColumn("sz", F.size("words")).filter(F.col("sz") > 0)
    tok_sz = sets.select("doc_id", "block", "sz", F.explode("words").alias("w"))
    # global token frequencies: reuse the auto cost model's per-block
    # frame when provided (one corpus tokenization pass total),
    # otherwise one fresh pass (forced strategy="index")
    dft = _materialize(
        dft
        if dft is not None
        else tok_sz.groupBy("w").agg(F.count("*").alias("df"))
    )
    vocab_n = dft.count()  # bounded stats job: one row per distinct token

    if vocab_n <= 2_000_000:
        # wid 0 = globally rarest token; the window runs over the
        # |vocab|-row df frame, never the corpus
        vocab = dft.select(
            "w", (F.row_number().over(Window.orderBy("df", "w")) - 1).alias("wid")
        )
        docs = _materialize(
            tok_sz.join(F.broadcast(vocab), "w")
            .groupBy("doc_id", "block")
            .agg(F.sort_array(F.collect_list("wid")).alias("ids"))
            .withColumn("sz", F.size("ids"))
        )
        plen = (
            F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        ).cast("int")
        prefix = docs.select(
            "doc_id", "block", "sz",
            F.posexplode(F.slice(F.col("ids"), F.lit(1), plen)).alias("pos", "w"),
        )
        sets = docs.select("doc_id", F.col("ids").alias("words"))
    else:
        sets = _materialize(sets)
        plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        pos_w = Window.partitionBy("doc_id").orderBy("df", "w")
        prefix = (
            tok_sz.join(dft, "w")
            .withColumn("pos", F.row_number().over(pos_w) - 1)  # 0-based
            .filter(F.col("pos") < plen)
            .select("doc_id", "block", "sz", "pos", "w")
        )

    cand = candidate_pairs(prefix, ["block", "w"], "doc_id", where=sz_filter & pos_filter)
    inter = F.size(F.array_intersect("words_a", "words_b")).cast("double")
    j = pair_payload(cand, sets, "doc_id", "words").withColumn(
        "jaccard",
        inter / (F.size("words_a") + F.size("words_b") - inter).cast("double"),
    )
    return (
        j.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", fround(F.col("jaccard"), 6).alias("jaccard"))
    )


def _jaccard_pairs_bitmask(
    tok: DataFrame,
    threshold: float,
    max_vocab: int | None = None,
    broadcast_vocab: bool = True,
) -> DataFrame:
    from pyspark.sql import Window

    vocab = (
        tok.select("block", "w")
        .distinct()
        .withColumn("wid", F.row_number().over(Window.partitionBy("block").orderBy("w")) - 1)
    )
    maxv = max_vocab
    if maxv is None:
        maxv = vocab.groupBy("block").count().agg(F.max("count")).collect()[0][0] or 1
    nw = int((maxv + 63) // 64)
    # the auto path only routes here when max_vocab<=1024 (nw<=16); the
    # FORCED strategy="bitmask" path must honor the same cap — an
    # open-vocabulary corpus (maxv in the tens of thousands) would
    # otherwise generate hundreds of scalar mask columns through the
    # self-join, a plan/codegen blowup the old single array column
    # never hit (r10, ADVICE). Fail loud with the alternative.
    if nw > 16:
        raise ValueError(
            f"bitmask strategy needs {nw} 64-bit mask columns for a "
            f"per-block vocabulary of {maxv} words (cap: 16 columns / "
            "1024 words) — use strategy='index' (inverted-index join) "
            "for open-vocabulary corpora"
        )
    ids = (
        tok.join(F.broadcast(vocab) if broadcast_vocab else vocab, ["block", "w"])
        .groupBy("doc_id", "block")
        .agg(F.collect_list("wid").alias("ids"), F.count("*").alias("sz"))
    )
    # pack word-ids into nw SCALAR LONG columns, never an array: every
    # per-pair op below stays a codegen'd bit op instead of an
    # interpreted HOF fold (r9: the array form re-ran its zip_with +
    # aggregate lambda per CANDIDATE row — 33.8 s vs 3.8 s at the 10×
    # sf1; same fix as prefix_filter_pairs). SQL-expr shiftleft takes
    # a column shift; pyspark's only takes a literal.
    mask_cols = [
        F.expr(
            f"aggregate(filter(ids, i -> CAST(i DIV 64 AS INT) = {k}), 0L, "
            "(acc, i) -> acc | shiftleft(1L, CAST(i % 64 AS INT)))"
        ).alias(f"mask{k}")
        for k in range(nw)
    ]
    # MATERIALIZE the masks before the self-join boundary: left lazy,
    # Catalyst collapses the projection into the join and re-evaluates
    # every mask HOF once per candidate row (the dup_ngram_chars
    # re-evaluation trap at join scale). |docs| rows of longs, serves
    # both sides.
    m = _materialize(ids.select("doc_id", "block", "sz", *mask_cols))
    a = m.select(
        "block",
        F.col("doc_id").alias("id_a"),
        F.col("sz").alias("sz_a"),
        *[F.col(f"mask{k}").alias(f"ma{k}") for k in range(nw)],
    )
    b = m.select(
        F.col("block").alias("block_b"),
        F.col("doc_id").alias("id_b"),
        F.col("sz").alias("sz_b"),
        *[F.col(f"mask{k}").alias(f"mb{k}") for k in range(nw)],
    )
    # not candidate_pairs: a block-only join, the masks ride in it
    pairs = a.join(b, (F.col("block") == F.col("block_b")) & (F.col("id_a") < F.col("id_b")))
    inter = sum(
        F.bit_count(F.col(f"ma{k}").bitwiseAND(F.col(f"mb{k}"))) for k in range(nw)
    ).cast("double")
    j = pairs.withColumn("jaccard", inter / (F.col("sz_a") + F.col("sz_b") - inter))
    return (
        j.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", fround(F.col("jaccard"), 6).alias("jaccard"))
    )


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    mask_vocab_limit: int = 4096,
) -> DataFrame:
    """Exact word-set Jaccard >= ``threshold`` self-join over the
    UNBLOCKED corpus via prefix filtering (Bayardo et al., "Scaling Up
    All Pairs Similarity Search", WWW 2007) — the classic set-
    similarity-join pruning the blocked [ngram_jaccard_pairs] doesn't
    need but an open corpus does.

    Pruning: tokens get a canonical global order (ascending document
    frequency, ties by token — rarest first, so prefixes carry the
    most selective tokens). A set of size s only needs its first
    ``p = s - ceil(t*s) + 1`` tokens indexed: if Jaccard(A,B) >= t
    then |A∩B| >= t*max(|A|,|B|), so the FIRST common token (canonical
    order) must sit inside both prefixes — were it outside A's prefix,
    all common tokens would fit in A's last ceil(t*|A|)-1 positions,
    fewer than the required overlap. The prefix-prefix equi-join is
    therefore LOSSLESS (the registered query's oracle is the
    exhaustive all-pairs scan, proving it empirically too). A length
    filter (min size >= ceil(t * max size)) prunes inside the join.

    Scale shape (100 TB): the only all-to-all operation is an
    equi-join on prefix tokens carrying (doc_id, sz) payloads — ids
    only, never text. Candidate volume is sum(df_prefix²) per token,
    the quantity prefix ordering minimizes by construction (rare
    tokens first). Exact verification is stats-gated on the GLOBAL
    vocabulary size (same dual strategy as [jaccard_pairs]):

    - vocab <= ``mask_vocab_limit`` (default 4096 → mask payload
      <= 64 longs / 512 B per prefix row): each set dictionary-
      encodes to an ``array<long>`` bitmask carried IN the prefix
      join payload, so the exact intersection is a row-local
      ``bit_count(a & b)`` inside the join itself — no second
      verify join, no candidate ``distinct`` (matches dedupe at the
      end, a strictly smaller frame). Measured 81 s → mask path at
      sf0.1 on the 31-word synthetic corpus where the verify join
      dominated (6.5 M candidates x string-array intersects).
    - larger vocab: classic form — candidate ID pairs distinct,
      then exact ``array_intersect`` against the persisted token-set
      frame (the same verify shape as minhash_near_duplicates).

    Output: (id_a, id_b, jaccard).
    """
    from pyspark.sql import Window

    words = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    sets = _materialize(
        df.select(F.col(id_col).alias("doc_id"), words.alias("words"))
        .withColumn("sz", F.size("words"))
        .filter(F.col("sz") > 0)
    )
    tok = sets.select("doc_id", "sz", F.explode("words").alias("w"))
    dft = tok.groupBy("w").agg(F.count("*").alias("df"))
    plen = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    sz_filter = F.least(F.col("a.sz"), F.col("b.sz")) >= F.ceil(
        F.lit(threshold) * F.greatest(F.col("a.sz"), F.col("b.sz"))
    )
    vocab_n = dft.count()  # stats gate: one |vocab|-row agg job
    if vocab_n <= mask_vocab_limit:
        # dictionary-encode: wid ordered by (df asc, w) — prefix order
        # and mask order share the dictionary; the wid window runs on
        # the <=limit-row vocab frame, not the corpus. The mask is nw
        # SCALAR LONG COLUMNS (mask0..mask{nw-1}), never an array:
        # every per-pair op below stays a codegen'd bit op, and the
        # min-common-token dedup applies at ANY nw — the r9 sf1 scale
        # proof measured the earlier array-mask branch (per-element
        # HOF folds + a match-sized distinct) at 48x on 10x data;
        # scalar columns + row-local dedup returned it to ~linear.
        vocab = dft.withColumn(
            "wid", F.row_number().over(Window.orderBy("df", "w")) - 1
        )
        nw = int((vocab_n + 63) // 64)
        enc = tok.join(F.broadcast(vocab), "w")
        pos_w = Window.partitionBy("doc_id").orderBy("wid")
        mask_cols = [
            F.expr(
                f"aggregate(filter(ids, i -> CAST(i DIV 64 AS INT) = {k}), 0L, "
                "(acc, i) -> acc | shiftleft(1L, CAST(i % 64 AS INT)))"
            ).alias(f"mask{k}")
            for k in range(nw)
        ]
        # MATERIALIZE the masks before the explode/join boundary:
        # left lazy, Catalyst collapses this projection into the join
        # output and re-evaluates every mask HOF once per candidate
        # row (measured at sf1: >570 s vs 6 s — the dup_ngram_chars
        # re-evaluation trap at join scale). The persisted frame is
        # |docs| rows of longs and serves both self-join sides.
        docs = _materialize(
            enc.withColumn("pos", F.row_number().over(pos_w))
            .groupBy("doc_id")
            .agg(
                F.first("sz").alias("sz"),
                F.collect_list("wid").alias("ids"),
                F.collect_list(F.when(F.col("pos") <= plen, F.col("wid"))).alias(
                    "pfx"
                ),
            )
            .select("doc_id", "sz", *mask_cols, F.col("pfx"))
        ).select("doc_id", "sz", *[f"mask{k}" for k in range(nw)], F.explode("pfx").alias("w"))
        # not candidate_pairs: the masks ride in the join, and a row-local
        # min-common-token dedup replaces the distinct
        a, b = docs.alias("a"), docs.alias("b")
        joined = a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & sz_filter,
        )
        # each pair appears once per SHARED prefix token; instead of a
        # distinct (a match-sized shuffle), keep only the row whose
        # join token is the pair's MINIMUM common token — the theorem
        # above puts that token inside both prefixes, so every true
        # pair survives exactly once, row-locally: no common bit may
        # sit below w (strictly-lower words all zero, same word masked
        # below the token's bit).
        common = [
            F.col(f"a.mask{k}").bitwiseAND(F.col(f"b.mask{k}")) for k in range(nw)
        ]
        wd = F.expr("CAST(a.w DIV 64 AS INT)")
        # low bits below the token's bit: ~shiftleft(-1L, k), NOT
        # shiftleft(1L, k) - 1 — the latter overflows under ANSI at
        # k = 63 (hit whenever the vocab spans a full word; caught by
        # the r9 sf1 scale run, latent in the old nw=1 path too)
        low = F.expr("~shiftleft(-1L, CAST(a.w % 64 AS INT))")
        below = None
        for k in range(nw):
            term = (
                F.when(F.lit(k) < wd, common[k])
                .when(F.lit(k) == wd, common[k].bitwiseAND(low))
                .otherwise(F.lit(0))
            )
            below = term if below is None else below.bitwiseOR(term)
        inter = sum(F.bit_count(c) for c in common).cast("double")
        j = (
            joined.filter(below == 0)
            .withColumn("jaccard", inter / (F.col("a.sz") + F.col("b.sz") - inter))
            .filter(F.col("jaccard") >= threshold)
        )
        return j.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            fround(F.col("jaccard"), 6).alias("jaccard"),
        )
    # open-vocabulary path: canonical position within each set
    # (global df asc, token asc), ids-only candidates, array verify
    pos_w = Window.partitionBy("doc_id").orderBy("df", "w")
    ordered = tok.join(dft, "w").withColumn("pos", F.row_number().over(pos_w))
    prefix = ordered.filter(F.col("pos") <= plen).select("doc_id", "sz", "w")
    cand = candidate_pairs(prefix, ["w"], "doc_id", where=sz_filter)
    inter = F.size(F.array_intersect("words_a", "words_b")).cast("double")
    j = pair_payload(cand, sets, "doc_id", "words").withColumn(
        "jaccard", inter / (F.size("words_a") + F.size("words_b") - inter)
    )
    return (
        j.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", fround(F.col("jaccard"), 6).alias("jaccard"))
    )


# --- Cluster resolution -------------------------------------------------


def neardup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    *,
    max_iter: int = 20,
    broadcast_labels: bool | None = None,
    smallgraph_edges: int = 2_000_000,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into cluster-level keep/drop
    decisions — the step real corpus dedup needs after any of the pair
    generators above (reference scope: dedup family, SURVEY.md §2.5
    LLM-pipeline row). Connected components: every doc's label
    converges to the smallest doc_id reachable from it; the keeper of
    each cluster is the doc whose label is itself.

    ``ids``: one ``doc_id`` column (the full corpus). ``pairs``:
    ``(id_a, id_b)`` undirected near-dup edges.

    Two physical strategies behind one contract:

    **Small subgraph (≤ ``smallgraph_edges`` edges)** — the common
    case: even on a petabyte corpus the near-dup EDGE set is usually
    millions, not billions. One ``mapInPandas`` task runs classic
    union-find with path compression over the edge list (union-by-min
    keeps each root the component minimum, so the result is identical
    to label propagation, independent of edge order). One task, zero
    iterations, zero shuffles beyond the coalesce.

    **Large subgraph** — iterative min-label propagation (distributed
    union-find). Each round: edge join + pointer-jumping self-join +
    groupBy min, ``localCheckpoint`` cutting lineage. Pointer jumping
    makes the round count LOGARITHMIC in cluster diameter. Per-round
    job count is ONE (the eager checkpoint): the old label rides
    through the min-aggregation in a ``__old`` column, so convergence
    is a filter over the already-materialized checkpoint blocks — no
    separate join-and-count job (that extra job roughly doubled round
    latency in round 3). Duplicate edges are harmless to min-label, so
    the bidirectional edge list is NOT ``distinct()``-ed — pair
    generators emit unique ``id_a < id_b`` rows, and a full shuffle
    just to dedupe them was pure overhead.

    ``broadcast_labels``: the label frame is one row per subgraph
    node — broadcasting it turns both per-round joins into map-side
    hash joins (the big edge set is never shuffled; the only shuffle
    left is the partial-aggregated groupBy min). Auto (None)
    broadcasts when the subgraph has ≤ 2M nodes.
    """
    id_type = pairs.schema["id_a"].dataType
    p = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    n_edges = p.count()  # on checkpointed blocks — no recompute

    if n_edges <= smallgraph_edges:
        labels = _unionfind_single_task(p, id_type)
        nodes = labels.select("doc_id")
    else:
        labels = _minlabel_iterative(p, max_iter, broadcast_labels)
        nodes = labels.select("doc_id")

    clustered = labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("keep"),
    )
    singletons = ids.select("doc_id").join(nodes, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id"), F.lit(True).alias("keep")
    )
    return clustered.unionByName(singletons)


def _unionfind_single_task(p: DataFrame, id_type) -> DataFrame:
    """(doc_id, label) for every edge endpoint via one-task union-find
    with path compression; union-by-min makes each root the component
    minimum — bit-identical to min-label propagation."""
    import pandas as pd

    def uf(pdf_iter):
        parent: dict = {}
        seen: set = set()

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for pdf in pdf_iter:
            for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
                seen.add(a)
                seen.add(b)
                ra, rb = find(a), find(b)
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
        yield pd.DataFrame(
            [(x, find(x)) for x in seen], columns=["doc_id", "label"]
        )

    schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("label", id_type)]
    )
    # localCheckpoint: downstream uses the labels twice (clustered +
    # singleton anti-join) — never re-run the python task
    return p.coalesce(1).mapInPandas(uf, schema).localCheckpoint(eager=True)


def _minlabel_iterative(
    p: DataFrame, max_iter: int, broadcast_labels: bool | None
) -> DataFrame:
    """Iterative min-label propagation with pointer jumping — the
    arbitrarily-large-subgraph path (see neardup_clusters docstring)."""
    edges = p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        p.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.select("doc_id", F.col("doc_id").alias("label")).localCheckpoint(eager=True)
    if broadcast_labels is None:
        broadcast_labels = labels.count() <= 2_000_000

    for _ in range(max_iter):
        lab = F.broadcast(labels) if broadcast_labels else labels
        prop = edges.join(
            lab.select(F.col("doc_id").alias("dst"), "label"), "dst"
        ).select(F.col("src").alias("doc_id"), "label")
        # pointer jumping (shortcutting): label(label(d)) is also
        # reachable from d — folding it in each round makes the round
        # count logarithmic in cluster diameter instead of linear
        jump = (
            labels.alias("a")
            .join(
                lab.select(F.col("doc_id").alias("mid"), F.col("label").alias("jlabel")),
                F.col("a.label") == F.col("mid"),
            )
            .select(F.col("a.doc_id").alias("doc_id"), F.col("jlabel").alias("label"))
        )
        # every subgraph node appears in `labels` exactly once, so
        # min(__old) recovers its previous label through the union
        nulled = F.lit(None).cast(labels.schema["label"].dataType).alias("__old")
        new = (
            labels.select("doc_id", "label", F.col("label").alias("__old"))
            .unionByName(prop.select("doc_id", "label", nulled))
            .unionByName(jump.select("doc_id", "label", nulled))
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"), F.min("__old").alias("__old"))
            .withColumn("__changed", F.col("label") < F.col("__old"))
            .localCheckpoint(eager=True)
        )
        changed = new.filter("__changed").limit(1).count()
        labels = new.select("doc_id", "label")
        if changed == 0:
            break
    return labels


# --- incremental dedup vs a bucketed fingerprint index ------------------


def build_fingerprint_index(
    spark,
    index_path: str,
    docs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> tuple[int, int, int]:
    """Build / refresh the corpus fingerprint index used by
    :func:`incremental_dedup_report`: one row per distinct normalized
    fingerprint, upserted into the hash-bucketed layout of
    :func:`~data_ingestors_spark.io.writers.upsert` (key = fp_md5).
    Re-running on new batches merges incrementally — only the touched
    buckets rewrite, and the stat columns stay CORPUS-CUMULATIVE: a
    fingerprint seen in several batches keeps min(first_doc_id),
    sum(n_docs), max(max_nc) across batches (the upsert alone is
    batch-wins, which would reset them to the latest batch's values).
    Consequence: this is at-least-once — REPLAYING a batch adds its
    n_docs again (first_doc_id / max_nc stay correct, min/max are
    idempotent). For exactly-once counting under replay, use the
    batch-id-keyed streaming fold (streaming/neardup.py
    stream_incremental_dedup_fold), which overwrites its own batch
    partition. ``n_buckets`` sets a new index's bucket count (``None``
    sizes it, as upsert does); an existing index hashes with its
    recorded count, and an ``n_buckets`` that differs raises. Returns
    upsert's (updated, inserted, deduped)."""
    from data_ingestors_spark.io.fs import path_exists
    from data_ingestors_spark.io.writers import BUCKET_COL, _bucket_of, bucket_count, upsert

    fps = docs.select(
        F.md5(normalize_text(F.col(text_col))).alias("fp_md5"),
        F.col(id_col).alias("first_doc_id"),
        F.length(text_col).alias("nc"),
    )
    # one row per fingerprint BEFORE the upsert (its deterministic
    # in-batch dedup would otherwise pick a hash-ordered winner; the
    # index contract is min doc id, matching exact_dedup)
    idx = fps.groupBy("fp_md5").agg(
        F.min("first_doc_id").alias("first_doc_id"),
        F.count("*").cast("long").alias("n_docs"),
        F.max("nc").cast("long").alias("max_nc"),
    )
    if path_exists(spark, index_path):
        # fold the already-indexed stats for fingerprints this batch
        # touches into the batch rows, reading ONLY the touched bucket
        # partitions (same O(batch) contract as the report itself)
        n = bucket_count(spark, index_path, n_buckets)
        touched = [
            r[0] for r in idx.select(_bucket_of("fp_md5", n)).distinct().collect()
        ]
        if touched:
            existing = (
                spark.read.parquet(index_path)
                .filter(F.col(BUCKET_COL).isin(touched))
                .join(idx.select("fp_md5"), "fp_md5", "leftsemi")
                .select("fp_md5", "first_doc_id", "n_docs", "max_nc")
            )
            idx = (
                idx.unionByName(existing)
                .groupBy("fp_md5")
                .agg(
                    F.min("first_doc_id").alias("first_doc_id"),
                    F.sum("n_docs").cast("long").alias("n_docs"),
                    F.max("max_nc").cast("long").alias("max_nc"),
                )
            )
    return upsert(spark, index_path, idx, key="fp_md5", n_buckets=n_buckets)


def incremental_dedup_report(
    spark,
    index_path: str,
    batch: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n_buckets: int | None = None,
) -> DataFrame:
    """What would ingesting ``batch`` add? Per source: how many batch
    documents are exact duplicates of the indexed corpus, duplicates
    within the batch itself, or novel — plus the novel character mass
    — WITHOUT scanning the corpus: the batch's fingerprints hash to
    their buckets and ONLY those bucket partitions of the index are
    read (same touched-buckets-only contract as upsert/purge_keys; at
    100 TB a k-fingerprint batch reads O(k) buckets, never the index).

    Semantics match [q_dedup_impact_report]'s survivor rule: among
    batch-only fingerprint families the (max nc, min doc_id) doc is
    the novel survivor in ITS source; its family siblings count as
    in-batch duplicates. Attribution happens inside the family
    aggregation (per-(fp, source) partials + per-family winner join)
    — nothing batch- or corpus-sized broadcasts.

    Registry twin: queries/text_audits.py:q_incremental_dedup computes
    the identical report relationally (corpus = the unindexed split)
    and is DuckDB-oracle-paired; equality of the two paths is
    asserted in tests. The fingerprints hash with the index's recorded
    bucket count; an ``n_buckets`` that differs raises."""
    from data_ingestors_spark.io.fs import path_exists
    from data_ingestors_spark.io.writers import BUCKET_COL, _bucket_of, bucket_count

    b = batch.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.length(text_col).alias("nc"),
        F.md5(normalize_text(F.col(text_col))).alias("fp_md5"),
    )
    if path_exists(spark, index_path):
        n = bucket_count(spark, index_path, n_buckets)
        touched = [r[0] for r in b.select(_bucket_of("fp_md5", n)).distinct().collect()]
        idx = (
            spark.read.parquet(index_path)
            .filter(F.col(BUCKET_COL).isin(touched))
            .select("fp_md5", F.lit(1).alias("in_corpus"))
        )
    else:
        idx = spark.createDataFrame(
            [], "fp_md5 string, in_corpus int"
        )
    return _novelty_report(b.join(idx, "fp_md5", "left"))


def _novelty_report(flag: DataFrame) -> DataFrame:
    """Per-source novelty report from a corpus-flagged batch frame
    (doc_id, source, nc, fp_md5, in_corpus nullable). Shared by the
    batch index report above and the streaming fold
    (streaming/neardup.py incremental_dedup_fold_batch) so the two
    paths can't drift. Survivor rule and family-side attribution are
    documented on :func:`incremental_dedup_report`."""
    tot = flag.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("in_corpus").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dup_corpus"),
        F.sum("nc").cast("long").alias("n_chars"),
    )
    new = flag.filter(F.col("in_corpus").isNull())
    per_src = new.groupBy("fp_md5", "source").agg(
        F.count("*").cast("long").alias("n"),
        F.max(F.struct(F.col("nc"), (-F.col("doc_id")).alias("negid"))).alias(
            "best"
        ),
    )
    win = per_src.groupBy("fp_md5").agg(
        F.max_by(
            F.struct(
                F.col("source").alias("wsrc"),
                F.col("best").getField("nc").alias("wnc"),
            ),
            F.col("best"),
        ).alias("w")
    )
    fam = (
        per_src.join(win, "fp_md5")
        .groupBy("source")
        .agg(
            F.sum(
                F.when(F.col("source") == F.col("w.wsrc"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
            F.sum(
                F.col("n")
                - F.when(F.col("source") == F.col("w.wsrc"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_dup_batch"),
            F.sum(
                F.when(F.col("source") == F.col("w.wsrc"), F.col("w.wnc")).otherwise(0)
            )
            .cast("long")
            .alias("chars_novel"),
        )
    )
    return (
        tot.join(fam, "source", "left")
        .fillna(0, subset=["n_novel", "n_dup_batch", "chars_novel"])
        .select(
            "source",
            "n_docs",
            "n_dup_corpus",
            "n_dup_batch",
            "n_novel",
            "n_chars",
            "chars_novel",
            fround(F.col("n_novel") / F.col("n_docs"), 6).alias("novel_frac"),
        )
        .orderBy("source")
    )
