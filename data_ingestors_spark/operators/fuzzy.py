"""Approximate string joins (record linkage) at scale.

FastSS deletion-neighborhood blocking (Bocek et al., "Fast Similarity
Search in Large Dictionaries", 2007): two strings within edit distance
1 of each other necessarily share a key in their 1-deletion
neighborhoods (the string itself plus every single-character
deletion). Candidate generation is therefore an *equi-join* on those
keys — per-row fan-out is O(len), candidates are bounded by key
collisions, and no all-pairs comparison ever happens. A final exact
``levenshtein`` verification on the candidates removes the (rare)
distance-2 pairs that share a deletion key.

Why this shape survives 100 TB: the join key space is as large as the
string space, so buckets stay small for natural-language identifiers;
the shuffle payload is (key_hash, id) only — names are re-attached
after the candidate pairs are distinct-ed. A degenerate hot key (the
empty string from 1-char inputs, or a mass-duplicated identifier)
is the same density trap documented for the Jaccard inverted index
(operators/dedup.py): a per-key document-frequency cap
(:data:`DEFAULT_MAX_KEY_DF`, on by default) drops such keys before
the join; ``max_key_df=None`` restores exact FastSS.

Reference scope note: the reference validates destination-duplicate
mappings exactly (tracebloc_ingestor/validators, V7); fuzzy matching
is an extension for entity resolution over 100 TB-scale corpora.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestors_spark.operators.pairs import candidate_pairs, pair_payload

#: Default document-frequency cap on blocking keys. A key shared by df
#: rows generates df² candidate pairs, so an uncapped degenerate key —
#: the empty string from 1-char values, or a value duplicated millions
#: of times — turns the equi-join quadratic. Natural-language
#: identifiers never approach this df (every value sharing a key is
#: within edit distance 2 of every other), so the default only fires
#: on corpora that exact dedup should have cleaned first. Pass
#: ``max_key_df=None`` to disable, or a smaller value to tighten.
DEFAULT_MAX_KEY_DF = 1000


def _deletion_keys(col: str) -> F.Column:
    """Array of the 1-deletion neighborhood of ``col`` (the string
    itself first, then each single-char deletion), deduplicated.

    Runs entirely in whole-stage codegen: sequence + transform +
    substring, no Python. For a string of length n this yields at most
    n+1 distinct keys.
    """
    s = F.col(col)
    deletions = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.concat(
            F.substring(s, F.lit(1), i - F.lit(1)),
            s.substr(i + F.lit(1), F.length(s)),
        ),
    )
    return F.array_distinct(F.concat(F.array(s), deletions))


def fastss_pairs(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    max_key_df: int | None = DEFAULT_MAX_KEY_DF,
) -> DataFrame:
    """All pairs (id_a < id_b) whose ``col`` values are at edit
    distance exactly 1, via FastSS 1-deletion blocking.

    Returns columns (id_a, id_b, dist) with dist == 1. Identical
    strings (distance 0) are excluded — exact duplicates belong to
    exact_dedup, not fuzzy matching.

    ``max_key_df``: drop blocking keys shared by more than this many
    rows before the self-join (density cap — such keys generate df²
    candidates and, for natural data, only arise from mass-duplicated
    values that exact dedup should have removed). Defaults to
    :data:`DEFAULT_MAX_KEY_DF`; the cost of the guard is one
    combiner-friendly count over (key, id) pairs plus a broadcast
    anti-join of the (normally empty) hot-key set. Semantics under the
    cap: distance-1 pairs are missed ONLY if every key they share is
    hot — i.e. among values duplicated > max_key_df times. ``None``
    disables the cap (exact FastSS).
    """
    keyed = (
        df.select(F.col(id_col).alias("_fid"), F.col(col).alias("_fval"))
        .select("_fid", F.explode(_deletion_keys("_fval")).alias("_fkey"))
        # shuffle ids + 64-bit key hashes, never the strings themselves
        .select("_fid", F.xxhash64("_fkey").alias("_fkey"))
    )
    if max_key_df is not None:
        # NOT persisted: the keyed frame is a pure explode+hash
        # projection, and measured at sf0.1 a persist+count barrier
        # costs more than recomputing it for the hot-key count
        # (3.6-3.9 s vs 2.6-2.7 s for the registered query). At
        # cluster scale a caller amortizing many probes can persist
        # the input df itself.
        hot = keyed.groupBy("_fkey").count().filter(F.col("count") > max_key_df)
        keyed = keyed.join(F.broadcast(hot.select("_fkey")), "_fkey", "left_anti")

    cands = candidate_pairs(keyed, ["_fkey"], "_fid")
    verified = (
        pair_payload(cands, df, id_col, col)
        .withColumn("dist", F.levenshtein(f"{col}_a", f"{col}_b"))
        .filter(F.col("dist") == 1)
    )
    return verified.select("id_a", "id_b", "dist")


def fuzzy_match_stats(
    df: DataFrame,
    col: str,
    id_col: str,
    *,
    max_key_df: int | None = DEFAULT_MAX_KEY_DF,
) -> DataFrame:
    """Per-row fuzzy-match summary: for every row with at least one
    edit-distance-1 neighbor, the neighbor count and the smallest
    neighboring id. Output: (id, n_matches, min_match_id)."""
    pairs = fastss_pairs(df, col, id_col, max_key_df=max_key_df)
    both = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("match_id")
    ).unionAll(pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("match_id")))
    return both.groupBy("id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("match_id").alias("min_match_id"),
    )


def fastss_match(
    df: DataFrame,
    reference: DataFrame,
    col: str,
    id_col: str,
    ref_col: str,
    ref_id_col: str,
    *,
    max_key_df: int | None = DEFAULT_MAX_KEY_DF,
) -> DataFrame:
    """Match every row of ``df`` against a reference dictionary at
    edit distance <= 1 (0 = exact hit), via the same 1-deletion
    blocking as :func:`fastss_pairs` — an equi-join of the two sides'
    deletion-key sets, then exact levenshtein verification.

    Output: (id, ref_id, dist). The reference's keyed form is a pure
    projection, so callers joining many batches against one reference
    should persist ``reference`` once; the key join broadcasts the
    smaller side automatically (AQE).

    ``max_key_df`` (default :data:`DEFAULT_MAX_KEY_DF`): a key hot on
    BOTH sides produces probe_df × ref_df candidates, so keys whose df
    exceeds the cap on either side are dropped before the join — the
    same density guard, and the same miss semantics, as
    :func:`fastss_pairs`. ``None`` disables."""
    probe = (
        df.select(F.col(id_col).alias("id"), F.col(col).alias("_pval"))
        .select("id", "_pval", F.explode(_deletion_keys("_pval")).alias("_k"))
        .withColumn("_k", F.xxhash64("_k"))
    )
    ref = (
        reference.select(
            F.col(ref_id_col).alias("ref_id"), F.col(ref_col).alias("_rval")
        )
        .select("ref_id", "_rval", F.explode(_deletion_keys("_rval")).alias("_k"))
        .withColumn("_k", F.xxhash64("_k"))
    )
    if max_key_df is not None:
        # deliberately NOT persisted: this path runs once per streaming
        # micro-batch, where a persist with no unpersist would
        # accumulate cache forever; the double-computed side is a pure
        # explode+hash projection (cheap). fastss_pairs does not persist
        # its keyed frame either: there a persist measured slower than
        # recomputing it (see its comment).
        hot = (
            probe.groupBy("_k").count().filter(F.col("count") > max_key_df)
            .select("_k")
            .unionAll(
                ref.groupBy("_k").count().filter(F.col("count") > max_key_df)
                .select("_k")
            )
            .distinct()
        )
        probe = probe.join(F.broadcast(hot), "_k", "left_anti")
        ref = ref.join(F.broadcast(hot), "_k", "left_anti")
    return (
        probe.join(ref, "_k")
        .withColumn("dist", F.levenshtein("_pval", "_rval"))
        .filter(F.col("dist") <= 1)
        .select("id", "ref_id", "dist")
        .distinct()
    )
