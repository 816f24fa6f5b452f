"""The candidate-pair join of the near-duplicate operators.

Every bucketed near-duplicate operator (MinHash bands, prefix tokens,
deletion keys, hyperplane sketches) equi-joins the rows that share a
bucket key, keeps each id pair once as ``id_a < id_b``, then verifies
only those candidates against a payload joined back on by id: the
bucket join never shuffles shingle arrays or vectors.

A streaming fold probes its accumulated index with the new batch: the
same join with the batch on the left, an ``!=`` guard, and the pair
ordered with ``least``/``greatest``. One join for both forms keeps a
fold's pairs equal to its batch operator's over the union of batches.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_ingestors_spark.functions.rounding import fround


def candidate_pairs(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    *,
    probe: DataFrame | None = None,
    where: Column | None = None,
) -> DataFrame:
    """Distinct ``(id_a, id_b)``, ``id_a < id_b``, of rows equal on every
    key. Self-join of ``rows`` unless ``probe`` is given: then ``probe``
    (which ``rows`` may contain) joins ``rows`` under an ``!=`` guard.
    ``where`` is an extra join condition over the ``a.``/``b.`` aliases.
    A null id or key never pairs."""
    a, b = (rows if probe is None else probe).alias("a"), rows.alias("b")
    id_a, id_b = F.col(f"a.{id_col}"), F.col(f"b.{id_col}")
    cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
    cond.append(id_a < id_b if probe is None else id_a != id_b)
    if where is not None:
        cond.append(where)
    if probe is not None:
        id_a, id_b = F.least(id_a, id_b), F.greatest(id_a, id_b)
    return (
        a.join(b, reduce(and_, cond))
        .select(id_a.alias("id_a"), id_b.alias("id_b"))
        .distinct()
    )


def pair_payload(cand: DataFrame, payload: DataFrame, id_col: str, col: str) -> DataFrame:
    """``cand`` plus ``<col>_a`` and ``<col>_b``: ``payload``'s ``col``
    joined onto each side's id."""
    for side in ("a", "b"):
        cand = cand.join(
            payload.select(F.col(id_col).alias(f"id_{side}"), F.col(col).alias(f"{col}_{side}")),
            f"id_{side}",
        )
    return cand


def minhash_bands(sigs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """``(doc_id, band, bucket)``: each ``signature`` cut into ``bands``
    bands of ``num_hashes // bands`` components, each band hashed."""
    r = num_hashes // bands
    band_structs = [
        # hash the r ints directly, no string round trip
        F.struct(
            F.lit(b).alias("band"),
            F.hash(*[F.col("signature")[b * r + j] for j in range(r)]).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bb")).select(
        "doc_id", "bb.band", "bb.bucket"
    )


def jaccard_verify(pairs: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)`` of the pairs whose ``shingles_a`` and
    ``shingles_b`` sets have Jaccard ≥ ``threshold``, rounded to 6 places."""
    inter = F.size(F.array_intersect("shingles_a", "shingles_b")).cast("double")
    union = F.size(F.array_union("shingles_a", "shingles_b")).cast("double")
    return (
        pairs.select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", fround(F.col("jaccard"), 6).alias("jaccard"))
    )
