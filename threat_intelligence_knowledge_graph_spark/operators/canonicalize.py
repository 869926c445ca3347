"""Stage D — entity canonicalization.

Two layers (SURVEY.md §7 step 6):

1. **Exact layer** — the NER path's ids are already canonical by
   construction (same (type, value) ⇒ same id, reference
   ner_extractor.py:159-163), so exact canonicalization is the identity
   and parity with the reference holds with the alias layer OFF. That is
   the default.

2. **Alias layer (scale path, opt-in)** — MinHash/LSH blocking over
   normalized surface forms + connected components merges near-duplicate
   surface forms ("APT29" / "APT 29" / "apt-29") into one canonical id
   (min id in cluster). Cross-type merges are forbidden: blocking is
   salted by node_label so LSH buckets never mix types — the "salted-key"
   canonicalization of the north_star, and also the skew guard (hot
   common shingles can't build one giant bucket across types).

The output canonical dictionary is small relative to the corpus (only
ids that alias), so applying it to the edge stream is a broadcast join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .minhash import (
    char_shingles,
    connected_components,
    jaccard_verify,
    lsh_band_keys,
    lsh_candidate_pairs,
)


def build_alias_dictionary(
    nodes: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.75,
    max_bucket_size: int = 64,
) -> DataFrame:
    """nodes(node_label, node_id, properties) → (node_id, canonical_id).

    Only rows where canonical_id != node_id are returned (the dictionary
    is the exception set — broadcastable).
    """
    surface = nodes.select(
        F.col("node_id").alias("raw_id"),
        # Salt the blocking key with the label: type prefix joins the
        # shingled text so cross-type ids rarely collide in a bucket.
        F.concat_ws("|", "node_label", F.lower("node_id")).alias("surface"),
    )
    shingles = char_shingles(surface, "raw_id", "surface", n=3)
    banded = lsh_band_keys(shingles, num_hashes=num_hashes, bands=bands)
    pairs, _dropped = lsh_candidate_pairs(banded, max_bucket_size=max_bucket_size)
    verified = jaccard_verify(pairs, shingles, threshold=jaccard_threshold)
    # HARD same-label guard: the prefix salt is probabilistic (long ids
    # dilute the label shingles below any Jaccard threshold), so enforce
    # label equality on verified pairs before clustering — cross-type
    # merges must be impossible, not merely unlikely.
    labels_df = nodes.select(
        F.col("node_id").alias("_lid"), F.col("node_label").alias("_label")
    )
    verified = (
        verified.join(
            labels_df.withColumnRenamed("_lid", "a").withColumnRenamed("_label", "_la"),
            "a",
        )
        .join(
            labels_df.withColumnRenamed("_lid", "b").withColumnRenamed("_label", "_lb"),
            "b",
        )
        .filter(F.col("_la") == F.col("_lb"))
        .select("a", "b", "jaccard")
    )
    components = connected_components(verified.select("a", "b"))
    return (
        components.filter(F.col("id") != F.col("component"))
        .select(
            F.col("id").alias("node_id"),
            F.col("component").alias("canonical_id"),
        )
    )


def apply_canonicalization(
    edges: DataFrame, alias_dict: DataFrame
) -> DataFrame:
    """Rewrite edge endpoints through the (broadcast) alias dictionary."""
    src_map = F.broadcast(
        alias_dict.select(
            F.col("node_id").alias("src_id"), F.col("canonical_id").alias("_src_canon")
        )
    )
    dst_map = F.broadcast(
        alias_dict.select(
            F.col("node_id").alias("dst_id"), F.col("canonical_id").alias("_dst_canon")
        )
    )
    return (
        edges.join(src_map, "src_id", "left")
        .join(dst_map, "dst_id", "left")
        .withColumn("src_id", F.coalesce("_src_canon", "src_id"))
        .withColumn("dst_id", F.coalesce("_dst_canon", "dst_id"))
        .drop("_src_canon", "_dst_canon")
        .dropDuplicates(["src_id", "rel_type", "dst_id"])
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernandez-Stolfo merge/purge)
# ---------------------------------------------------------------------------

def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str = "block_key",
    id_col: str = "node_id",
    window: int = 5,
    n_buckets: int = 32,
    sample_pct: int = 5,
    salt: str = "snm",
) -> DataFrame:
    """Candidate pairs within ``window`` positions of each other in the
    total order by ``(key, id)`` — the classic sorted-neighborhood
    blocking method (Hernandez & Stolfo 1995) that complements the
    MinHash/LSH blocking: LSH catches token-set overlap, SNM catches
    near-misses the blocking key SORTS together (typo'd hostnames,
    sequential infrastructure) even at zero token overlap.

    Output: ``(id_a, id_b, key_a, key_b, rank_distance)`` with
    ``1 <= rank_distance < window`` and ``rank_a < rank_b`` — exactly
    the pairs a window of size ``window`` sliding over the sorted list
    emits, each once. Candidate generation only; verification is the
    caller's (same contract as ``lsh_candidate_pairs``).

    Scale shape (100 TB): a GLOBAL row_number would be a single-
    partition sort, so the rank comes the TeraSort way, deterministic:
    ``sample_pct``% md5-drawn sample -> nearest-rank boundary keys in
    ONE bounded collect (<= n_buckets-1 strings) -> scan-local bucket
    assignment (strictly-less rule; equal keys land together, so the
    bucket concatenation IS the total order) -> per-bucket local
    row_number (parallel windows) + prefix offsets from a <= n_buckets
    row count collect. Pair join is a keyed equi-join on the rank
    block ``(rank-1) div window`` with each right row emitted into its
    own and its predecessor block: a same-block pair matches the
    identity emission, a boundary-crossing pair the predecessor
    emission — each qualifying pair exactly once, never a cartesian.
    Equal-key runs longer than a bucket boundary sample step skew one
    bucket; the window caps per-row output at ``window - 1`` pairs
    regardless, so skew affects parallelism, not volume.
    """
    from .hashing import sampled_boundaries

    if window < 2:
        raise ValueError("window must be >= 2")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if not 0 < sample_pct <= 100:
        raise ValueError("sample_pct must be in (0, 100]")
    from pyspark.sql import Window as W

    scored = df.select(
        F.col(id_col).alias("_id"), F.col(key_col).cast("string").alias("_key")
    )
    boundaries = sorted(
        set(
            sampled_boundaries(
                scored, "_key", "_id", n_buckets, sample_pct, salt
            )
        )
    )
    bucket = F.lit(1)
    for b in boundaries:
        bucket = bucket + F.when(
            F.col("_key") > F.lit(b), F.lit(1)
        ).otherwise(F.lit(0))
    bucketed = scored.withColumn("_bkt", bucket)
    w_local = W.partitionBy("_bkt").orderBy(
        F.col("_key").asc(), F.col("_id").asc()
    )
    local = bucketed.withColumn("_lrn", F.row_number().over(w_local))
    # Size counts come from the PRE-window frame: identical numbers,
    # and the collect job never pays (or re-runs) the rank sort.
    sizes = {
        r["_bkt"]: r["_c"]
        for r in bucketed.groupBy("_bkt")
        .agg(F.count("*").alias("_c"))
        .collect()
    }
    offset = {}
    acc = 0
    for bk in sorted(sizes):
        offset[bk] = acc
        acc += sizes[bk]
    off_expr = F.lit(0)
    for bk, o in offset.items():
        off_expr = F.when(F.col("_bkt") == F.lit(bk), F.lit(o)).otherwise(
            off_expr
        )
    ranked = local.select(
        "_id",
        "_key",
        (F.col("_lrn") + off_expr).cast("long").alias("_rank"),
    ).withColumn("_blk", ((F.col("_rank") - 1) / F.lit(window)).cast("long"))
    left = ranked.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("key_a"),
        F.col("_rank").alias("_ra"),
        F.col("_blk").alias("_jblk"),
    )
    right = ranked.select(
        F.col("_id").alias("id_b"),
        F.col("_key").alias("key_b"),
        F.col("_rank").alias("_rb"),
        F.explode(
            F.array(F.col("_blk"), F.col("_blk") - F.lit(1))
        ).alias("_jblk"),
    )
    return (
        left.join(right, "_jblk")
        .filter(
            (F.col("_rb") > F.col("_ra"))
            & (F.col("_rb") - F.col("_ra") < F.lit(window))
        )
        .select(
            "id_a",
            "id_b",
            "key_a",
            "key_b",
            (F.col("_rb") - F.col("_ra")).cast("long").alias("rank_distance"),
        )
    )


def verify_pairs_edit_distance(
    pairs: DataFrame,
    records: DataFrame,
    key_col: str = "name",
    id_col: str = "node_id",
    tau: float = 0.8,
) -> DataFrame:
    """Verification stage for blocking candidates (the step after
    ``sorted_neighborhood_pairs`` / ``lsh_candidate_pairs``): score
    each candidate ``(id_a, id_b)`` with normalized Levenshtein
    similarity ``1 − dist / max(len_a, len_b)`` over ``key_col`` and
    keep pairs at or above ``tau`` — completing the classic ER
    pipeline blocking → verify → resolve (the kept pairs feed
    ``connected_components`` exactly like LSH-verified pairs do).

    Levenshtein is a built-in on both engines (identical unicode
    semantics), so verification is pure JVM — no Python in the O(C)
    candidate-scoring hot path. Two-empty-strings pairs score 1.0
    (identical), not 0/0. ``similarity`` is rounded to 6 places
    before the threshold compare and in the output (the repo's
    engine-portability discipline for derived floats).

    Contract: the joins against ``records`` are INNER — a pair id
    absent from ``records`` (or a NULL key, whose similarity is NULL)
    is dropped, not scored; blocking and verification are expected to
    run over the SAME record table (as ``sorted_neighborhood_pairs``
    output does by construction). Audit candidate/record consistency
    upstream if the pair source is external.

    Scale shape: two keyed equi-joins attach the key strings to the
    candidate list (candidates are the small side after blocking —
    at 100 TB they stream through the join, never collected), then
    ONE codegen'd projection computes distance + similarity. Cost is
    O(candidates × len²) string work distributed over the cluster —
    the blocking stage's whole job was making |candidates| ≪ n².
    """
    if not 0 < tau <= 1:
        raise ValueError("tau must be in (0, 1]")
    ra = records.select(
        F.col(id_col).alias("id_a"), F.col(key_col).alias("_ka")
    )
    rb = records.select(
        F.col(id_col).alias("id_b"), F.col(key_col).alias("_kb")
    )
    joined = pairs.select("id_a", "id_b").join(ra, "id_a").join(rb, "id_b")
    mx = F.greatest(F.length("_ka"), F.length("_kb"))
    sim = F.round(
        F.when(mx == 0, F.lit(1.0)).otherwise(
            1.0 - F.levenshtein("_ka", "_kb") / mx
        ),
        6,
    )
    return (
        joined.withColumn("similarity", sim)
        .filter(F.col("similarity") >= F.lit(tau))
        .select(
            "id_a",
            "id_b",
            F.col("_ka").alias("key_a"),
            F.col("_kb").alias("key_b"),
            "similarity",
        )
    )
