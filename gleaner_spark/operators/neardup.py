"""Near-duplicate blocking: the one home of MinHash signatures, LSH
banding and the capped bucket self-join.

Callers: the pipeline's entity linker (``operators.link``, distributed
or, below its mention gate, driver-local) and the registry's
``dedup_minhash_lsh``, ``dedup_simhash_pairs`` and
``dedup_embedding_cosine`` (``plans.queries``); ``ann_lsh_bucketed``
uses only the bucket cap.

MinHash (rotation md5): hash function i = md5 hex digest rotated left by
2·i characters; sig[i] = min over the shingle set.  One digest per
shingle instead of k.  Reference semantics:
``core.text.md5_minhash_signature`` (pure Python); DuckDB oracle
formulation: ``plans.queries._minhash_sql``.

:func:`minhash_signature` picks one of two paths by a measured count of
distinct shingles:

* **rank path** (≤ :data:`SIG_DICT_MAX_SHINGLES`): the distinct-shingle
  dictionary is collected, each rotation is rank-encoded with
  ``np.unique`` (equal rotation strings get equal ranks, and rank order
  is string order), and broadcast back.  The per-occurrence work becomes
  k int mins; band keys become ints.
* **exploded path** (above the gate): md5 + rotations as plain column
  expressions over exploded shingle rows, then a partial-agg min — the
  whole-stage-codegen layout (interpreted higher-order lambdas measured
  ~25× slower for the identical result at sf0.1).

Buckets only test EQUALITY of signature values, so both paths give the
same buckets, caps and pairs as the md5 hex strings.  Band keys are the
band index plus that band's signature columns — no string
concatenation, any band width that divides k.

:func:`local_minhash_signatures` and :func:`local_lsh_pairs` are the
same signatures (as md5 hex), banding, cap and pair enumeration over
in-memory sets, for callers that measured their input small enough to
solve on the driver (the linker below its mention gate).
"""

from __future__ import annotations

import hashlib
from itertools import combinations
from typing import Callable, Collection, Hashable, Mapping, Sequence

from pyspark.sql import DataFrame, Observation, functions as F, types as T

from ..functions.barrier import reliable_ckpt

NUM_HASHES = 16
#: LSH bucket cap (quadratic-blowup guard) shared by the linker and the
#: dedup_minhash_lsh query.
MAX_BUCKET = 64
#: Largest distinct-shingle dictionary the rank path collects to the
#: driver (16 int32 ranks per shingle ≈ 64 MB of ranks at the gate).
SIG_DICT_MAX_SHINGLES = 1_000_000


def _check_k(k: int) -> None:
    if not 1 <= k <= 16:
        # stride-2 rotations of a 32-hex digest give exactly 16 distinct
        # hash functions; i=16 wraps to the identity and duplicates sig[0]
        raise ValueError(f"rotation MinHash supports 1..16 hashes, got k={k}")


def lsh_params(threshold: float, k: int = NUM_HASHES,
               fn_weight: float = 0.5) -> tuple[int, int]:
    """Threshold-driven LSH band structure: choose (bands b, rows r)
    with b·r == k minimizing the weighted S-curve error around the
    target Jaccard ``threshold`` —
    fp area = ∫₀ᵗ 1-(1-sʳ)ᵇ ds (low-similarity pairs that collide; the
    quadratic mass at corpus scale), fn area = ∫ₜ¹ (1-sʳ)ᵇ ds (true
    near-dups that never collide).  The 100 TB user knob is the
    similarity threshold, not a band count: callers state intent
    (t=0.7) and the structure follows; all k paid-for hashes are used
    (b·r == k exactly).  Deterministic closed-form trapezoid integral —
    no randomness, so the DuckDB oracle built from the same derived
    constants stays in lockstep."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best, best_err = None, None
    for r in range(1, k + 1):
        if k % r:
            continue
        b = k // r
        steps = 200
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p / steps
            else:
                fn += (1.0 - p) / steps
        err = (1.0 - fn_weight) * fp + fn_weight * fn
        if best_err is None or err < best_err:
            best, best_err = (b, r), err
    return best


def minhash_from_rows(rows: DataFrame, id_col: str,
                      k: int = NUM_HASHES) -> DataFrame:
    """(id, s: non-null shingle ROW) → (id, m0..m{k-1}: md5-hex rotation
    minima) — the exploded path.  Callers that can produce shingle rows
    with plain codegen expressions (e.g. posexplode of a token index +
    try_element_at — see plans.queries._shingle_rows) skip
    higher-order-function array construction entirely (measured 13× on
    the sf0.1 dup-rich corpus).  Duplicate rows are harmless (min over
    duplicates == min over the set)."""
    _check_k(k)
    h = rows.withColumn("h", F.md5("s"))
    return h.groupBy(id_col).agg(*[
        F.min(F.concat(F.substring("h", 2 * i + 1, 32 - 2 * i),
                       F.substring("h", 1, 2 * i))).alias(f"m{i}")
        for i in range(k)
    ])


def _rank_dictionary(spark, pdf, k: int) -> DataFrame:
    """(s) distinct shingles (pandas) → (s, k0..k{k-1}): k_i = ordinal
    of rot_i(md5(s)) among the dictionary's rotation-i strings."""
    import numpy as np

    hexes = [hashlib.md5(s.encode("utf-8")).hexdigest() for s in pdf["s"]]
    for i in range(k):
        rot = np.array([h[2 * i:] + h[:2 * i] for h in hexes], dtype=str)
        _, inv = np.unique(rot, return_inverse=True)
        pdf[f"k{i}"] = inv.astype(np.int32)
    schema = T.StructType(
        [T.StructField("s", T.StringType())]
        + [T.StructField(f"k{i}", T.IntegerType()) for i in range(k)]
    )
    return spark.createDataFrame(pdf, schema)


def minhash_signature(rows: DataFrame, id_col: str,
                      k: int = NUM_HASHES) -> DataFrame:
    """(id, s) shingle rows → (id, m0..m{k-1}), one row per id.

    A null shingle hashes as '' — md5('') is the sentinel
    ``core.text.md5_minhash_signature`` uses for an empty set — so rows
    from ``explode_outer`` of an empty or null array keep their id.

    The signature values are int ranks on the rank path and md5-hex
    strings on the exploded path (module docstring); either way equal
    values mean equal rotation minima, which is all banding needs.  The
    result is barriered: a band self-join reads it three times (bucket
    counts + both sides) and the planner reuses none of those exchanges.
    """
    _check_k(k)
    # the dictionary pass and the signature pass both read the rows, and
    # producing them (tokenization) is the expensive part — pay it once
    rows = reliable_ckpt(
        rows.select(id_col, F.coalesce("s", F.lit("")).alias("s")))
    # one action measures the dictionary against the gate and, when it
    # fits, collects it; above the gate it brings back at most
    # SIG_DICT_MAX_SHINGLES + 1 rows, the rank path's own worst case
    pdf = rows.select("s").distinct().limit(
        SIG_DICT_MAX_SHINGLES + 1).toPandas()
    if len(pdf) > SIG_DICT_MAX_SHINGLES:
        return reliable_ckpt(minhash_from_rows(rows, id_col, k))
    ranks = _rank_dictionary(rows.sparkSession, pdf, k)
    return reliable_ckpt(
        rows.join(F.broadcast(ranks), "s")
        .groupBy(id_col)
        .agg(*[F.min(f"k{i}").alias(f"m{i}") for i in range(k)])
    )


def cap_buckets(bands: DataFrame, keys: Sequence[str], max_bucket: int,
                observation: Observation | None = None) -> DataFrame:
    """LSH bucket-size cap (quadratic-blowup guard): drop every bucket
    with more than ``max_bucket`` members before a band self-join — one
    hot bucket (stop-phrase band key) otherwise goes O(B²).  Members of
    a dropped bucket still pair through their other bands, so recall
    degrades gracefully.  Pass an ``Observation`` to account for the
    drops on the join's own execution (no extra job) — no silent caps;
    it reports ``dropped_buckets`` and ``total_buckets``."""
    counts = bands.groupBy(*keys).agg(F.count("*").alias("n"))
    if observation is not None:
        counts = counts.observe(
            observation,
            F.sum((F.col("n") > max_bucket).cast("long")).alias("dropped_buckets"),
            F.count(F.lit(1)).alias("total_buckets"),
        )
    return bands.join(
        counts.filter(F.col("n") <= max_bucket).select(*keys), list(keys),
        "left_semi",
    )


def bucket_pairs(bands: DataFrame, keys: Sequence[str], id_col: str,
                 max_bucket: int, *, carry: Sequence[str] = (),
                 verify: Callable[[DataFrame], DataFrame] | None = None,
                 observation: Observation | None = None) -> DataFrame:
    """Capped bucket self-join → distinct ordered pairs (a < b) of ids
    sharing a bucket.

    ``carry`` names per-row columns that reach the candidate rows as
    ``<col>_a`` / ``<col>_b``, so ``verify`` can check each candidate
    inline — before the distinct, so only survivors are shuffled.
    ``verify`` maps the candidate rows to the output columns (filter,
    score, select); without it the output is (a, b)."""
    bands = cap_buckets(bands, keys, max_bucket, observation)

    def side(tag: str) -> DataFrame:
        return bands.select(*keys, F.col(id_col).alias(tag),
                            *[F.col(c).alias(f"{c}_{tag}") for c in carry])

    cand = side("a").join(side("b"), list(keys)).filter(
        F.col("a") < F.col("b"))
    return (verify(cand) if verify else cand.select("a", "b")).distinct()


def minhash_lsh_pairs(sig: DataFrame, id_col: str, band_width: int,
                      max_bucket: int = MAX_BUCKET, *, k: int = NUM_HASHES,
                      carry: Sequence[str] = (),
                      verify: Callable[[DataFrame], DataFrame] | None = None,
                      observation: Observation | None = None) -> DataFrame:
    """Banded LSH over a :func:`minhash_signature` frame (plus any
    ``carry`` columns): k / band_width bands, bucket key = (band index
    ``bi``, that band's signature columns ``b0..b{w-1}``), then
    :func:`bucket_pairs`."""
    if band_width < 1 or k % band_width:
        raise ValueError(f"band width {band_width} does not divide k={k}")
    bands = [
        F.struct(F.lit(b).alias("bi"),
                 *[F.col(f"m{b * band_width + j}").alias(f"b{j}")
                   for j in range(band_width)])
        for b in range(k // band_width)
    ]
    rows = sig.select(id_col, *carry, F.explode(F.array(*bands)).alias("bk"))
    rows = rows.select(id_col, *carry, "bk.*")
    keys = ["bi", *[f"b{j}" for j in range(band_width)]]
    return bucket_pairs(rows, keys, id_col, max_bucket, carry=carry,
                        verify=verify, observation=observation)


def local_minhash_signatures(shingle_sets: Mapping[Hashable, Collection[str]],
                             k: int = NUM_HASHES) -> dict:
    """Driver-local twin of :func:`minhash_signature`: id → the k
    rotation-md5 minima of its shingle set, value for value what
    ``core.text.md5_minhash_signature`` returns.  Each distinct shingle
    is hashed and rotated once (names share most of their 3-grams, and
    the reference re-hashes per set), and each signature is k mins over
    the transposed rotation tuples."""
    _check_k(k)
    rots: dict = {}

    def rotations(s: str) -> tuple:
        r = rots.get(s)
        if r is None:
            h = hashlib.md5(s.encode("utf-8")).hexdigest()
            r = rots[s] = tuple(h[2 * i:] + h[:2 * i] for i in range(k))
        return r

    return {ident: tuple(map(min, zip(*map(rotations, sh or ("",)))))
            for ident, sh in shingle_sets.items()}


def local_lsh_pairs(sigs: Mapping[Hashable, Sequence], band_width: int,
                    max_bucket: int = MAX_BUCKET, *, k: int = NUM_HASHES
                    ) -> tuple[set, int, int]:
    """Driver-local twin of :func:`minhash_lsh_pairs` for inputs small
    enough to hold in memory: ``sigs`` maps id → k signature values
    (e.g. ``core.text.md5_minhash_signature``), banded the same way
    (bucket key = band index + that band's values), buckets over
    ``max_bucket`` members dropped.  Returns (distinct ordered pairs
    (a < b), dropped_buckets, total_buckets) — the pairs before any
    verification, and the counts the distributed ``Observation``
    reports."""
    if band_width < 1 or k % band_width:
        raise ValueError(f"band width {band_width} does not divide k={k}")
    buckets: dict = {}
    for ident, sig in sigs.items():
        for b in range(k // band_width):
            key = (b, *sig[b * band_width:(b + 1) * band_width])
            buckets.setdefault(key, []).append(ident)
    pairs: set = set()
    dropped = 0
    for members in buckets.values():
        if len(members) > max_bucket:
            dropped += 1
            continue
        for a, b in combinations(members, 2):
            pairs.add((a, b) if a < b else (b, a))
    return pairs, dropped, len(buckets)
