"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB axis is #documents):

- exact: one hash-groupBy on a 128-bit content hash — single shuffle.
- n-gram Jaccard: shingle-explode → equi-join on shingle → per-pair
  intersection counts. Quadratic blowup is contained by (a) distinct
  shingles, (b) an optional blocking key (e.g. source bucket), and at
  real scale by running it only on LSH candidate pairs.
- MinHash+LSH: k portable affine hashes over md5-derived shingle ids;
  band signatures bucket-join candidates — linear in corpus size.
- SimHash: bit-vote aggregation over token hashes → 32-bit fingerprint;
  near-dups = equal fingerprint (or small Hamming distance via
  bit_count(xor) at join time).

Everything is built from portable arithmetic (md5, integer mod) so the
DuckDB oracle can replay it bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pyield_spark.functions.numbers import pround_expr
from pyield_spark.operators.pinning import pin
from pyield_spark.operators.text import h32_expr, tokens_expr

MINHASH_PRIME = 2147483647  # 2^31 - 1
# deterministic affine hash family (a, b) — public small constants
MINHASH_COEFFS = [
    (1299721, 104729),
    (15485863, 32452843),
    (49979687, 67867967),
    (86028121, 93827561),
]


def normalize_text_expr(text: str | Column) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def content_hash_expr(text: str | Column) -> Column:
    """128-bit content hash of normalized text (md5 hex)."""
    return F.md5(normalize_text_expr(text))


def ngrams_expr(text: str | Column, n: int = 3) -> Column:
    """Word n-grams of the normalized text, in document order WITH
    repeats — the occurrence stream (Count-Min counting wants every
    instance; dedup shingling wants the distinct set — see
    :func:`shingles_expr`).

    Built from n aligned array slices zipped together — NOT by indexing
    the token array from inside a lambda, which would re-evaluate the
    whole tokenizer expression per element (higher-order-function
    lambdas re-execute captured subtrees; with ~150 tokens/doc that is a
    150× blowup measured in the LSH benchmark). ``zip_with`` pads the
    shorter side with null and ``concat`` propagates it, so the ragged
    tail drops out in the null filter.
    """
    toks = tokens_expr(text)
    grams = toks
    for j in range(1, n):
        shifted = F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        grams = F.zip_with(grams, shifted, lambda g, z: F.concat(g, F.lit(" "), z))
    return F.filter(grams, lambda g: g.isNotNull())


def shingles_expr(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text — the
    dedup/LSH set view of :func:`ngrams_expr`'s occurrence stream."""
    return F.array_distinct(ngrams_expr(text, n))


def exact_dup_groups(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """Group identical (normalized) texts: content hash → keep-min id,
    duplicate count. NULL-text documents are excluded — they are not
    duplicates of anything, and groupBy collects all NULL hashes into
    one giant pseudo-group whose keep-min would delete every null-text
    document but one (review fix)."""
    return (
        df.select(F.col(id_col), content_hash_expr(text).alias("content_hash"))
        .filter(F.col("content_hash").isNotNull())
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_docs"),
        )
    )


def exploded_shingles(df: DataFrame, text: str, id_col: str, n: int = 3) -> DataFrame:
    return df.select(
        F.col(id_col), F.explode(shingles_expr(text, n)).alias("shingle")
    )


def _shingle_intersection(
    df: DataFrame,
    text: str,
    id_col: str,
    n: int,
    block: str | None,
):
    """Shared plumbing for the pairwise shingle scores. Returns ONE
    frame ``(id_a, id_b, n_inter, n_a, n_b)`` built in a single text
    pass. SET semantics always: ``shingles_expr`` already ends in
    ``array_distinct`` (the former ``distinct`` flag was a no-op —
    review fix). Ids are unique per document by contract (they are id
    columns).

    The r10-baseline shape was a self-join of the exploded shingle
    stream plus a separate sizes aggregate joined back twice — the
    text scan + shingle explode ran for EVERY consumer (8 parquet
    scans in the registered queries' plans) and the (shingle, id)
    stream crossed two heavy exchanges. Now (guide §2.3
    aggregate-before-shuffle, §2.4, §8):

    - each exploded row carries its document's shingle-set size
      (``size()`` of the same array the Generate consumes — computed
      once in the projection below the Generate; the complex array
      expression is referenced twice so CollapseProject keeps it
      materialized per row), so per-doc sizes need NO second pass and
      NO joins;
    - the stream is grouped by (block, shingle) into posting lists —
      ONE heavy exchange — and every unordered id pair is streamed out
      with two chained Generates (posexplode × tail slice), never a
      materialized C(s,2) array: a hot shingle costs streamed rows
      (exactly what the former self-join produced), not a giant
      in-memory row;
    - the EXPLODED stream itself is never checkpointed (a ~150× corpus
      multiple — a storage bomb at 100 TB; the map-side shingle work
      is cheap, parallel CPU).

    SKEW BOUND (r10 advice): the posting list is ONE in-memory row of
    O(DF) structs per (block, shingle) — ~16 bytes/doc, so a shingle
    shared by 1 M docs builds a ~16 MB aggregation row (fine), 100 M a
    ~1.6 GB one (executor OOM). The assumed operating bound is
    DF ≲ 10⁷ per shingle. That is not an extra assumption in practice:
    both consumers emit C(DF, 2) pairs per shingle, so a 10⁷-DF shingle
    already implies 5·10¹³ output rows — the pair COUNT, not the
    posting row, is the real wall, and it was identical under the old
    streaming self-join. A corpus with hot/stop shingles must bound DF
    upstream either way: raise ``n`` (longer shingles are rarer), or
    pre-drop stop-shingles before pairing (standard stop-gram practice;
    changes scores, hence a caller decision, not a silent default
    here). Capping/salting inside this operator cannot preserve results
    (splitting a posting list loses its cross-split pairs), so it
    deliberately stays out.

    Counts are identical to the self-join: each shared shingle
    contributes exactly one canonical (min-id, max-id) pair, the
    ``_id`` inequality guard reproduces the old strict ``id_a < id_b``
    filter (including the drop of null-id pairs), collect_list order
    cannot matter because ALL unordered pairs are emitted, and
    ``min(n_a)`` aggregates a per-pair-constant (ids are unique, so
    every occurrence of ``id_a`` carries the same size)."""
    blk = [block] if block else []
    sh_expr = shingles_expr(text, n)
    arr = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(b) for b in blk],
        sh_expr.alias("_sh"),
    )
    sh = arr.select(
        *[F.col(b) for b in blk],
        F.struct(F.col("_id"), F.size("_sh").alias("_n")).alias("_doc"),
        F.explode("_sh").alias("shingle"),
    )
    posting = sh.groupBy(*blk, "shingle").agg(
        F.collect_list("_doc").alias("_docs")
    )
    return (
        posting.select(
            "_docs", F.posexplode("_docs").alias("_i", "_a")
        )
        .select(
            "_a",
            F.explode(
                F.slice(F.col("_docs"), F.col("_i") + 2, F.size("_docs"))
            ).alias("_b"),
        )
        .filter(F.col("_a._id") != F.col("_b._id"))
        .select(
            F.least("_a", "_b").alias("_lo"),
            F.greatest("_a", "_b").alias("_hi"),
        )
        .groupBy(
            F.col("_lo._id").alias("id_a"), F.col("_hi._id").alias("id_b")
        )
        .agg(
            F.count("*").alias("n_inter"),
            F.min("_lo._n").alias("n_a"),
            F.min("_hi._n").alias("n_b"),
        )
    )


def jaccard_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    block: str | None = None,
) -> DataFrame:
    """All pairs (a < b) with n-gram Jaccard >= threshold.

    SET semantics end to end: ``shingles_expr`` emits distinct shingles
    per document, so the self-join intersection count is exactly
    |A ∩ B| (each shared shingle joins 1×1) and the denominator
    n_a + n_b − n_inter is the true union size — self-repetitive
    documents collapse to their shingle-type sets and exact duplicates
    score 1.0. The denominator guard below is defensive only (union
    size ≥ 1 whenever a pair exists under set semantics).

    ``block`` optionally restricts comparisons to equal-key groups —
    at full scale, feed LSH candidates instead of blocking.
    """
    inter = _shingle_intersection(df, text, id_col, n, block)
    out = (
        inter.filter(F.col("n_a") + F.col("n_b") - F.col("n_inter") > 0)
        .withColumn(
            "jaccard",
            pround_expr(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")


def _is_prime(x: int) -> bool:
    if x < 2:
        return False
    for p in (2, 3, 5, 7, 11, 13):
        if x % p == 0:
            return x == p
    i = 17
    while i * i <= x:
        if x % i == 0:
            return False
        i += 2
    return True


def minhash_coeffs(num_perm: int) -> list[tuple[int, int]]:
    """First ``num_perm`` (a, b) affine coefficient pairs: the 4 pinned
    base pairs (oracle-registered constants), then deterministically
    generated primes — ``a`` from 10^8 upward, ``b`` from 10^6 upward —
    so any permutation count replays identically in any engine.
    Products stay exact in BIGINT: sid is the raw 32-bit h32, so
    sid < 2^32, and every ``a`` (pinned or generated near 10^8) stays
    under the 2^27 ceiling that keeps sid·a + b < 2^59 — extend the
    family only with primes below 2^27 or the product overflows the
    exact-int64 envelope."""
    coeffs = list(MINHASH_COEFFS)
    a_next, b_next = 100_000_001, 1_000_001
    while len(coeffs) < num_perm:
        while not _is_prime(a_next):
            a_next += 2
        while not _is_prime(b_next):
            b_next += 2
        coeffs.append((a_next, b_next))
        a_next += 2
        b_next += 2
    return coeffs[:num_perm]


def lsh_size(
    threshold: float, max_perms: int = 64
) -> tuple[int, int]:
    """(num_perm, band_size) whose LSH S-curve midpoint
    ``(1/bands)^(1/band_size)`` sits closest to the target Jaccard
    ``threshold`` within the permutation budget — the standard
    datasketch-style parameter pick (same sizing role as
    ``bloom.bloom_size``). Prefers more permutations on ties (sharper
    S-curve)."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1): {threshold}")
    if max_perms < 2:
        raise ValueError("max_perms must be >= 2")
    best: tuple[float, int, int] | None = None
    for r in range(1, max_perms + 1):
        for b in range(1, max_perms // r + 1):
            if b * r < 2:
                continue
            mid = (1.0 / b) ** (1.0 / r)
            key = (abs(mid - threshold), -(b * r), r)
            if best is None or key < best[0]:
                best = (key, b * r, r)
    assert best is not None
    return best[1], best[2]


def lsh_capture_prob(jaccard: float, bands: int, band_size: int) -> float:
    """P(candidate) = 1 − (1 − j^r)^b — the S-curve the sizing targets."""
    return 1.0 - (1.0 - jaccard**band_size) ** bands


def minhash_signatures(
    df: DataFrame, text: str, id_col: str, n: int = 3,
    num_perm: int | None = None,
) -> DataFrame:
    """k-wide MinHash signature per document (portable affine family).
    ``num_perm`` defaults to the 4 pinned base coefficients; larger
    counts extend the family deterministically (``minhash_coeffs``)."""
    sh = exploded_shingles(df, text, id_col, n).withColumn(
        "sid", h32_expr("shingle")
    )
    coeffs = minhash_coeffs(num_perm) if num_perm else MINHASH_COEFFS
    aggs = [
        F.min((F.col("sid") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(coeffs)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame, text: str, id_col: str, n: int = 3, band_size: int = 2,
    num_perm: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: documents sharing any MinHash band.
    Size (``num_perm``, ``band_size``) from a target Jaccard threshold
    with :func:`lsh_size`; the default (4 permutations, 2-rows bands)
    is the pinned oracle-registered config."""
    # the banded self-join consumes the signature frame on BOTH sides,
    # and Catalyst does not reuse the subtree: without materialization
    # the full text scan + shingle explode + min-hash aggregation runs
    # twice per query (plan-verified: 4 parquet scans in the r10
    # baseline plan). The signature frame is (id, k mh columns) —
    # linear and narrow, never the text — so a lazy pin
    # pays one tiny persist for half the heavy map work (guide §8:
    # decide on fingerprints, scan the payload once).
    sig = pin(minhash_signatures(df, text, id_col, n, num_perm), eager=False)
    k = num_perm or len(MINHASH_COEFFS)
    band_keys = [
        F.concat_ws(
            "_", *[f"mh{i}" for i in range(b0, min(b0 + band_size, k))]
        )
        for b0 in range(0, k, band_size)
    ]
    # single-pass band expansion (posexplode) — signatures are computed
    # once, not once per band branch
    allb = sig.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.array(*band_keys)).alias("band", "bkey"),
    )
    a = allb.select(F.col("_id").alias("id_a"), "band", "bkey")
    b = allb.select(F.col("_id").alias("id_b"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_expr_input(df: DataFrame, text: str, id_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash per document from distinct-token hash bit votes."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens_expr(text))).alias("tok"),
    ).withColumn("h", h32_expr("tok"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    # bit extraction via exact double arithmetic (h < 2^32 ≪ 2^53):
    # floor(h / 2^bit) % 2 — portable to any SQL engine, no shift builtins
    pow2 = F.pow(F.lit(2.0), F.col("bit"))
    votes = (
        toks.select(id_col, "h", bit)
        .withColumn(
            "vote",
            F.when(F.floor(F.col("h") / pow2) % 2 == 1, 1).otherwise(-1),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("s"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("bit")).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def _validate_simhash_params(bits: int, k: int) -> None:
    if not 1 <= k < bits:
        raise ValueError(f"k must be in [1, bits): got k={k}, bits={bits}")
    if bits > 32:
        # the token hash is 32-bit (h32_expr): fingerprint bits ≥ 32
        # would be constant 0, so their bands match EVERY pair and the
        # equi-join degenerates to the all-pairs cross product the
        # banded design exists to prevent — reject loudly instead.
        raise ValueError(f"bits must be <= 32 (h32 token hash): got {bits}")


def _simhash_band_keys(fp: Column, bits: int, k: int) -> list[Column]:
    """The k+1 pigeonhole band values of a ``bits``-bit fingerprint
    (floor/pow double arithmetic — exact below 2^53, replays in SQL)."""
    nb = k + 1
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    band_keys = []
    off = 0
    for w in widths:
        band_keys.append(
            (F.floor(fp / F.pow(F.lit(2.0), F.lit(off)))
             % F.lit(float(2 ** w))).cast("long")
        )
        off += w
    return band_keys


def simhash_hamming_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    bits: int = 32,
    k: int = 3,
) -> DataFrame:
    """SimHash NEAR-duplicate pairs within Hamming radius ``k`` —
    fingerprint EQUALITY (``q_simhash``-style groupBy) misses docs
    whose fingerprints differ in a few bits, which is exactly how
    SimHash encodes near-duplication (Manku/Jain/Sarma, WWW'07
    "Detecting Near-Duplicates for Web Crawling").

    Scale design — the pigeonhole banded join, NOT all-pairs: the
    ``bits``-bit fingerprint splits into ``k+1`` contiguous bands; two
    fingerprints within Hamming distance ``k`` have fewer than ``k+1``
    differing bits, so AT LEAST ONE band matches exactly. Candidates
    therefore come from an EQUI-join on (band_idx, band_value) — the
    same linear band-bucket shape as MinHash-LSH (shuffle keyed on the
    band value, no nested-loop anywhere; plan-guarded) — and only
    candidates pay the exact ``bit_count(xor) <= k`` verify. Recall is
    EXACT (pigeonhole, not probabilistic); precision filtering is the
    cheap popcount.

    Band extraction uses floor/pow double arithmetic (h < 2^32 ≪ 2^53
    exact) so the fingerprint → band math replays bit-identically in
    any SQL engine. Returns (id_a, id_b, hamming), id_a < id_b.
    """
    _validate_simhash_params(bits, k)
    # materialized once: the banded self-join reads the fingerprint
    # frame on both sides and the tokenize + bit-vote aggregation would
    # otherwise execute twice (same rationale as lsh_candidate_pairs —
    # the frame is (id, simhash), two narrow columns)
    sig = pin(simhash_expr_input(df, text, id_col, bits), eager=False)
    band_keys = _simhash_band_keys(F.col("simhash"), bits, k)
    allb = sig.select(
        F.col(id_col).alias("_id"),
        F.col("simhash").alias("_sh"),
        F.posexplode(F.array(*band_keys)).alias("band", "bkey"),
    )
    a = allb.select(
        F.col("_id").alias("id_a"), F.col("_sh").alias("_sha"), "band", "bkey"
    )
    b = allb.select(
        F.col("_id").alias("id_b"), F.col("_sh").alias("_shb"), "band", "bkey"
    )
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sha").bitwiseXOR(F.col("_shb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .distinct()  # a pair can match in several bands
    )


def simhash_clusters(
    df: DataFrame,
    text: str,
    id_col: str,
    bits: int = 32,
    k: int = 3,
) -> DataFrame:
    """Cluster-collapsed Hamming near-dup verdicts: ``(id, cluster_id,
    keep)`` — one row per document, keep = canonical (minimum id) per
    radius-``k`` component, singletons keep themselves.

    Scale design — the closure runs on the FINGERPRINT QUOTIENT graph,
    never on document pairs: docs sharing a fingerprint are hamming-0
    duplicates (one component by construction), so connected components
    over DISTINCT fingerprints — banded candidates (same pigeonhole
    equi-join as :func:`simhash_hamming_pairs`) + exact popcount verify
    — yield exactly the document components. This matters doubly at
    corpus scale: a near-dup clique of d documents costs O(d²) rows as
    a pair stream (sf0.1 measures a 3933-doc clique → 777 k pairs) but
    only O(distinct fps · band overlap) here, and the min-label
    propagation runs on the tiny fingerprint graph. Output is linear
    in documents; the quadratic pair view stays available separately
    for audit.
    """
    from pyield_spark.operators.graph import connected_components

    _validate_simhash_params(bits, k)
    # materialized once (narrow (id, simhash) frame): three consumers —
    # the distinct-fingerprint graph build and both sides of the final
    # label join — would otherwise each re-run the corpus tokenize +
    # bit-vote passes (plan-verified 2 full-text subtrees in the r10
    # baseline plan)
    sig = pin(simhash_expr_input(df, text, id_col, bits), eager=False)
    dfp = sig.select("simhash").distinct()
    band_keys = _simhash_band_keys(F.col("simhash"), bits, k)
    allb = dfp.select(
        F.col("simhash").alias("_fp"),
        F.posexplode(F.array(*band_keys)).alias("band", "bkey"),
    )
    a = allb.select(F.col("_fp").alias("fa"), "band", "bkey")
    b = allb.select(F.col("_fp").alias("fb"), "band", "bkey")
    fpairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("fa") < F.col("fb"))
        .filter(F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= k)
        .select("fa", "fb")
        .distinct()
    )
    fcomp = connected_components(fpairs, "fa", "fb").select(
        F.col("node").alias("simhash"), F.col("cluster_id").alias("_flab")
    )
    # labeled feeds the cluster aggregate AND the final join — one
    # materialization of (id, simhash, _flabel) instead of running the
    # sig⋈fcomp join twice
    labeled = pin(
        sig.join(fcomp, "simhash", "left").withColumn(
            "_flabel", F.coalesce("_flab", F.col("simhash"))
        ),
        eager=False,
    )
    agg = labeled.groupBy("_flabel").agg(
        F.min(id_col).alias("_cmin"), F.count("*").alias("_csize")
    )
    return labeled.join(agg, "_flabel").select(
        id_col,
        F.when(F.col("_csize") > 1, F.col("_cmin"))
        .otherwise(F.col(id_col))
        .alias("cluster_id"),
        ((F.col("_csize") == 1) | (F.col(id_col) == F.col("_cmin"))).alias(
            "keep"
        ),
    )


def containment_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    block: str | None = None,
) -> DataFrame:
    """All pairs (a < b) whose smaller shingle SET is >= ``threshold``
    contained in the pair's intersection: ``|A∩B| / min(|A|,|B|)``.

    Jaccard misses subset duplication — a paragraph quoted inside a
    10× longer page scores J ≈ 0.1 but containment ≈ 1.0 — so curation
    pipelines run containment alongside it to catch excerpt/wrapper
    duplicates. Set semantics (distinct shingles), the same as
    ``jaccard_pairs`` — containment is a coverage question and the
    shared splitter is set-typed end to end.

    Same scale stance as ``jaccard_pairs``: ``block`` bounds the
    quadratic stage; at full scale feed LSH candidates instead.
    """
    inter = _shingle_intersection(df, text, id_col, n, block)
    out = (
        inter.withColumn(
            "containment",
            pround_expr(
                F.col("n_inter") / F.least("n_a", "n_b").cast("double"), 6
            ),
        )
        .filter(F.col("containment") >= threshold)
    )
    return out.select("id_a", "id_b", "n_inter", "n_a", "n_b", "containment")
