"""LLM-data-pipeline queries: dedup, similarity search, text analysis,
multimodal plumbing — over the ``documents`` and ``embeddings`` tables.

Every hash/shingle/signature uses portable arithmetic (md5-derived ids,
small-modulus rolling hashes, decimal-accumulated dot products) so the
DuckDB oracle replays the exact computation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyield_spark.operators import dedup as dd
from pyield_spark.operators import graph as gr
from pyield_spark.operators import multimodal as mm
from pyield_spark.operators import similarity as sim
from pyield_spark.operators import text as tx
from pyield_spark.operators.pinning import pin
from pyield_spark.queries import query, tables
from pyield_spark.queries.oracle_helpers import pround_sql

# shared SQL fragments ------------------------------------------------------

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_SW_EN = "['the','a','of','and','to','in','is','it','for','on']"

_GRAMS3 = f"""
  list_distinct(list_transform(
    range(1, greatest(len({_TOKS}) - 2, 0) + 1),
    i -> concat_ws(' ', {_TOKS}[i], {_TOKS}[i+1], {_TOKS}[i+2])))
""".strip()


# === text analysis: token counts, quality, fingerprint, lang-id ===========


@query(
    "q_text_stats",
    oracle=f"""
    SELECT doc_id, lang, source,
      CAST(len({_TOKS}) AS INT) AS n_tokens,
      CAST(len(list_filter({_TOKS}, t -> list_contains({_SW_EN}, t))) AS INT) AS en_stopword_hits,
      {pround_sql(
          "0.4 * least(len(" + _TOKS + ") / 100.0, 1.0)"
          " + 0.4 * (len(list_filter(" + _TOKS + ", t -> list_contains(" + _SW_EN + ", t)))"
          "          / CAST(len(" + _TOKS + ") AS DOUBLE))"
          " + 0.2 * (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / CAST(length(text) AS DOUBLE))",
          6)} AS quality_score,
      CAST(list_reduce(
        list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(text) + 1), i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
        (a, b) -> (a * 131 + b) % 1048573) AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def q_text_stats(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents", widen=True)
    return docs.select(
        "doc_id",
        "lang",
        "source",
        tx.token_count_expr("text").cast("int").alias("n_tokens"),
        tx.stopword_hits_expr("text", tx.STOPWORDS["en"]).cast("int").alias(
            "en_stopword_hits"
        ),
        tx.quality_score_expr("text").alias("quality_score"),
        tx.fingerprint_expr("text").alias("fingerprint"),
    )


# === exact dedup: content-hash groups (hash-groupBy — one shuffle) ========


@query(
    "q_exact_dedup",
    oracle=f"""
    SELECT md5({_NORM}) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    """,
)
def q_exact_dedup(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    return dd.exact_dup_groups(docs, "text", "doc_id")


# === n-gram Jaccard near-dup pairs (blocked by source) ====================


@query(
    "q_jaccard_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id AS _id, source, unnest({_GRAMS3}) AS shingle
      FROM documents
    ),
    sizes AS (SELECT _id, COUNT(*) AS _n FROM sh GROUP BY _id),
    inter AS (
      SELECT a._id AS id_a, b._id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source = b.source
      WHERE a._id < b._id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa._n AS BIGINT) AS n_a, CAST(sb._n AS BIGINT) AS n_b,
           {pround_sql("n_inter / CAST(sa._n + sb._n - n_inter AS DOUBLE)", 6)} AS jaccard
    FROM inter
    JOIN sizes sa ON sa._id = id_a
    JOIN sizes sb ON sb._id = id_b
    WHERE sa._n + sb._n - n_inter > 0
      AND {pround_sql("n_inter / CAST(sa._n + sb._n - n_inter AS DOUBLE)", 6)} >= 0.1
    """,
)
def q_jaccard_pairs(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    return dd.jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.1, block="source"
    )


# === MinHash + LSH candidate pairs ========================================


@query(
    "q_minhash_lsh",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({_GRAMS3}) AS shingle FROM documents
    ),
    sid AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS sid
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
        MIN((sid * 1299721 + 104729) % 2147483647) AS mh0,
        MIN((sid * 15485863 + 32452843) % 2147483647) AS mh1,
        MIN((sid * 49979687 + 67867967) % 2147483647) AS mh2,
        MIN((sid * 86028121 + 93827561) % 2147483647) AS mh3
      FROM sid GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id AS _id, 0 AS band,
             concat_ws('_', CAST(mh0 AS VARCHAR), CAST(mh1 AS VARCHAR)) AS bkey FROM sig
      UNION ALL
      SELECT doc_id, 1, concat_ws('_', CAST(mh2 AS VARCHAR), CAST(mh3 AS VARCHAR)) FROM sig
    )
    SELECT DISTINCT a._id AS id_a, b._id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
    WHERE a._id < b._id
    """,
)
def q_minhash_lsh(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    return dd.lsh_candidate_pairs(docs, "text", "doc_id", n=3, band_size=2)


# --- threshold-sized MinHash-LSH (r9): parameters picked by lsh_size
# for a target Jaccard of 0.7 within a 16-permutation budget — the
# datasketch-style S-curve sizing, with the extended deterministic
# coefficient family (minhash_coeffs) pinned in the oracle.

_SZ_PERMS, _SZ_R = dd.lsh_size(0.7, max_perms=16)
_SZ_COEFFS = dd.minhash_coeffs(_SZ_PERMS)
_SZ_MH = ",\n        ".join(
    f"MIN((sid * {a} + {b}) % 2147483647) AS mh{i}"
    for i, (a, b) in enumerate(_SZ_COEFFS)
)
_SZ_BANDS = "\n      UNION ALL\n".join(
    "      SELECT doc_id, {idx}, concat_ws('_', {cols}) FROM sig".format(
        idx=bi,
        cols=", ".join(
            f"CAST(mh{i} AS VARCHAR)"
            for i in range(b0, min(b0 + _SZ_R, _SZ_PERMS))
        ),
    )
    for bi, b0 in enumerate(range(0, _SZ_PERMS, _SZ_R))
)


@query(
    "q_minhash_sized",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({_GRAMS3}) AS shingle FROM documents
    ),
    sid AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) AS sid
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
        {_SZ_MH}
      FROM sid GROUP BY doc_id
    ),
    bands(_id, band, bkey) AS (
{_SZ_BANDS}
    )
    SELECT DISTINCT a._id AS id_a, b._id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
    WHERE a._id < b._id
    """,
)
def q_minhash_sized(spark, sf_dir):
    """MinHash-LSH candidates with THRESHOLD-SIZED parameters:
    ``lsh_size(0.7)`` picks (bands=3, rows=3, 9 permutations) whose
    S-curve midpoint (1/3)^(1/3) ≈ 0.69 targets 0.7-Jaccard near-dups
    — a sharper capture curve than the 4-permutation pinned config
    (q_minhash_lsh), same single-pass posexplode band join. The
    extended affine coefficients are deterministic primes
    (operators/dedup.py::minhash_coeffs), replayed in the oracle."""
    docs = tables(spark, sf_dir, "documents")
    return dd.lsh_candidate_pairs(
        docs, "text", "doc_id", n=3, band_size=_SZ_R, num_perm=_SZ_PERMS
    )


# === SimHash fingerprints =================================================


@query(
    "q_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN CAST(floor(h / power(2.0, bit)) AS BIGINT) % 2 = 1
                 THEN 1 ELSE -1 END) AS s
      FROM h, generate_series(0, 31) t(bit)
      GROUP BY doc_id, bit
    )
    SELECT doc_id,
      CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
        AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def q_simhash(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    return dd.simhash_expr_input(docs, "text", "doc_id")


_SIMHASH_FP = f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, bit,
             SUM(CASE WHEN CAST(floor(h / power(2.0, bit)) AS BIGINT) % 2 = 1
                 THEN 1 ELSE -1 END) AS s
      FROM h, generate_series(0, 31) t(bit)
      GROUP BY doc_id, bit
    ),
    fp AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN s > 0 THEN CAST(power(2.0, bit) AS BIGINT) ELSE 0 END) AS BIGINT)
          AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@query(
    "q_simhash_hamming",
    # the oracle verifies SEMANTICS all-pairs (exact recall is the
    # banding theorem's claim — pigeonhole guarantees the equi-join
    # candidate set contains every pair within radius k, so the two
    # must agree row-for-row); the ENGINE never builds all pairs
    oracle=_SIMHASH_FP + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def q_simhash_hamming(spark, sf_dir):
    """SimHash near-dup pairs within Hamming radius 2 over the
    documents table — the banded (k+1 pigeonhole bands) equi-join
    route of operators/dedup.py::simhash_hamming_pairs; fingerprint
    equality (q_simhash) is the radius-0 special case."""
    docs = tables(spark, sf_dir, "documents")
    return dd.simhash_hamming_pairs(docs, "text", "doc_id", bits=32, k=2)


@query(
    "q_simhash_clusters",
    # closure twin: the oracle restates the engine's min-label
    # propagation as a recursive transitive closure + MIN — but over
    # DISTINCT FINGERPRINTS, not documents. The doc-level closure is
    # identical in result (docs sharing a fingerprint are hamming-0
    # pairs, hence one component) but quadratically heavier to close:
    # the sf0.1 giant near-dup cluster is a 3933-doc near-clique (avg
    # degree ~395; the recursive join materializes reach·degree ≈ 6e9
    # intermediates per iteration — measured >30 min), while the same
    # component holds only 1885 distinct fingerprints at degree ~15
    # (32 s end to end). Factoring the closure through the fingerprint
    # quotient graph is exact, not an approximation.
    oracle=_SIMHASH_FP.replace("WITH toks", "WITH RECURSIVE toks", 1) + """
    ,
    dfp AS (SELECT DISTINCT simhash FROM fp),
    fpairs AS (
      SELECT a.simhash AS fa, b.simhash AS fb
      FROM dfp a JOIN dfp b ON a.simhash < b.simhash
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    ),
    und AS (
      SELECT fa AS u, fb AS v FROM fpairs
      UNION
      SELECT fb, fa FROM fpairs
    ),
    reach(node, label) AS (
      SELECT u, u FROM und
      UNION
      SELECT e.v, r.label FROM reach r JOIN und e ON e.u = r.node
    ),
    fcomp AS (SELECT node, MIN(label) AS flabel FROM reach GROUP BY node),
    fmin AS (
      SELECT COALESCE(c.flabel, f.simhash) AS flabel,
             MIN(f.doc_id) AS cluster_id
      FROM fp f LEFT JOIN fcomp c ON c.node = f.simhash
      GROUP BY 1
    ),
    docc AS (
      SELECT f.doc_id, m.cluster_id,
             COUNT(*) OVER (PARTITION BY m.cluster_id) AS csize
      FROM fp f
      LEFT JOIN fcomp c ON c.node = f.simhash
      JOIN fmin m ON m.flabel = COALESCE(c.flabel, f.simhash)
    )
    SELECT d.doc_id,
           CASE WHEN dc.csize > 1 THEN dc.cluster_id ELSE d.doc_id END
             AS cluster_id,
           (dc.csize = 1 OR d.doc_id = dc.cluster_id) AS keep
    FROM documents d JOIN docc dc ON dc.doc_id = d.doc_id
    """,
)
def q_simhash_clusters(spark, sf_dir):
    """Cluster-collapsed Hamming near-dup (r8 VERDICT #4): banded
    radius-2 candidates → min-label-propagation components → one
    verdict row per document (cluster_id + keep) — output LINEAR in
    documents, not O(dups²) pairs. Both the engine and the oracle
    factor the closure through the DISTINCT-FINGERPRINT quotient graph
    (see operators/dedup.py::simhash_clusters — exact, and the only
    shape that survives a dense near-dup clique); the pair view
    (q_simhash_hamming) stays available for audit."""
    docs = tables(spark, sf_dir, "documents")
    return dd.simhash_clusters(docs, "text", "doc_id", bits=32, k=2)


# === brute-force cosine top-k over embeddings =============================


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    norms AS (
      SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (a, b) -> a + b) AS norm2
      FROM base
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
        {pround_sql(
          "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
          " i -> q.v[i] * b.v[i])), (a, b) -> a + b)"
          " / (sqrt(q.norm2) * sqrt(b.norm2))", 6)} AS cosine
      FROM norms q JOIN norms b ON b.vec_id <> q.vec_id
      WHERE q.vec_id % 100 = 0
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def q_cosine_topk(spark, sf_dir):
    emb = tables(spark, sf_dir, "embeddings")
    return sim.cosine_topk(emb, "vec_id", "embedding", k=5)


# === sign-LSH bucketing (the ANN scale path) ==============================


@query(
    "q_lsh_buckets",
    oracle="""
    WITH base AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    proj AS (
      SELECT vec_id, label, p,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
          i -> v[i] * (((1299721 * p + 104729 * (i - 1)) % 97) - 48))),
          (a, b) -> a + b) AS pr
      FROM base, generate_series(0, 7) t(p)
    )
    SELECT vec_id, CAST(MIN(label) AS INT) AS label,
      CAST(SUM(CASE WHEN pr > 0 THEN CAST(power(2.0, p) AS BIGINT) ELSE 0 END) AS BIGINT)
        AS bucket
    FROM proj GROUP BY vec_id
    """,
)
def q_lsh_buckets(spark, sf_dir):
    emb = tables(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        sim.lsh_bucket_expr("embedding", n_planes=8, dim=64).alias("bucket"),
    )


# === multimodal metadata (binary payloads, no decode) =====================


@query(
    "q_multimodal_meta",
    oracle="""
    SELECT doc_id,
      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      sha256(text) AS sha256,
      CASE WHEN unicode(substr(text, 1, 1)) % 3 = 0 THEN 'png'
           WHEN unicode(substr(text, 1, 1)) % 3 = 1 THEN 'jpeg'
           ELSE 'webp' END AS format
    FROM documents
    """,
)
def q_multimodal_meta(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    payload = mm.pack_binary_expr("text")
    meta = mm.media_metadata_exprs(payload)
    return docs.select(
        "doc_id",
        meta["n_bytes"].alias("n_bytes"),
        meta["sha256"].alias("sha256"),
        meta["format"].alias("format"),
    )


# === multimodal feature extraction (Arrow-batched stub decode) ============
# The decode itself is the declared stub, but the deterministic fake
# path IS oracle-checkable here: the kernel's byte-histogram moments run
# over UTF-8 payload bytes, and this corpus is pure ASCII (max codepoint
# 121 at every SF), so byte values equal char codes — DuckDB replays the
# per-stride sums exactly (the kernel rounds with the portable pround).

_MMF_CODES = """
    mmf_codes AS (
      SELECT doc_id, t.i AS i,
             CASE WHEN octet_length(encode(text)) <> length(text)
                  THEN error('q_multimodal_features oracle: non-ASCII document — byte/codepoint equivalence broken')
                  ELSE CAST(unicode(substr(text, CAST(t.i AS INT), 1)) AS DOUBLE)
             END AS c,
             length(text) AS n
      FROM documents, LATERAL unnest(range(1, length(text) + 1)) t(i)
    )
""".strip()


def _mmf_f(k: int) -> str:
    return pround_sql(
        f"COALESCE(SUM(CASE WHEN (i - 1) % {mm.FEATURE_DIM} = {k} THEN c END), 0)"
        f" / (255.0 * MAX(n))",
        8,
    )


@query(
    "q_multimodal_features",
    oracle=f"""
    WITH {_MMF_CODES},
    f AS (
      SELECT doc_id,
             {", ".join(f"{_mmf_f(k)} AS f{k}" for k in range(mm.FEATURE_DIM))}
      FROM mmf_codes GROUP BY doc_id
    )
    SELECT d.doc_id,
           {", ".join(f"COALESCE(f.f{k}, 0.0) AS f{k}" for k in range(mm.FEATURE_DIM))}
    FROM documents d LEFT JOIN f ON f.doc_id = d.doc_id
    """,
)
def q_multimodal_features(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    # the oracle equates payload BYTES with CHAR CODES, which only holds
    # for ASCII text — assert it instead of relying on an observed data
    # property (a future non-ASCII doc must fail loudly, not desync);
    # the oracle carries the mirror-image error() guard.
    payloads = docs.select(
        "doc_id",
        mm.ascii_payload_expr("text", "q_multimodal_features").alias("payload"),
    )
    feats = mm.extract_features(payloads, "payload", "doc_id")
    # project the feature vector to scalar columns: the driver's
    # canonicalizer sorts pandas columns, and list cells are unhashable
    # (r2 run errored on exactly this) — f0..f7 doubles compare cleanly
    return feats.select(
        "doc_id",
        *[F.col("features")[i].alias(f"f{i}") for i in range(mm.FEATURE_DIM)],
    )


# === embedding-cosine near-dup: LSH bucket-join candidates, exact
# rescoring, threshold — the scale path composition (bucket prune keeps
# the pair space linear; brute force only inside buckets) ===============


@query(
    "q_embedding_neardup",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    proj AS (
      SELECT vec_id, v, p,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
          i -> v[i] * (((1299721 * p + 104729 * (i - 1)) % 97) - 48))),
          (a, b) -> a + b) AS pr
      FROM base, generate_series(0, 7) t(p)
    ),
    bucketed AS (
      SELECT vec_id, MIN(v) AS v,
        CAST(SUM(CASE WHEN pr > 0 THEN CAST(power(2.0, p) AS BIGINT) ELSE 0 END) AS BIGINT)
          AS bucket
      FROM proj GROUP BY vec_id
    ),
    norms AS (
      SELECT vec_id, v, bucket,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (a, b) -> a + b) AS norm2
      FROM bucketed
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        {pround_sql(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
            " i -> a.v[i] * b.v[i])), (x, y) -> x + y)"
            " / (sqrt(a.norm2) * sqrt(b.norm2))", 6)} AS cosine
      FROM norms a JOIN norms b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.2
    """,
)
def q_embedding_neardup(spark, sf_dir):
    from pyield_spark.functions.numbers import pround_expr
    from pyield_spark.operators.similarity import dot_dec, lsh_bucket_expr, norm_sq_dec

    emb = tables(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    bucketed = base.withColumn(
        "bucket", lsh_bucket_expr("v", n_planes=8, dim=64)
    ).withColumn("norm2", norm_sq_dec("v"))
    a = bucketed.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("norm2").alias("na"),
        "bucket",
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("norm2").alias("nb"),
        "bucket",
    )
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.withColumn(
        "cosine",
        pround_expr(
            dot_dec("va", "vb")
            / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))),
            6,
        ),
    )
    return scored.filter(F.col("cosine") >= 0.2).select("id_a", "id_b", "cosine")


# === IVF-bucketed ANN (the indexed scale path next to sign-LSH) ===========

_IVF_DOT_QB = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
    " i -> q.v[i] * b.v[i])), (a, b) -> a + b)"
)
_IVF_DOT_VC = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
    " i -> n.v[i] * c.v[i])), (a, b) -> a + b)"
)


@query(
    "q_ivf_topk",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    norms AS (
      SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (a, b) -> a + b) AS norm2
      FROM base
    ),
    cents AS (
      SELECT vec_id AS cid, v, norm2 FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM norms
      ) WHERE crn <= 16
    ),
    assign AS (
      SELECT vec_id, v, norm2, cid FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM norms n CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, v, norm2, cid FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM norms n CROSS JOIN cents c
        WHERE n.vec_id % 100 = 0
      ) WHERE arn <= 4
    ),
    cand AS (
      SELECT q.query_id, b.vec_id AS neighbor_id, q.cid AS list_id,
        {pround_sql(_IVF_DOT_QB + " / (sqrt(q.norm2) * sqrt(b.norm2))", 6)} AS cosine
      FROM probes q JOIN assign b ON b.cid = q.cid AND b.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT query_id, neighbor_id, list_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def q_ivf_topk(spark, sf_dir):
    """IVF ANN over the embeddings table: 16-list codebook, 4-probe
    search, exact in-list rescore (see operators/similarity.py::ivf_topk
    for the 100 TB design)."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=16, n_probe=4
    )


# --- filtered vector search (r9): the vector-store "metadata filter"
# feature — true top-k among index vectors satisfying a predicate,
# served from the SAME shared lists (pre-filter semantics; queries
# need not match the filter; n_probe raised 4→8 to keep candidate
# counts over the thinned lists).


@query(
    "q_ann_filtered",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings
    ),
    norms AS (
      SELECT vec_id, v, label,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (a, b) -> a + b) AS norm2
      FROM base
    ),
    cents AS (
      SELECT vec_id AS cid, v, norm2 FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM norms
      ) WHERE crn <= 16
    ),
    assign AS (
      SELECT vec_id, v, norm2, cid FROM (
        SELECT n.vec_id, n.v, n.norm2, n.label, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM norms n CROSS JOIN cents c
      ) WHERE arn = 1 AND label % 2 = 0
    ),
    probes AS (
      SELECT vec_id AS query_id, v, norm2, cid FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM norms n CROSS JOIN cents c
        WHERE n.vec_id % 100 = 0
      ) WHERE arn <= 8
    ),
    cand AS (
      SELECT q.query_id, b.vec_id AS neighbor_id, q.cid AS list_id,
        {pround_sql(_IVF_DOT_QB + " / (sqrt(q.norm2) * sqrt(b.norm2))", 6)} AS cosine
      FROM probes q JOIN assign b ON b.cid = q.cid AND b.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT query_id, neighbor_id, list_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    """,
)
def q_ann_filtered(spark, sf_dir):
    """FILTERED vector search: top-5 among even-label vectors only,
    from the SAME shared 16-list index (pre-filter semantics — the
    predicate evaluates at the corpus scan, no extra join; queries are
    unrestricted; n_probe=8 compensates the thinned lists). The
    metadata-filter feature every production vector store exposes —
    see operators/similarity.py::ivf_topk ``candidate_pred``."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=16, n_probe=8,
        candidate_pred=F.col("label") % 2 == 0,
    )


# === IVF-PQ: product-quantized candidate scoring + exact refine ===========

_PQ_L2_SJ = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 17),"
    " i -> (n.v[c.s * 16 + i] - c.sv[i]) * (n.v[c.s * 16 + i] - c.sv[i])))"
    ", (a, b) -> a + b)"
)
_PQ_QDOT_SJ = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 17),"
    " i -> q.v[c.s * 16 + i] * c.sv[i])), (a, b) -> a + b)"
)
_PQ_ADC_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 4),"
    " s -> l.lut[s + 1][pm.codes[s + 1] + 1])), (a, b) -> a + b)"
)
_PQ_EXACT_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
    " i -> qv[i] * bv[i])), (a, b) -> a + b)"
)


@query(
    "q_ivfpq_topk",
    oracle=f"""
    WITH base AS (
      -- pins the engine's drop-invalid contract (pq_encode/ivfpq_topk
      -- filter null / wrong-length embeddings out of the index) rather
      -- than relying on the generator never emitting one (r7 ADVICE)
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    norms AS (
      SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (a, b) -> a + b) AS norm2
      FROM base
    ),
    cents AS (
      SELECT vec_id AS cid, v, norm2 FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM norms
      ) WHERE crn <= 16
    ),
    assign AS (
      SELECT vec_id, v, norm2, cid FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM norms n CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    cwsrc AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS r FROM norms
      ) WHERE r <= 16
    ),
    cwn AS (
      SELECT ss.s, w.j,
        list_slice(w.v, ss.s * 16 + 1, ss.s * 16 + 16) AS sv,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(list_slice(w.v, ss.s * 16 + 1, ss.s * 16 + 16),
                         x -> x * x)), (a, b) -> a + b) AS svn2
      FROM cwsrc w CROSS JOIN (SELECT unnest(range(0, 4)) AS s) ss
    ),
    codes AS (
      SELECT vec_id, s, j AS code, svn2 FROM (
        SELECT n.vec_id, c.s, c.j, c.svn2,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id, c.s ORDER BY
            {pround_sql(_PQ_L2_SJ, 6)} ASC, c.j) AS rn
        FROM norms n CROSS JOIN cwn c
      ) WHERE rn = 1
    ),
    pqmeta AS (
      SELECT vec_id,
        list(code ORDER BY s) AS codes,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list(svn2 ORDER BY s)),
                    (a, b) -> a + b) AS pqn2
      FROM codes GROUP BY vec_id
    ),
    probes AS (
      SELECT vec_id AS query_id, v, norm2, cid FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM norms n CROSS JOIN cents c
        WHERE n.vec_id % 100 = 0
      ) WHERE arn <= 4
    ),
    qlut AS (
      SELECT query_id, list(lrow ORDER BY s) AS lut FROM (
        SELECT q.vec_id AS query_id, c.s,
          list({_PQ_QDOT_SJ} ORDER BY c.j) AS lrow
        FROM (SELECT * FROM norms WHERE vec_id % 100 = 0) q CROSS JOIN cwn c
        GROUP BY q.vec_id, c.s
      ) GROUP BY query_id
    ),
    cand AS (
      SELECT p.query_id, b.vec_id AS neighbor_id, p.cid AS list_id,
        p.v AS qv, p.norm2 AS qnorm2, b.v AS bv, b.norm2 AS bnorm2,
        {pround_sql(
            _PQ_ADC_DOT + " / (sqrt(p.norm2) * sqrt(pm.pqn2))", 6)} AS adc_cosine
      FROM probes p
      JOIN assign b ON b.cid = p.cid AND b.vec_id <> p.query_id
      JOIN pqmeta pm ON pm.vec_id = b.vec_id
      JOIN qlut l ON l.query_id = p.query_id
    ),
    shortlist AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_cosine DESC, neighbor_id) AS arn
        FROM cand WHERE NOT isnan(adc_cosine)
      ) WHERE arn <= 20
    ),
    refined AS (
      SELECT query_id, neighbor_id, list_id, adc_cosine,
        {pround_sql(
            _PQ_EXACT_DOT + " / (sqrt(qnorm2) * sqrt(bnorm2))", 6)} AS cosine
      FROM shortlist
    )
    SELECT query_id, neighbor_id, list_id, adc_cosine, cosine,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM refined WHERE NOT isnan(cosine)
    ) WHERE rnk <= 5
    """,
)
def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ ANN over the embeddings table: 16 coarse lists / 4
    probes, 4×16 product-quantization sub-codebooks, ADC shortlist of
    20 candidates, exact cosine refine to top-5 (see
    operators/similarity.py::ivfpq_topk for the 100 TB design — PQ
    codes shrink the candidate-scoring payload ~128× vs full float64
    vectors)."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.ivfpq_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=16, n_probe=4,
        m=4, ks=16, refine=20,
    )


# --- trained residual IVF-PQ: serve from the PINNED offline-trained
# codebooks (queries/ann_artifact.py — deterministic Lloyd output
# checked in as repr-exact literals), so the recall-bearing trained
# route sits INSIDE the oracle gate, not beside it (r8 VERDICT #2).
# The oracle replays the full residual pipeline from the same
# literals: coarse assign → residual PQ codes → reconstruction norm
# ‖c + r̂‖² → residual ADC (⟨q,c⟩ + Σ_s LUT[s][code_s]) → exact refine.

from pyield_spark.queries.ann_artifact import (  # noqa: E402
    BY_RESIDUAL as _ANN_RES,
    COARSE as _ANN_COARSE,
    PQ as _ANN_PQ,
)


def _sql_dvec(v):
    return "[" + ", ".join(repr(float(x)) for x in v) + "]::DOUBLE[]"


_CENT_ROWS = ",\n        ".join(
    f"({i}, {_sql_dvec(c)})" for i, c in enumerate(_ANN_COARSE)
)
_CW_ROWS = ",\n        ".join(
    f"({s}, {j}, {_sql_dvec(w)})"
    for s, subcb in enumerate(_ANN_PQ)
    for j, w in enumerate(subcb)
)
# residual code L2 per subspace: ((v - c) - w)² summed left-to-right —
# the same association order as the kernel's (X - cmat[cass]) - cw
_PQ_L2_RES = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 17),"
    " i -> (a.v[c.s * 16 + i] - a.cv[c.s * 16 + i] - c.sv[i])"
    " * (a.v[c.s * 16 + i] - a.cv[c.s * 16 + i] - c.sv[i])))"
    ", (x, y) -> x + y)"
)
_DOT_NC = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
    " i -> n.v[i] * c.cv[i])), (x, y) -> x + y)"
)
# residual ADC numerator: ⟨q,c⟩ then the m LUT lookups, left-to-right —
# same association as the Column chain qcdot + l0 + l1 + l2 + l3
_ADC_RES = (
    "p.qcdot"
    + "".join(f" + l.lut[{s + 1}][pq.codes[{s + 1}] + 1]" for s in range(4))
)


@query(
    "q_ivfpq_trained",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    norms AS (
      SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (x, y) -> x + y) AS norm2
      FROM base
    ),
    cents AS (
      SELECT cid, cv,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(cv, x -> x * x)),
                    (x, y) -> x + y) AS cnorm2
      FROM (VALUES
        {_CENT_ROWS}
      ) AS t(cid, cv)
    ),
    cw AS (
      SELECT s, j, sv FROM (VALUES
        {_CW_ROWS}
      ) AS t(s, j, sv)
    ),
    assign AS (
      SELECT vec_id, v, norm2, cid, cv FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid, c.cv,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_DOT_NC + " / (sqrt(n.norm2) * sqrt(c.cnorm2))", 6)} DESC,
            c.cid) AS arn
        FROM norms n CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT a.vec_id, c.s, c.j AS code,
          ROW_NUMBER() OVER (PARTITION BY a.vec_id, c.s ORDER BY
            {pround_sql(_PQ_L2_RES, 6)} ASC, c.j) AS rn
        FROM assign a CROSS JOIN cw c
      ) WHERE rn = 1
    ),
    pqmeta AS (
      SELECT k.vec_id,
        list(k.code ORDER BY k.s) AS codes,
        flatten(list(w.sv ORDER BY k.s)) AS rhat
      FROM codes k JOIN cw w ON w.s = k.s AND w.j = k.code
      GROUP BY k.vec_id
    ),
    pqn AS (
      SELECT p.vec_id, p.codes,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),
          i -> (a.cv[i] + p.rhat[i]) * (a.cv[i] + p.rhat[i]))),
          (x, y) -> x + y) AS pqn2
      FROM pqmeta p JOIN assign a ON a.vec_id = p.vec_id
    ),
    probes AS (
      SELECT vec_id AS query_id, v, norm2, cid, qcdot FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid,
          {_DOT_NC} AS qcdot,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_DOT_NC + " / (sqrt(n.norm2) * sqrt(c.cnorm2))", 6)} DESC,
            c.cid) AS arn
        FROM (SELECT * FROM norms WHERE vec_id % 100 = 0) n CROSS JOIN cents c
      ) WHERE arn <= 4
    ),
    qlut AS (
      SELECT query_id, list(lrow ORDER BY s) AS lut FROM (
        SELECT q.vec_id AS query_id, c.s,
          list({_PQ_QDOT_SJ} ORDER BY c.j) AS lrow
        FROM (SELECT * FROM norms WHERE vec_id % 100 = 0) q CROSS JOIN cw c
        GROUP BY q.vec_id, c.s
      ) GROUP BY query_id
    ),
    cand AS (
      SELECT p.query_id, b.vec_id AS neighbor_id, p.cid AS list_id,
        p.v AS qv, p.norm2 AS qnorm2, b.v AS bv, b.norm2 AS bnorm2,
        {pround_sql("(" + _ADC_RES + ") / (sqrt(p.norm2) * sqrt(pq.pqn2))", 6)}
          AS adc_cosine
      FROM probes p
      JOIN assign b ON b.cid = p.cid AND b.vec_id <> p.query_id
      JOIN pqn pq ON pq.vec_id = b.vec_id
      JOIN qlut l ON l.query_id = p.query_id
    ),
    shortlist AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_cosine DESC, neighbor_id) AS arn
        FROM cand WHERE NOT isnan(adc_cosine)
      ) WHERE arn <= 20
    ),
    refined AS (
      SELECT query_id, neighbor_id, list_id, adc_cosine,
        {pround_sql(
            _PQ_EXACT_DOT + " / (sqrt(qnorm2) * sqrt(bnorm2))", 6)} AS cosine
      FROM shortlist
    )
    SELECT query_id, neighbor_id, list_id, adc_cosine, cosine,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM refined WHERE NOT isnan(cosine)
    ) WHERE rnk <= 5
    """,
)
def q_ivfpq_trained(spark, sf_dir):
    """Trained residual IVF-PQ serve path: identical ladder to
    ``q_ivfpq_topk`` (16 lists / 4 probes / 4×16 PQ / refine 20 →
    top-5) but the coarse centroids and PQ codewords come from the
    pinned offline-trained artifact (``queries/ann_artifact.py``,
    ``by_residual=True`` — true FAISS-IVFPQ residual encoding). List
    ids are training ranks 0..15. The measured recall lift of trained
    + residual codebooks (PLANS.md "ANN recall envelope": 1.000 vs
    0.48 recall@5 on a clustered corpus) therefore ships inside the
    bit-exact oracle gate."""
    from pyield_spark.operators.similarity import TrainedCodebooks

    emb = tables(spark, sf_dir, "embeddings")
    cb = TrainedCodebooks(_ANN_COARSE, _ANN_PQ, _ANN_RES)
    return sim.ivfpq_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=16, n_probe=4,
        m=4, ks=16, refine=20, codebooks=cb,
    )


# --- SQ8 scalar-quantized ANN (r9): the 8×-compression middle rung
# between exact floats (q_cosine_topk) and 128× PQ codes (q_ivfpq_*).

_SQ8_DEQ_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
    " i -> q.v[i] * c.dq[i])), (x, y) -> x + y)"
)


def _sq_scan_oracle(lv: str) -> str:
    """Brute SQ-scan oracle (shared by q_sq8_topk / q_sq4_topk /
    the bits-parametrized family): ``lv`` is the code-domain level
    count as a SQL double literal — '255.0' for QT_8bit, '15.0'
    for QT_4bit."""
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND len(list_filter(CAST(embedding AS DOUBLE[]),
                            x -> x IS NULL OR isnan(x))) = 0
    ),
    stats AS (
      SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM (
        SELECT unnest(v) AS x, unnest(range(1, 65)) AS d FROM base
      ) GROUP BY d
    ),
    mnmx AS (
      SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM stats
    ),
    enc AS (
      SELECT b.vec_id, b.v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(b.v, x -> x * x)), (x, y) -> x + y) AS norm2,
        list_transform(range(1, 65), i -> CASE WHEN m.mx[i] = m.mn[i] THEN 0
          ELSE CAST(floor((b.v[i] - m.mn[i]) / (m.mx[i] - m.mn[i]) * {lv}
                          + 0.5) AS INT) END) AS codes,
        m.mn AS mn, m.mx AS mx
      FROM base b CROSS JOIN mnmx m
    ),
    corpus AS (
      SELECT vec_id, v, norm2, dq,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(dq, x -> x * x)), (x, y) -> x + y) AS dqn2
      FROM (
        SELECT *, list_transform(range(1, 65),
          i -> mn[i] + (CAST(codes[i] AS DOUBLE) * (mx[i] - mn[i])) / {lv})
          AS dq
        FROM enc
      )
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        q.v AS qv, q.norm2 AS qnorm2, c.v AS bv, c.norm2 AS bnorm2,
        {pround_sql(_SQ8_DEQ_DOT + " / (sqrt(q.norm2) * sqrt(c.dqn2))", 6)}
          AS sq_cosine
      FROM (SELECT * FROM enc WHERE vec_id % 100 = 0) q
      CROSS JOIN corpus c
      WHERE c.vec_id <> q.vec_id
    ),
    shortlist AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sq_cosine DESC, neighbor_id) AS srn
        FROM scored WHERE NOT isnan(sq_cosine)
      ) WHERE srn <= 20
    ),
    refined AS (
      SELECT query_id, neighbor_id, sq_cosine,
        {pround_sql(
            _PQ_EXACT_DOT + " / (sqrt(qnorm2) * sqrt(bnorm2))", 6)} AS cosine
      FROM shortlist
    )
    SELECT query_id, neighbor_id, sq_cosine, cosine, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM refined WHERE NOT isnan(cosine)
    ) WHERE rnk <= 5
    """


@query("q_sq8_topk", oracle=_sq_scan_oracle("255.0"))
def q_sq8_topk(spark, sf_dir):
    """Scalar-quantized (SQ8) ANN: per-dimension min/max affine 8-bit
    codes (FAISS ScalarQuantizer QT_8bit), asymmetric scoring (exact
    query floats vs dequantized corpus), shortlist 20 → exact refine
    top-5. The candidate scan reads dim BYTES per vector instead of
    dim float64s — the 8× middle rung between q_cosine_topk (exact)
    and q_ivfpq_topk (128× PQ) with near-exact first-stage ranking;
    see operators/similarity.py::sq8_encode for the train/add/search
    split."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.sq8_topk(emb, "vec_id", "embedding", k=5, refine=20)



@query("q_sq4_topk", oracle=_sq_scan_oracle("15.0"))
def q_sq4_topk(spark, sf_dir):
    """QT_4bit scalar quantization (r9 VERDICT #6): the same affine
    per-dim codes as q_sq8_topk with levels = 15 — dim NIBBLES per
    corpus vector, 16x candidate-payload compression (half the SQ8
    scan), shortlist 20 -> exact refine top-5. The recall floor of the
    coarser codes is measured in the tools/ann_recall.py envelope; the
    oracle gate here pins the exact pipeline replay at 3 SFs."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.sq8_topk(emb, "vec_id", "embedding", k=5, refine=20, bits=4)


@query(
    "q_ivf_sq8",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND len(list_filter(CAST(embedding AS DOUBLE[]),
                            x -> x IS NULL OR isnan(x))) = 0
    ),
    stats AS (
      SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM (
        SELECT unnest(v) AS x, unnest(range(1, 65)) AS d FROM base
      ) GROUP BY d
    ),
    mnmx AS (
      SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM stats
    ),
    enc AS (
      SELECT b.vec_id, b.v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(b.v, x -> x * x)), (x, y) -> x + y) AS norm2,
        list_transform(range(1, 65), i -> CASE WHEN m.mx[i] = m.mn[i] THEN 0
          ELSE CAST(floor((b.v[i] - m.mn[i]) / (m.mx[i] - m.mn[i]) * 255.0
                          + 0.5) AS INT) END) AS codes,
        m.mn AS mn, m.mx AS mx
      FROM base b CROSS JOIN mnmx m
    ),
    corpus AS (
      SELECT vec_id, v, norm2, dq,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(dq, x -> x * x)), (x, y) -> x + y) AS dqn2
      FROM (
        SELECT *, list_transform(range(1, 65),
          i -> mn[i] + (CAST(codes[i] AS DOUBLE) * (mx[i] - mn[i])) / 255.0)
          AS dq
        FROM enc
      )
    ),
    cents AS (
      SELECT vec_id AS cid, v, norm2 FROM (
        SELECT vec_id, v, norm2,
               ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM enc
      ) WHERE crn <= 16
    ),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM enc n CROSS JOIN cents c
      ) WHERE arn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, v AS qv, norm2 AS qnorm2, cid FROM (
        SELECT n.vec_id, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM enc n CROSS JOIN cents c
        WHERE n.vec_id % 100 = 0
      ) WHERE arn <= 4
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, p.cid AS list_id,
        p.qv, p.qnorm2, c.v AS bv, c.norm2 AS bnorm2,
        {pround_sql(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform("
            "range(1, 65), i -> p.qv[i] * c.dq[i])), (x, y) -> x + y)"
            " / (sqrt(p.qnorm2) * sqrt(c.dqn2))", 6)} AS sq_cosine
      FROM probes p
      JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
      JOIN corpus c ON c.vec_id = a.vec_id
    ),
    shortlist AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sq_cosine DESC, neighbor_id) AS srn
        FROM scored WHERE NOT isnan(sq_cosine)
      ) WHERE srn <= 20
    ),
    refined AS (
      SELECT query_id, neighbor_id, list_id, sq_cosine,
        {pround_sql(
            "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform("
            "range(1, 65), i -> qv[i] * bv[i])), (x, y) -> x + y)"
            " / (sqrt(qnorm2) * sqrt(bnorm2))", 6)} AS cosine
      FROM shortlist
    )
    SELECT query_id, neighbor_id, list_id, sq_cosine, cosine,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM refined WHERE NOT isnan(cosine)
    ) WHERE rnk <= 5
    """,
)
def q_ivf_sq8(spark, sf_dir):
    """IVF-SQ8 (FAISS ``IVF16,SQ8``): 16 coarse lists / 4 probes prune
    candidates, SQ8 dequantized scoring inside the probed lists,
    shortlist 20 → exact refine top-5 — the compute-pruned variant of
    q_sq8_topk (whose first stage scans the whole compressed corpus by
    contract). Same 8× candidate payload, ~n_probe/C of the scoring
    work."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.sq8_topk(
        emb, "vec_id", "embedding", k=5, refine=20,
        n_centroids=16, n_probe=4,
    )


@query(
    "q_sq8_index_add",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND len(list_filter(CAST(embedding AS DOUBLE[]),
                            x -> x IS NULL OR isnan(x))) = 0
    ),
    stats AS (
      SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM (
        SELECT unnest(v) AS x, unnest(range(1, 65)) AS d FROM base
        WHERE vec_id % 2 = 0
      ) GROUP BY d
    ),
    mnmx AS (
      SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx FROM stats
    ),
    enc AS (
      SELECT b.vec_id, b.v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(b.v, x -> x * x)), (x, y) -> x + y) AS norm2,
        list_transform(range(1, 65), i -> CASE WHEN m.mx[i] = m.mn[i] THEN 0
          ELSE GREATEST(0, LEAST(255,
            CAST(floor((b.v[i] - m.mn[i]) / (m.mx[i] - m.mn[i]) * 255.0
                       + 0.5) AS INT))) END) AS codes,
        m.mn AS mn, m.mx AS mx
      FROM base b CROSS JOIN mnmx m
    ),
    corpus AS (
      SELECT vec_id, v, norm2, dq,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(dq, x -> x * x)), (x, y) -> x + y) AS dqn2
      FROM (
        SELECT *, list_transform(range(1, 65),
          i -> mn[i] + (CAST(codes[i] AS DOUBLE) * (mx[i] - mn[i])) / 255.0)
          AS dq
        FROM enc
      )
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        q.v AS qv, q.norm2 AS qnorm2, c.v AS bv, c.norm2 AS bnorm2,
        {pround_sql(_SQ8_DEQ_DOT + " / (sqrt(q.norm2) * sqrt(c.dqn2))", 6)}
          AS sq_cosine
      FROM (SELECT * FROM enc WHERE vec_id % 100 = 0) q
      CROSS JOIN corpus c
      WHERE c.vec_id <> q.vec_id
    ),
    shortlist AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sq_cosine DESC, neighbor_id) AS srn
        FROM scored WHERE NOT isnan(sq_cosine)
      ) WHERE srn <= 20
    ),
    refined AS (
      SELECT query_id, neighbor_id, sq_cosine,
        {pround_sql(
            _PQ_EXACT_DOT + " / (sqrt(qnorm2) * sqrt(bnorm2))", 6)} AS cosine
      FROM shortlist
    )
    SELECT query_id, neighbor_id, sq_cosine, cosine, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM refined WHERE NOT isnan(cosine)
    ) WHERE rnk <= 5
    """,
)
def q_sq8_index_add(spark, sf_dir):
    """Incremental SQ8 index maintenance (FAISS add-vs-train split,
    r9 VERDICT #4): the index trains on the EVEN-id half of the corpus
    (sq8_encode), the odd-id half arrives as an ingest batch encoded
    with sq8_index_add against the FROZEN per-dim stats (codes clamp
    to [0,255] where the batch exceeds the trained span), and the
    combined index serves the standard shortlist→refine top-5. The
    oracle replays the frozen-stats semantics exactly: min/max over
    the even subset only, clamped affine codes for every row. See
    operators/similarity.py::sq8_index_add for the drift guard (tests
    pin warn/error/tolerance behavior)."""
    emb = tables(spark, sf_dir, "embeddings")
    prefix = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    # checkpoint BOTH the prefix encode (sq8_index_add's empty-check
    # head() plus the frozen-stats crossJoin would otherwise replay
    # its stats-aggregate lineage) and the combined index (the serve's
    # three consumers — corpus scan, queries scan, refine fetch — get
    # one materialization, the same reason sq8_topk checkpoints its
    # own inline encode; review fix)
    idx = pin(
        sim.sq8_index_add(
            pin(sim.sq8_encode(prefix, "vec_id", "embedding"), eager=False),
            batch, "vec_id", "embedding", drift="ignore",
        ),
        eager=False,
    )
    return sim.sq8_topk(emb, "vec_id", "embedding", k=5, refine=20, index=idx)


# === Gopher-style quality filter composition ==============================

_SW_LISTS_SQL = {
    "en": "['the','a','of','and','to','in','is','it','for','on']",
    "es": "['el','la','de','y','que','en','un','es','por','los']",
    "fr": "['le','la','de','et','que','en','un','est','pour','les']",
    "de": "['der','die','das','und','zu','in','ein','ist','mit','von']",
    "pt": "['o','a','de','e','que','em','um','para','com','os']",
}
_SW_OWN = (
    "CASE lang "
    + " ".join(
        f"WHEN '{code}' THEN len(list_filter({_TOKS}, t -> list_contains({lst}, t)))"
        for code, lst in _SW_LISTS_SQL.items()
    )
    + " ELSE 0 END"
)
_MWL = (
    f"length(regexp_replace(trim(text), '\\s+', '', 'g'))"
    f" / CAST(len({_TOKS}) AS DOUBLE)"
)
_PR = "length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / CAST(length(text) AS DOUBLE)"


@query(
    "q_quality_filter",
    oracle=f"""
    WITH rules AS (
      SELECT doc_id, lang,
        CAST(len({_TOKS}) AS INT) AS n_tokens,
        {pround_sql(_MWL, 6)} AS mean_word_len,
        {pround_sql(_PR, 6)} AS punct_ratio,
        CAST({_SW_OWN} AS INT) AS own_stopword_hits,
        (len({_TOKS}) BETWEEN 30 AND 100000) AS rule_n_tokens,
        ({_MWL} >= 3.0 AND {_MWL} <= 10.0) AS rule_word_len,
        ({_PR} <= 0.1) AS rule_punct,
        ({_SW_OWN} >= 2) AS rule_stopwords
      FROM documents
    )
    SELECT *, (rule_n_tokens AND rule_word_len AND rule_punct AND rule_stopwords)
              AS keep
    FROM rules
    """,
)
def q_quality_filter(spark, sf_dir):
    """Gopher-style keep/drop audit per document: every rule boolean is
    emitted (not just the filter) so a 100 TB run can attribute drops;
    downstream keeps with ``df.filter("keep")`` — a pushed-down scan
    predicate, zero shuffles."""
    docs = tables(spark, sf_dir, "documents")
    rules = tx.gopher_rules("text", "lang")
    from pyield_spark.functions.numbers import pround_expr

    return docs.select(
        "doc_id",
        "lang",
        tx.token_count_expr("text").cast("int").alias("n_tokens"),
        pround_expr(tx.mean_word_len_expr("text"), 6).alias("mean_word_len"),
        pround_expr(tx.punct_ratio_expr("text"), 6).alias("punct_ratio"),
        tx.own_lang_stopword_hits_expr("text", "lang").cast("int").alias(
            "own_stopword_hits"
        ),
        *[rules[r].alias(r) for r in
          ("rule_n_tokens", "rule_word_len", "rule_punct", "rule_stopwords", "keep")],
    )


# === multimodal frame sampling + resize (deterministic fake decode,
# real mapInPandas plumbing) — hash-verified because the fake frame/
# resize transforms are byte slices DuckDB can replicate over the
# all-ASCII document text (byte == char there) =============================


@query(
    "q_frame_sample",
    oracle="""
    WITH f AS (
      SELECT doc_id, CAST(i AS INT) AS frame_idx,
             substr(text, i * 64 + 1, 64) AS frame
      FROM documents, generate_series(0, 20) t(i)
      WHERE i < CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT)
        AND i % 2 = 0
    )
    SELECT doc_id, frame_idx,
           CAST(octet_length(encode(frame)) AS BIGINT) AS frame_bytes,
           sha256(frame) AS frame_sha256
    FROM f
    """,
)
def q_frame_sample(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", mm.pack_binary_expr("text").alias("payload"))
    frames = mm.sample_frames(payloads, "payload", "doc_id", frame_bytes=64, stride=2)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.octet_length("frame").cast("bigint").alias("frame_bytes"),
        F.sha2("frame", 256).alias("frame_sha256"),
    )


@query(
    "q_resize_payload",
    oracle="""
    WITH sized AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n,
             GREATEST(1, CAST(ceil(octet_length(encode(text)) / 32.0) AS BIGINT))
               AS stride
      FROM documents
    ),
    sampled AS (
      SELECT doc_id,
             string_agg(substr(text, CAST(i AS BIGINT), 1), '' ORDER BY i) AS resized
      FROM sized, generate_series(1, 600) t(i)
      WHERE i <= n AND (i - 1) % stride = 0
      GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(octet_length(encode(resized)) AS BIGINT) AS resized_bytes,
           sha256(resized) AS resized_sha256
    FROM sampled
    """,
)
def q_resize_payload(spark, sf_dir):
    docs = tables(spark, sf_dir, "documents")
    payloads = docs.select("doc_id", mm.pack_binary_expr("text").alias("payload"))
    resized = mm.resize_payload(payloads, "payload", "doc_id", target_bytes=32)
    return resized.select(
        "doc_id",
        F.octet_length("resized").cast("bigint").alias("resized_bytes"),
        F.sha2("resized", 256).alias("resized_sha256"),
    )


# === language-ID audit: predicted vs labeled confusion matrix =============

_SW_HITS = {
    code: f"len(list_filter({_TOKS}, t -> list_contains({lst}, t)))"
    for code, lst in _SW_LISTS_SQL.items()
}
_BEST = "greatest(" + ", ".join(_SW_HITS[c] for c in sorted(_SW_HITS)) + ")"
_PRED = (
    f"CASE WHEN {_BEST} = 0 THEN 'und' "
    + " ".join(
        f"WHEN {_SW_HITS[c]} = {_BEST} THEN '{c}'"
        for c in sorted(_SW_HITS)
    )
    + " ELSE 'und' END"
)


@query(
    "q_lang_confusion",
    oracle=f"""
    SELECT lang AS labeled, {_PRED} AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_lang_confusion(spark, sf_dir):
    """Language-ID audit: the n-gram/stopword classifier's predictions
    cross-tabulated against the labeled ``lang`` column — the confusion
    matrix a curation run reports before trusting the classifier as a
    filter. Pure column expressions + one tiny (|langs|²-group)
    aggregate; the argmax tie-break (sorted language-code order) is
    stated identically in both engines."""
    docs = tables(spark, sf_dir, "documents", widen=True)
    return (
        docs.groupBy(
            F.col("lang").alias("labeled"),
            tx.lang_id_expr("text").alias("predicted"),
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("labeled", "predicted")
    )


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH hnbase AS (
      SELECT vec_id, CAST(label AS INT) AS label,
             CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ),
    hnnorms AS (
      SELECT vec_id, label, v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (a, b) -> a + b) AS norm2
      FROM hnbase
    ),
    hncents AS (
      SELECT vec_id AS cid, v, norm2 FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY vec_id) AS crn FROM hnnorms
      ) WHERE crn <= 16
    ),
    hnassign AS (
      SELECT vec_id, label, v, norm2, cid FROM (
        SELECT n.vec_id, n.label, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM hnnorms n CROSS JOIN hncents c
      ) WHERE arn = 1
    ),
    hnprobes AS (
      SELECT vec_id AS query_id, label AS query_label, v, norm2, cid FROM (
        SELECT n.vec_id, n.label, n.v, n.norm2, c.cid,
          ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
            {pround_sql(_IVF_DOT_VC + " / (sqrt(n.norm2) * sqrt(c.norm2))", 6)} DESC,
            c.cid) AS arn
        FROM hnnorms n CROSS JOIN hncents c
        WHERE n.vec_id % 41 = 0
      ) WHERE arn <= 4
    ),
    hncand AS (
      SELECT q.query_id, q.query_label,
             b.vec_id AS neighbor_id, b.label AS neighbor_label,
        {pround_sql(
          "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
          " i -> q.v[i] * b.v[i])), (a, b) -> a + b)"
          " / (sqrt(q.norm2) * sqrt(b.norm2))", 6)} AS cosine
      FROM hnprobes q JOIN hnassign b
        ON b.cid = q.cid AND b.label <> q.query_label
    ),
    hnranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM hncand
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label, cosine,
           CAST(rnk AS INT) AS rnk
    FROM hnranked WHERE rnk <= 3
    """,
)
def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining on the IVF-PRUNED route (the
    100 TB path — VERDICT r4 ask #3): candidates come from the same
    coarse-codebook inverted lists as q_ivf_topk (16 lists, 4 probes),
    with the different-label filter in the candidate join and exact
    in-list rescoring. No unbounded crossJoin anywhere in the plan;
    brute-force parity at n_probe == n_centroids is pinned by
    tests/test_llm_ops.py::test_hard_negatives_ivf_parity."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.hard_negatives(
        emb, "vec_id", "embedding", "label",
        query_pred=F.col("_vid") % 41 == 0, k=3,
        prune="ivf", n_centroids=16, n_probe=4,
    )


@query(
    "q_containment_pairs",
    oracle=f"""
    WITH csh AS (
      SELECT DISTINCT doc_id AS _id, source, unnest({_GRAMS3}) AS shingle
      FROM documents
    ),
    csizes AS (SELECT _id, COUNT(*) AS _n FROM csh GROUP BY _id),
    cinter AS (
      SELECT a._id AS id_a, b._id AS id_b, COUNT(*) AS n_inter
      FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.source = b.source
      WHERE a._id < b._id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(n_inter AS BIGINT) AS n_inter,
           CAST(sa._n AS BIGINT) AS n_a, CAST(sb._n AS BIGINT) AS n_b,
           {pround_sql("n_inter / CAST(least(sa._n, sb._n) AS DOUBLE)", 6)} AS containment
    FROM cinter
    JOIN csizes sa ON sa._id = id_a
    JOIN csizes sb ON sb._id = id_b
    WHERE {pround_sql("n_inter / CAST(least(sa._n, sb._n) AS DOUBLE)", 6)} >= 0.5
    """,
)
def q_containment_pairs(spark, sf_dir):
    """Excerpt/wrapper duplicate detection: smaller-set containment
    over distinct shingles — see
    ``operators/dedup.py::containment_pairs``."""
    docs = tables(spark, sf_dir, "documents")
    return dd.containment_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, block="source"
    )


# === MMR diversified reranking (round 10) ================================

_MMR_N, _MMR_K, _MMR_LAM = 10, 5, 0.7


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in DuckDB: the loop depth is fixed (k−1
    steps), so each step becomes a (penalty, argmax) CTE pair
    generated here — the same unrolling the Spark operator performs
    in DataFrame algebra (operators/similarity.py::mmr_rerank)."""
    lam = f"{_MMR_LAM:.17e}"
    one_m = f"{1.0 - _MMR_LAM:.17e}"  # repr-exact: 1−0.7 ≠ 0.3 in fp
    dot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
        " i -> n1.v[i] * n2.v[i])), (a, b) -> a + b)"
        " / (sqrt(n1.norm2) * sqrt(n2.norm2))"
    )
    qdot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
        " i -> q.v[i] * b.v[i])), (a, b) -> a + b)"
        " / (sqrt(q.norm2) * sqrt(b.norm2))"
    )
    steps = []
    prev = "sel1"
    for i in range(2, _MMR_K + 1):
        steps.append(f"""
    pen{i} AS (
      SELECT s.query_id, s.neighbor_id, s.relevance, MAX(cs.sim) AS pen
      FROM short s
      JOIN cs ON cs.query_id = s.query_id AND cs.a = s.neighbor_id
      JOIN {prev} p ON p.query_id = cs.query_id AND p.neighbor_id = cs.b
      WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                        WHERE x.query_id = s.query_id
                          AND x.neighbor_id = s.neighbor_id)
      GROUP BY 1, 2, 3
    ),
    pick{i} AS (
      SELECT query_id, neighbor_id, relevance,
             {pround_sql("mmr", 6)} AS mmr_score
      FROM (SELECT *, {lam} * relevance - {one_m} * pen AS mmr,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY {lam} * relevance - {one_m} * pen DESC,
                                neighbor_id) AS rn
            FROM pen{i})
      WHERE rn = 1
    ),
    sel{i} AS (
      SELECT * FROM {prev}
      UNION ALL
      SELECT query_id, neighbor_id, relevance, mmr_score FROM pick{i}
    )""")
        prev = f"sel{i}"
    finals = ["SELECT query_id, CAST(1 AS INT) AS mmr_rank, neighbor_id,"
              " relevance, mmr_score FROM sel1"]
    for i in range(2, _MMR_K + 1):
        finals.append(
            f"SELECT query_id, CAST({i} AS INT) AS mmr_rank, neighbor_id,"
            f" relevance, mmr_score FROM pick{i}"
        )
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    norms AS (
      SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(v, x -> x * x)),
                    (a, b) -> a + b) AS norm2
      FROM base
    ),
    scored AS (
      SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
             {pround_sql(qdot, 6)} AS relevance
      FROM norms q JOIN norms b ON b.vec_id <> q.vec_id
      WHERE q.vec_id % 100 = 0
    ),
    short AS (
      SELECT query_id, neighbor_id, relevance
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY relevance DESC, neighbor_id) AS rnk
            FROM scored WHERE NOT isnan(relevance))
      WHERE rnk <= {_MMR_N}
    ),
    cs AS (
      SELECT s1.query_id, s1.neighbor_id AS a, s2.neighbor_id AS b,
             {pround_sql(dot, 6)} AS sim
      FROM short s1
      JOIN short s2 ON s2.query_id = s1.query_id
                   AND s2.neighbor_id <> s1.neighbor_id
      JOIN norms n1 ON n1.vec_id = s1.neighbor_id
      JOIN norms n2 ON n2.vec_id = s2.neighbor_id
    ),
    sel1 AS (
      SELECT query_id, neighbor_id, relevance,
             {pround_sql(f"{lam} * relevance", 6)} AS mmr_score
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY {lam} * relevance DESC, neighbor_id) AS rn
            FROM short)
      WHERE rn = 1
    ),{",".join(steps)}
    {" UNION ALL ".join(finals)}
    """


@query("q_mmr_rerank", oracle=_mmr_oracle())
def q_mmr_rerank(spark, sf_dir):
    """MMR-diversified retrieval (Carbonell & Goldstein 1998): the
    cosine top-10 shortlist per query greedily reranked to 5 picks
    trading relevance against redundancy (λ=0.7) — the standard stage
    between ANN retrieval and a RAG context window, here as pure
    unrolled DataFrame algebra (no kernel; per-query cost constant in
    corpus size). The oracle unrolls the identical greedy trajectory,
    so every intermediate argmax — not just the final set — sits
    inside the value-hash gate."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.mmr_rerank(
        emb, "vec_id", "embedding",
        shortlist_n=_MMR_N, k=_MMR_K, lam=_MMR_LAM,
    )


# === random-projection (JL) ANN rung (round 10) ==========================

_RP_DIM, _RP_REFINE, _RP_K = 16, 20, 5


def _rp_oracle() -> str:
    """DuckDB replay of rp_topk: same integer weight family, same
    ascending-i fold, same pround(cosine, 6) in both spaces."""
    projs = ", ".join(
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
        f" i -> v[i] * CAST(((2750161 * {p} + 611953 * (i - 1)) % 101) - 50"
        " AS DOUBLE))), (a, b) -> a + b)"
        for p in range(_RP_DIM)
    )
    sq = "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform({c}, x -> x * x)), (a, b) -> a + b)"
    rdot = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, {_RP_DIM + 1}),"
        " i -> q.rv[i] * b.rv[i])), (a, b) -> a + b)"
        " / (sqrt(q.rnorm2) * sqrt(b.rnorm2))"
    )
    edot = (
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65),"
        " i -> q.v[i] * b.v[i])), (a, b) -> a + b)"
        " / (sqrt(q.enorm2) * sqrt(b.enorm2))"
    )
    return f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    proj AS (SELECT vec_id, v, [{projs}] AS rv FROM base),
    pn AS (
      SELECT vec_id, v, rv,
             {sq.format(c="rv")} AS rnorm2,
             {sq.format(c="v")} AS enorm2
      FROM proj
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, b.vec_id AS nid,
             {pround_sql(rdot, 6)} AS rp_cosine
      FROM pn q JOIN pn b ON b.vec_id <> q.vec_id
      WHERE q.vec_id % 100 = 0
    ),
    short AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY rp_cosine DESC, nid) AS rr
        FROM pairs WHERE NOT isnan(rp_cosine))
      WHERE rr <= {_RP_REFINE}
    ),
    ref AS (
      SELECT s.query_id, s.nid, s.rp_cosine,
             {pround_sql(edot, 6)} AS cosine
      FROM short s
      JOIN pn q ON q.vec_id = s.query_id
      JOIN pn b ON b.vec_id = s.nid
    )
    SELECT query_id, nid AS neighbor_id, rp_cosine, cosine,
           CAST(rnk AS INT) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, nid) AS rnk
          FROM ref WHERE NOT isnan(cosine))
    WHERE rnk <= {_RP_K}
    """


@query("q_rp_topk", oracle=_rp_oracle())
def q_rp_topk(spark, sf_dir):
    """Johnson–Lindenstrauss random-projection ANN — the
    DIMENSIONALITY-reduction rung of the ladder (SQ shrinks bytes per
    dim, IVF prunes rows, RP shrinks DIMS: the candidate scan does
    16/64 of the brute multiply-adds), with the usual exact refine by
    key re-join. The projection matrix is a fixed portable integer
    family (the sign-LSH plane recipe, distinct primes), so the DuckDB
    oracle replays projection, shortlist AND refine bit-exactly —
    FAISS's PCAMatrix/RandomRotation pre-transform, minus the stored
    float matrix. Recall on the structure-free corpus is the
    documented floor (~0.2 — neighbors there differ by margins JL
    distortion swamps); on the clustered corpus the rung holds 1.000
    even at out_dim=8, refine=k (tools/ann_recall.py rows in
    PLANS.md)."""
    emb = tables(spark, sf_dir, "embeddings")
    return sim.rp_topk(
        emb, "vec_id", "embedding",
        k=_RP_K, refine=_RP_REFINE, out_dim=_RP_DIM,
    )
