"""Corpus vocabulary / term-statistics operators — the counting stage a
pretraining pipeline runs to build tokenizer vocabularies, distinctive
term indexes, and Gopher-style repetition filters.

Everything here is integer arithmetic over one exploded-token base, so
the DuckDB oracle replays it exactly (no float logs: TF-IDF ranking is
restated as the integer total order (df ASC, tf DESC, token ASC), which
induces the same per-document ordering as tf·idf for the common case and
stays bit-portable across engines).

Scale notes (100 TB): the exploded token table is the big intermediate —
all downstream aggregations are equi-shuffles on (doc, token) or (token)
with map-side partial aggregation, and the per-(doc,token) counts reuse
one shuffle for both the corpus vocabulary and the per-document ranks.
No window ever spans more than one document; no driver-side collection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyield_spark.functions.sql import ident
from pyield_spark.operators import text as tx
from pyield_spark.operators.pinning import pin


def bigrams_expr(tokens: Column) -> Column:
    """Adjacent token pairs via ``zip_with`` over shifted slices — the
    HOF-capture-safe shingle idiom (a ``transform`` lambda would
    re-evaluate the captured split per element). 0/1-token arrays
    yield an empty array."""
    n = F.size(tokens)
    ln = F.greatest(n - 1, F.lit(0))
    return F.zip_with(
        F.slice(tokens, 1, ln),
        F.slice(tokens, 2, ln),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def doc_term_counts(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """Per-(document, token) occurrence counts — ONE groupBy shuffle on
    the exploded tokens; the shared base for vocabulary and per-doc
    term ranking."""
    tok = df.select(F.col(id_col), F.explode(tx.tokens_expr(text)).alias("token"))
    return tok.groupBy(id_col, "token").agg(F.count("*").alias("tf_doc"))


def vocabulary(per_doc: DataFrame) -> DataFrame:
    """Corpus vocabulary from :func:`doc_term_counts`: total term
    frequency ``tf`` and document frequency ``df`` per token. The
    second (and last) shuffle, on ``token``, with partial aggregation —
    the standard two-level word count that survives any corpus size."""
    return per_doc.groupBy("token").agg(
        F.sum("tf_doc").cast("long").alias("tf"),
        F.count("*").cast("long").alias("df"),
    )


def distinctive_terms(
    df: DataFrame, text: str, id_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` most distinctive terms per document — integer TF-IDF:
    rank by (corpus df ASC, in-doc tf DESC, token ASC). Rarer-in-corpus
    beats frequent-in-doc, exactly the tf·idf ordering, with a total
    tie-break so both engines pick identical rows.

    Plan: the (doc,token) counts shuffle once, the vocabulary reuses
    that output, the df-attach is an equi-join on ``token``, and the
    per-doc rank window partitions by document — nothing global."""
    per_doc = doc_term_counts(df, text, id_col)
    vocab = vocabulary(per_doc).drop("tf")
    w = Window.partitionBy(id_col).orderBy(
        F.col("df").asc(), F.col("tf_doc").desc(), F.col("token").asc()
    )
    return (
        per_doc.join(vocab, "token")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", F.col("tf_doc").alias("tf"), "df", "rank")
    )


def repetition_stats(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """Gopher-style intra-document repetition metrics (Rae et al. 2021
    §A1.1 'repetition removal'): duplicate-word ratio, top-word share,
    top-bigram share — the filters that drop boilerplate/spam docs.

    Array metrics (counts, distinct counts) are pure column expressions
    over the scan; the two mode-counts (most-repeated word / bigram)
    each take one (doc, gram) groupBy plus a per-doc max — map-side
    combinable, never a cross-document shuffle key. Ratios are single
    IEEE divisions of two integers (bit-identical across engines)."""
    toks = tx.tokens_expr(text)
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    )
    per_tok = doc_term_counts(df, text, id_col)
    top_tok = per_tok.groupBy(id_col).agg(F.max("tf_doc").cast("long").alias("top_tf"))
    bg = df.select(
        F.col(id_col), F.explode(bigrams_expr(tx.tokens_expr(text))).alias("bg")
    )
    top_bg = (
        bg.groupBy(id_col, "bg")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").cast("long").alias("top_bigram_tf"))
    )
    out = (
        base.join(top_tok, id_col, "left")
        .join(top_bg, id_col, "left")
        .withColumn("top_bigram_tf", F.coalesce("top_bigram_tf", F.lit(0)))
    )
    n = F.col("n_tokens").cast("double")
    return out.select(
        id_col,
        "n_tokens",
        "n_distinct",
        "top_tf",
        "top_bigram_tf",
        ((F.col("n_tokens") - F.col("n_distinct")).cast("double") / n).alias(
            "dup_word_ratio"
        ),
        (F.col("top_tf").cast("double") / n).alias("top_token_share"),
        # share over the TRUE bigram count (n_tokens - 1), not
        # n_tokens — the denominator the Gopher 2-gram threshold needs
        # (review fix: the docstring promised this column all along)
        F.when(
            F.col("n_tokens") > 1,
            F.col("top_bigram_tf").cast("double")
            / (F.col("n_tokens") - 1).cast("double"),
        ).alias("top_bigram_share"),
    )


def lm_typicality(
    df: DataFrame,
    text: str,
    id_col: str,
    k: float = 0.5,
) -> DataFrame:
    """Bigram-LM typicality score per document — the CCNet-style "how
    much does this text look like the corpus" quality signal (a pruned
    KenLM in the published pipeline; here the corpus scores itself with
    an add-k-smoothed bigram model, so no external model file).

    Per document: mean over its bigram occurrences of
    ``ln((c(w1,w2) + k) / (c(w1) + k·V))`` where counts are corpus-wide
    and V is the vocabulary size. Low (more negative) scores mark
    atypical text (boilerplate, gibberish, wrong-language fragments) —
    the standard filter ranks documents by this score and drops tails.

    Engine portability: each log term is portably rounded to 9 decimals
    (``pround_expr``: ln may differ in the last ulp across libm
    implementations) and accumulated in DECIMAL(28,12) — an exact,
    order-independent sum — so an oracle replays the result bit-exactly.

    Scale shape (100 TB): the bigram model is itself corpus-derived and
    can exceed broadcast size, so the occurrence→model attach is an
    equi-shuffle join on the bigram key, co-partitioned with the model's
    own groupBy (one logical shuffle of the exploded pairs, reused by
    AQE). The unigram attach carries no broadcast HINT — the vocabulary
    is corpus-derived and unbounded like the bigram model, so Catalyst
    broadcasts it only while it fits the threshold (round-6 review
    fix); the 1-row V is broadcast. With a pruned/external model, swap
    the shuffle joins for broadcasts — semantics unchanged.

    Output: (id_col, n_bigrams long, avg_logprob double 6dp — null when
    the document has no bigram).
    """
    from pyield_spark.functions.numbers import pround_expr

    toks = tx.tokens_expr(text)
    tok = df.select(F.explode(toks).alias("token"))
    uni = tok.groupBy("token").agg(F.count("*").alias("_c1"))
    vocab_n = uni.agg(F.count("*").alias("_V"))

    pairs = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))

    bgm = pairs.groupBy("w1", "w2").agg(F.count("*").alias("_cab"))

    lp = pround_expr(
        F.log(
            (F.col("_cab") + F.lit(k))
            / (F.col("_c1") + F.lit(k) * F.col("_V").cast("double"))
        ),
        9,
    )
    scored = (
        pairs.join(bgm, ["w1", "w2"])
        # no broadcast HINT on the unigram table (review fix): the
        # corpus vocabulary is unbounded — web-scale corpora carry 1e8+
        # distinct tokens, past any broadcast limit. Locally Catalyst
        # still broadcasts it under the size threshold; at scale it
        # correctly falls back to a shuffle join, like the bigram model
        # above (whose docstring already concedes this).
        .join(uni.withColumnRenamed("token", "w1"), "w1")
        .crossJoin(F.broadcast(vocab_n))
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum(lp.cast("decimal(28,12)")).alias("_s"),
        F.count("*").alias("_n"),
    )
    return df.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("_n", F.lit(0)).cast("long").alias("n_bigrams"),
        pround_expr(F.col("_s").cast("double") / F.col("_n"), 6).alias(
            "avg_logprob"
        ),
    )


def token_entropy(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """Shannon entropy of the token distribution per document (nats).

    Low entropy flags keyword-stuffed / repeated-token spam that length
    and repetition ratios miss (a 10k-token page of one word has high
    top-2-gram share AND entropy ≈ 0; mixed boilerplate can pass the
    n-gram share check yet still sit far below prose entropy ~5-6).

    Computed from the same per-(doc, token) counts shuffle the
    vocabulary builder uses, via the decomposition
    ``H = ln(n) − (Σ tf·ln(tf)) / n``. Portability: each ``ln(tf)`` is
    scaled to an INTEGER (floor(·1e9 + 0.5), exact — ln(tf) ≥ 0) and the
    weighted sum accumulates in BIGINT, because a DECIMAL×DECIMAL
    rescale rounds half-up on the JVM and half-even in other engines
    (observed flipping the 6th decimal); integer arithmetic has no
    rescale. One groupBy on the id — no second pass over the corpus
    text. tf·K stays under int64 for documents up to ~10^8 tokens.

    Output: (id_col, n_tokens long, token_entropy double 6dp — 0.0 for
    a single-token doc, null only when the text tokenizes to nothing,
    which the shared splitter never produces).
    """
    from pyield_spark.functions.numbers import pround_expr

    per = doc_term_counts(df, text, id_col)
    k_scaled = F.floor(
        F.log(F.col("tf_doc").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    agg = per.groupBy(id_col).agg(
        F.sum("tf_doc").alias("_n"),
        F.sum(F.col("tf_doc") * k_scaled).alias("_s"),
    )
    h = pround_expr(
        pround_expr(F.log(F.col("_n").cast("double")), 9)
        - (F.col("_s").cast("double") / F.lit(1e9)) / F.col("_n"),
        6,
    )
    return agg.select(
        id_col,
        F.col("_n").cast("long").alias("n_tokens"),
        h.alias("token_entropy"),
    )


def bm25_topk(
    df: DataFrame,
    text: str,
    id_col: str,
    terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 retrieval: top-``k`` documents for a broadcast-small query
    term set — the lexical-retrieval stage of a training-data pipeline
    (mining in-domain documents, building retrieval eval sets, BM25
    hard negatives for dense retrievers).

    Okapi BM25 with the standard +0.5 idf smoothing:
    ``idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))``,
    ``w(d,t) = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))``.

    Scale shape (100 TB): tokens are filtered to the query terms
    BEFORE the tf groupBy, so the only data-sized shuffle carries
    matching tokens only; corpus stats (N, Σdl) are one map-side
    aggregate to a single broadcast row; per-term df aggregates the
    already-pruned tf table and broadcasts back; top-k executes as
    TakeOrderedAndProject, never a full sort.

    Cross-engine determinism: each per-term weight is rounded to 8dp
    (libm-vs-JVM ``ln`` last-ulp insurance) and the per-document sum
    accumulates in DECIMAL (exact, order-independent); constants like
    ``k1+1`` are pre-folded in Python so both engines consume the
    same double literal. Ties break on the id.
    """
    from pyield_spark.functions.numbers import pround_expr

    # tokens_expr lowercases every corpus token — normalize the query
    # terms the same way, or a term with an uppercase letter silently
    # matches NOTHING (review fix)
    terms = [t.lower() for t in terms]
    toks = df.select(F.col(id_col), tx.tokens_expr(text).alias("_toks"))
    stats = toks.agg(
        F.count("*").cast("long").alias("_n"),
        F.sum(F.size("_toks")).cast("long").alias("_sumdl"),
    )
    # prune INSIDE the array before exploding: the filter lambda runs
    # in the scan projection, so the generator emits only query-term
    # hits instead of every corpus token followed by a Filter (r10:
    # 100× lap 12.7 → 10.7 s — the residual floor is the tokenize
    # regex itself, which _dl/stats need over every doc regardless)
    term_arr = F.array(*[F.lit(t) for t in terms])
    matched = toks.select(
        id_col,
        F.size("_toks").alias("_dl"),
        F.explode(
            F.filter("_toks", lambda t: F.array_contains(term_arr, t))
        ).alias("token"),
    )
    tf = matched.groupBy(id_col, "_dl", "token").agg(
        F.count("*").cast("long").alias("_tf")
    )
    # df per term as a window over the pruned tf table — a join against
    # a separate tf.groupBy("token") re-plans the whole explode+count
    # lineage (the corpus would be scanned and aggregated TWICE); the
    # window re-shuffles only the already-pruned tf rows on token
    df_w = F.count("*").over(Window.partitionBy("token")).cast("long")
    k1p1, b1 = k1 + 1.0, 1.0 - b
    avgdl = F.col("_sumdl").cast("double") / F.col("_n")
    idf = F.log(
        F.lit(1.0) + (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    w = idf * (F.col("_tf") * F.lit(k1p1)) / (
        F.col("_tf") + F.lit(k1) * (F.lit(b1) + F.lit(b) * F.col("_dl") / avgdl)
    )
    scored = (
        tf.withColumn("_df", df_w)
        .crossJoin(F.broadcast(stats))
        .withColumn("_w8", pround_expr(w, 8))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum(F.col("_w8").cast("decimal(28,14)"))
            .cast("double")
            .alias("bm25"),
            F.count("*").cast("long").alias("terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    text: str = "text",
    id_col: str = "doc_id",
    vec_id: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k_each: int = 20,
    k: int = 10,
    n_seed: int = 3,
    rrf_k: int = 60,
    route: str = "exact",
    n_centroids: int = 16,
    n_probe: int = 4,
    refine: int | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
    leg and a DENSE leg fused by ``rrf = Σ 1/(rrf_k + rank)`` (Cormack
    et al., SIGIR'09 — the fusion every production retrieval stack
    runs over its lexical+vector legs).

    The dense query vector comes from pseudo-relevance feedback
    (Rocchio): the centroid of the BM25 top-``n_seed`` documents'
    embeddings — so the pipeline needs no query-text encoder, the
    standard trick for bootstrapping dense retrieval from a lexical
    engine. Documents without an embedding simply have no dense rank
    (their dense RRF term is 0), and vice versa.

    ``route`` picks the dense leg's scale rung (r9 VERDICT #1 — the
    pruning is now a parameter, not a docstring suggestion):

    - ``"exact"`` (default): one broadcast-centroid corpus map pass +
      top-``k_each`` — the by-contract exact baseline.
    - ``"ivf"``: the corpus is coarse-assigned to ``n_centroids``
      inverted lists (same lowest-id codebook as ``ivf_topk``); the
      centroid probes its ``n_probe`` nearest lists and scores exactly
      ONLY inside them — ~``n_probe/C`` of the scoring work. With
      ``n_probe == n_centroids`` every list is probed and the result
      is bit-identical to ``"exact"`` (test-pinned).
    - ``"ivf_sq8"``: IVF lists over the SQ8-encoded corpus
      (``sq8_encode``) — probed candidates score against DEQUANTIZED
      byte codes (8× payload), the best ``refine`` (default
      2·``k_each``) rescore exactly; FAISS ``IVF<n>,SQ8`` serving the
      PRF centroid. Exhaustive config (all lists probed, ``refine`` ≥
      corpus) is bit-identical to ``"exact"`` (test-pinned).

    ``index`` (pruned routes only) is the persisted ingest-side frame —
    ``sq8_encode`` output for ``"ivf_sq8"``, a (_vid, _vec, _norm2)
    frame for ``"ivf"`` — optionally pre-assigned with
    ``similarity.ivf_assign`` (same ``n_centroids``), in which case the
    per-call N·C coarse-assignment pass is skipped too. With a single
    PRF-centroid query the inline assignment costs ~``n_centroids``×
    the brute scan, so serving from a persisted index is what makes
    the pruned routes pay (PLANS.md r10 lap rows).

    Scale shape: both legs end in TakeOrdered top-``k_each`` lists —
    the fusion join touches ≤ 2·k_each rows however big the corpus is.

    Cross-engine determinism: embedding components round to 8dp before
    the EXACT decimal centroid sum (order-independent); the centroid
    divide, cosine, and 1/(rrf_k+rank) terms are fixed-order IEEE ops;
    every rank ties on the id. Returns (id, r_bm25, r_dense, rrf, rnk).
    """
    from pyield_spark.functions.numbers import pround_expr
    from pyield_spark.operators.similarity import dot_dec, norm_sq_dec, _as_double

    if route not in ("exact", "ivf", "ivf_sq8"):
        raise ValueError(f"unknown dense route: {route!r}")

    bm = bm25_topk(docs, text, id_col, terms, k=k_each)
    w_bm = Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc())
    bmrank = pin(  # ≤ k_each rows; reused by seed + fusion
        bm.select(
            F.col(id_col).alias("_id"), F.row_number().over(w_bm).alias("r_bm25")
        ),
        eager=False,
    )

    base = emb.select(
        F.col(vec_id).alias("_vid"), _as_double(ident(vec_col)).alias("_v")
    ).filter(F.col("_v").isNotNull() & (F.size("_v") == dim))
    seeds = bmrank.filter(F.col("r_bm25") <= n_seed).join(
        base, bmrank._id == base._vid
    )
    # exact decimal per-dimension sum of 8dp-rounded components: the
    # centroid is order-independent and replays bit-for-bit in SQL
    centd = (
        seeds.select(F.posexplode("_v").alias("d", "x"))
        .groupBy("d")
        .agg(
            F.sum(pround_expr(F.col("x"), 8).cast("decimal(28,14)")).alias("_sx"),
            F.count("*").cast("long").alias("_ns"),
        )
    )
    cent = centd.agg(
        F.map_from_arrays(
            F.collect_list("d"),
            F.collect_list(
                F.col("_sx").cast("double") / F.col("_ns").cast("double")
            ),
        ).alias("_cm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.element_at(F.col("_cm"), i),
        ).alias("_c")
    ).withColumn("_cn2", norm_sq_dec("_c"))

    def _exact_cos(vec: str, n2: str):
        # the one scoring expression every route ends in — identical
        # op order keeps the exhaustive-config parity bit-exact
        return pround_expr(
            dot_dec(ident(vec), "_c")
            / (F.sqrt(F.col(n2)) * F.sqrt(F.col("_cn2"))),
            6,
        )

    if route == "exact":
        dense = (
            base.crossJoin(F.broadcast(cent))
            .withColumn("_n2", norm_sq_dec("_v"))
            .withColumn("_cos", _exact_cos("_v", "_n2"))
            .filter(~F.isnan("_cos"))
            .orderBy(F.col("_cos").desc(), F.col("_vid").asc())
            .limit(k_each)
        )
    else:
        from pyield_spark.operators.similarity import (
            _ivf_codebook,
            _ivf_nearest_lists,
            sq8_dequant_sql,
            sq8_encode,
        )

        if index is not None:
            enc = index
        elif route == "ivf_sq8":
            # SQ8-encoded index: codes/mn/mx ride the frame; the NaN /
            # length filters match sq8_encode's index contract (exact
            # route drops the same vectors later at isnan(_cos))
            enc = pin(sq8_encode(emb, vec_id, vec_col, dim), eager=False)
        else:
            enc = (
                base.select(F.col("_vid"), F.col("_v").alias("_vec"))
                .filter(~F.exists("_vec", lambda x: F.isnan(x) | x.isNull()))
                .withColumn("_norm2", norm_sq_dec("_vec"))
            )
        cents = _ivf_codebook(enc, n_centroids)
        # the single PRF centroid probes its n_probe nearest lists —
        # a C-row broadcast pass over ONE row
        probes = pin(
            _ivf_nearest_lists(
                cent.withColumn("_qid", F.lit(0)), cents, "_qid", "_c", "_cn2",
                n_probe,
            ),
            eager=False,
        )
        # a pre-assigned index (ivf_assign, same n_centroids) already
        # carries _cid — the N·C assignment pass is ingest-side then
        corpus_l = enc if "_cid" in enc.columns else _ivf_nearest_lists(
            enc, cents, "_vid", "_vec", "_norm2", 1
        )
        cand = probes.join(corpus_l, "_cid")
        if route == "ivf":
            dense = (
                cand.withColumn("_cos", _exact_cos("_vec", "_norm2"))
                .filter(~F.isnan("_cos"))
                .select("_vid", "_cos")
                .orderBy(F.col("_cos").desc(), F.col("_vid").asc())
                .limit(k_each)
            )
        else:
            if refine is None:
                refine = 2 * k_each
            dq = F.expr(sq8_dequant_sql("_codes", "_mn", "_mx"))
            sq = cand.withColumn("_dq", dq).withColumn(
                "_dqn2", norm_sq_dec("_dq")
            ).withColumn(
                "_sqcos",
                pround_expr(
                    dot_dec("_c", "_dq")
                    / (F.sqrt(F.col("_cn2")) * F.sqrt(F.col("_dqn2"))),
                    6,
                ),
            )
            # slim to (id, score) BEFORE the TakeOrdered — neither the
            # corpus vector nor the centroid rides the shortlist sort
            # (the sq8_topk lesson, PLANS.md r9); exact vectors come
            # back BY KEY over ≤ refine rows
            shortlist = (
                sq.filter(~F.isnan("_sqcos"))
                .select("_vid", "_sqcos")
                .orderBy(F.col("_sqcos").desc(), F.col("_vid").asc())
                .limit(refine)
            )
            dense = (
                shortlist.join(enc.select("_vid", "_vec", "_norm2"), "_vid")
                .crossJoin(F.broadcast(cent))
                .withColumn("_cos", _exact_cos("_vec", "_norm2"))
                .filter(~F.isnan("_cos"))
                .select("_vid", "_cos")
                .orderBy(F.col("_cos").desc(), F.col("_vid").asc())
                .limit(k_each)
            )
    w_d = Window.orderBy(F.col("_cos").desc(), F.col("_vid").asc())
    drank = dense.select(
        F.col("_vid").alias("_id"), F.row_number().over(w_d).alias("r_dense")
    )

    fused = bmrank.join(drank, "_id", "full_outer").select(
        F.col("_id").alias(id_col),
        "r_bm25",
        "r_dense",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("r_bm25")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col("r_dense")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    w_f = Window.orderBy(F.col("rrf").desc(), F.col(id_col).asc())
    return (
        fused.withColumn("rnk", F.row_number().over(w_f).cast("int"))
        .filter(F.col("rnk") <= k)
    )
