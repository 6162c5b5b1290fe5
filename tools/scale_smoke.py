"""Scale smoke: run the flagship operators at ~10× sf0.1 (≈6M lineitem
rows) by unioning shifted copies of the data — evidence the plans hold
beyond the driver's benchmark sizes (more groups, more vertices, more
targets; same shuffle structure).

Usage: PYTHONPATH=/root/repo python tools/scale_smoke.py [factor] [op ...]
(ops: bd interp interp_skew asof asof_ungrouped asof_broadcast minhash
bootstrap lm futuro composites leiloes semantic neardup cc_chain
cc_clique totalret mensal bm25 pack ivfpq ivfpq_trained warehouse
sessionize curation simclusters sq8 hybrid hybrid_pruned bpe
countmin clf mmr rp — default all;
leiloes/semantic/neardup select individual members of the composites
set)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from pyield_spark import du  # noqa: E402
from pyield_spark.curves.interpolate import interpolar  # noqa: E402
from pyield_spark.operators.asof import asof_join  # noqa: E402
from pyield_spark.session import get_session  # noqa: E402

FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 10
ONLY = set(sys.argv[2:])
KNOWN_OPS = {
    "bd", "interp", "asof", "asof_ungrouped", "asof_broadcast",
    "minhash", "bootstrap", "lm", "futuro", "composites",
    # fine-grained composite members (so the 100× lap can run
    # q_leiloes without the fixed-k semantic pair space, which is
    # intentionally quadratic-in-cluster-size when k doesn't scale
    # with N — see operators/semantic.py)
    "leiloes", "semantic", "neardup",
    # round-7: connected-components lap (worst-case chain diameter vs
    # LSH-like near-clique components — VERDICT r6 ask #1)
    "cc_chain", "cc_clique",
    # round-7: the NTN-B total-return composite (ladder window + 4
    # deslocar joins + 3 broadcast as-ofs + role-tagged cotacao pass)
    "totalret",
    # round-7: the text-parse connector twin (synthesize ';'-lines ->
    # real silver parse -> gold) at FACTOR x rows
    "mensal",
    # round-7: BM25 lexical retrieval at FACTOR x documents
    "bm25",
    # round-7: corpus shuffle + sequence packing at FACTOR x documents
    "pack",
    "ivfpq_trained",
    # round-7 (continued): IVF vs IVF-PQ candidate scoring at FACTOR x
    # vectors with a FIXED query workload (corpus grows, queries don't)
    "ivfpq",
    # round-7 (continued): the warehouse family (SCD2 build / MERGE
    # dispatch / trailing-30d RANGE frame) at FACTOR x orders
    "warehouse",
    # round-7 (continued): gap-based sessionization at FACTOR x events
    "sessionize",
    # round-7 (continued): worst-case group skew on the grouped
    # interpolation window, shuffle vs broadcast routes
    "interp_skew",
    # round-7 (continued): the curation family (decontamination,
    # incremental-delta dedup, domain caps) at FACTOR x documents
    "curation",
    # round-9: fingerprint-quotient Hamming clusters, SQ8 encode/serve,
    # hybrid BM25+dense RRF at FACTOR x
    "simclusters", "sq8", "hybrid",
    # round-10: the dense leg served through the IVF-SQ8 ladder via the
    # route= parameter (r9 VERDICT #1)
    "hybrid_pruned",
    # round-10: BPE token counting at FACTOR× documents (vocabulary is
    # corpus-size-independent, so the merge-fold cost must not scale)
    "bpe",
    # round-10 (cont.): Count-Min grid build+probe, classifier serve,
    # MMR rerank with a fixed query workload
    "countmin", "clf", "mmr", "rp",
}
_unknown = ONLY - KNOWN_OPS
if _unknown:  # a typo'd op would otherwise run NOTHING and exit 0
    raise SystemExit(f"unknown op(s) {sorted(_unknown)}; known: {sorted(KNOWN_OPS)}")
SF = "/root/testdata/sf0.1"


def want(name: str) -> bool:
    return not ONLY or name in ONLY


def replicate(df, key_cols):
    """Union FACTOR shifted copies — distinct keys per copy so group
    counts scale with the factor."""
    out = None
    for i in range(FACTOR):
        c = df
        for k in key_cols:
            c = c.withColumn(k, F.col(k) + F.lit(i * 10_000_000))
        out = c if out is None else out.unionByName(c)
    return out


def timed(name, fn):
    t0 = time.perf_counter()
    n = fn()
    print(f"{name}: {time.perf_counter() - t0:.2f}s rows={n}")


def main():
    spark = get_session("scale_smoke")
    needs_tables = not ONLY or bool(
        ONLY - {"cc_chain", "cc_clique", "countmin", "clf", "mmr", "rp"}
    )  # cc ops generate their own edges via spark.range; the
    # countmin/clf/mmr laps read only documents/embeddings
    li = od = None
    if needs_tables:
        li = replicate(spark.read.parquet(f"{SF}/lineitem.parquet"), ["l_orderkey"])
        od = replicate(spark.read.parquet(f"{SF}/orders.parquet"), ["o_orderkey", "o_custkey"])
        print(f"scaled lineitem={li.count():,} orders={od.count():,}")

    # business-day counting over the scaled fact table (broadcast joins)
    def bd():
        df = li.join(od, li.l_orderkey == od.o_orderkey).select(
            F.to_date("o_orderdate").alias("a"), F.to_date("l_shipdate").alias("b")
        )
        return du.contar(df, "a", "b").agg(F.sum("dias_uteis")).collect()[0][0]

    if want("bd"):
        timed(f"bd_count_{FACTOR}x", bd)

    # multi-curve interpolation: 10× the curve groups and targets
    def interp():
        curve = li.groupBy(
            ((F.col("l_orderkey") / 10_000_000).cast("int")).alias("rep"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("m"),
            (F.dayofmonth(F.to_date("l_shipdate")) * 10).cast("long").alias("du"),
        ).agg(F.avg("l_discount").alias("taxa")).withColumn(
            "grupo", F.concat_ws("_", "rep", "m")
        )
        targets = od.select(
            ((F.col("o_orderkey") / 10_000_000) % FACTOR).cast("int").alias("rep"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
            (F.dayofmonth(F.to_date("o_orderdate")) * 10 + 3).cast("long").alias("du_alvo"),
        ).withColumn("grupo", F.concat_ws("_", "rep", "m"))
        out = interpolar(
            targets, curve, du_col="du_alvo", curve_du="du", curve_rate="taxa",
            by="grupo",
        )
        return out.filter(F.col("taxa_interpolada").isNotNull()).count()

    if want("interp"):
        timed(f"interp_{FACTOR}x", interp)

    # WORST-CASE GROUP SKEW: same curves, but 90% of all targets forced
    # into ONE group — the shuffle route's window then sorts ~90% of
    # the fact in a single partition (the known degradation mode of any
    # partition-by-group window), while the broadcast-interval route
    # never shuffles the target side at all and is skew-immune. The
    # pair of rows quantifies when to switch routes.
    def interp_skew(route):
        curve = li.groupBy(
            ((F.col("l_orderkey") / 10_000_000).cast("int")).alias("rep"),
            F.date_trunc("month", "l_shipdate").cast("date").alias("m"),
            (F.dayofmonth(F.to_date("l_shipdate")) * 10).cast("long").alias("du"),
        ).agg(F.avg("l_discount").alias("taxa")).withColumn(
            "grupo", F.concat_ws("_", "rep", "m")
        )
        targets = od.select(
            ((F.col("o_orderkey") / 10_000_000) % FACTOR).cast("int").alias("rep"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
            (F.dayofmonth(F.to_date("o_orderdate")) * 10 + 3).cast("long").alias("du_alvo"),
            "o_orderkey",
        ).withColumn(
            "grupo",
            F.when(
                F.col("o_orderkey") % 10 != 0, F.lit("0_1995-06-01")
            ).otherwise(F.concat_ws("_", "rep", "m")),
        )
        out = interpolar(
            targets, curve, du_col="du_alvo", curve_du="du",
            curve_rate="taxa", by="grupo", distribution=route,
        )
        return out.filter(F.col("taxa_interpolada").isNotNull()).count()

    if want("interp_skew"):
        timed(f"interp_skew_shuffle_{FACTOR}x", lambda: interp_skew("shuffle"))
        timed(
            f"interp_skew_broadcast_{FACTOR}x",
            lambda: interp_skew("broadcast"),
        )
        # round-8: the default route picker — should land on the
        # broadcast time when the curve panel's estimate fits the
        # broadcast threshold (the whole point of the auto default)
        timed(f"interp_skew_auto_{FACTOR}x", lambda: interp_skew("auto"))
        # round-9: auto-exact spends one bounded count when the
        # estimate is unbounded (this derived panel) — should land on
        # the broadcast time, closing the gap the r8 auto row left
        timed(
            f"interp_skew_autoexact_{FACTOR}x",
            lambda: interp_skew("auto-exact"),
        )

    # grouped as-of join at 10× groups
    def asof():
        left = li.join(od, li.l_orderkey == od.o_orderkey).select(
            "o_custkey", F.to_date("l_shipdate").alias("ship_date")
        )
        right = od.groupBy(
            "o_custkey", F.to_date("o_orderdate").alias("d")
        ).agg(F.max("o_totalprice").alias("p"))
        out = asof_join(
            left, right, on="ship_date", right_on="d", by="o_custkey", values=["d", "p"]
        )
        return out.filter(F.col("p").isNotNull()).count()

    if want("asof"):
        timed(f"asof_{FACTOR}x", asof)

    # UNGROUPED as-of at 10× left rows (round-2 range-bucket design:
    # percentile buckets + enumerated ghost spine — no single-partition
    # window, no full-input distinct)
    def asof_ungrouped():
        left = od.select(F.to_date("o_orderdate").alias("d"))
        right = (
            spark.read.parquet(f"{SF}/orders.parquet")
            .filter(F.col("o_orderkey") % 3 == 0)
            .select(F.to_date("o_orderdate").alias("dr"))
            .distinct()
            .withColumn("v", F.dayofmonth("dr").cast("double"))
        )
        out = asof_join(left, right, on="d", right_on="dr",
                        strategy="backward", values=["dr", "v"])
        return out.filter(F.col("v").isNotNull()).count()

    if want("asof_ungrouped"):
        timed(f"asof_ungrouped_{FACTOR}x", asof_ungrouped)

    # UNGROUPED as-of, broadcast route (round 2): same join against a
    # dimension-sized series — zero fact-side shuffles
    def asof_broadcast():
        left = od.select(F.to_date("o_orderdate").alias("d"))
        right = (
            spark.read.parquet(f"{SF}/orders.parquet")
            .filter(F.col("o_orderkey") % 3 == 0)
            .select(F.to_date("o_orderdate").alias("dr"))
            .distinct()
            .withColumn("v", F.dayofmonth("dr").cast("double"))
        )
        out = asof_join(left, right, on="d", right_on="dr",
                        strategy="backward", values=["dr", "v"],
                        distribution="broadcast")
        return out.filter(F.col("v").isNotNull()).count()

    if want("asof_broadcast"):
        timed(f"asof_broadcast_{FACTOR}x", asof_broadcast)

    # MinHash/LSH dedup pipeline at 10x documents: signatures + banded
    # candidate pairs stay linear (equi-join on (band, bkey), never
    # all-pairs) — the shape that must hold at 100 TB
    def minhash_10x():
        from pyield_spark.operators import dedup as dd

        docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
            ["doc_id"],
        )
        pairs = dd.lsh_candidate_pairs(docs, "text", "doc_id", n=3, band_size=2)
        return pairs.count()

    if want("minhash"):
        timed(f"minhash_lsh_{FACTOR}x", minhash_10x)

    # K5 bootstrap at 10x curve groups: the applyInPandas recursion is
    # O(grid) per group with O(1) state, parallel ACROSS groups — the
    # 100 TB axis is #reference-dates, so 10x the curves should grow
    # wall-clock far below 10x (the columnar grid/cotacao stages
    # dominate and parallelize)
    def bootstrap_10x():
        from pyield_spark.bonds.bootstrap import ntnb_taxas_zero
        from pyield_spark.queries.analytics import _ntnb_panel

        panel = _ntnb_panel(spark, SF)
        out = None
        for i in range(FACTOR):
            # scale the #curves axis by replica index in the GROUP KEY,
            # not by date shifts: the pre-round-6 i*96-month shift runs
            # off the 2099 calendar edge at FACTOR=100 (NaN business
            # days -> kernel crash), while a composite (rep, grupo) key
            # multiplies curve groups with every copy's 3-month chain
            # geometry — and calendar interaction — bit-identical
            c = panel.withColumn("rep", F.lit(i))
            out = c if out is None else out.unionByName(c)
        z = ntnb_taxas_zero(out, by=["rep", "grupo"], settlement="liq",
                            maturity="ven", tir="taxa")
        return z.filter(F.col("taxa_zero").isNotNull()).count()

    if want("bootstrap"):
        timed(f"bootstrap_{FACTOR}x", bootstrap_10x)

    # LM typicality at 10x: token explode + model groupBy + attach join
    def lm_10x():
        from pyield_spark.operators.vocab import lm_typicality

        docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
            ["doc_id"],
        )
        out = lm_typicality(docs, "text", "doc_id")
        return out.filter(F.col("avg_logprob").isNotNull()).count()

    if want("lm"):
        timed(f"lm_typicality_{FACTOR}x", lm_10x)

    # Futures enrichment (the reference-user flagship) at FACTOR×: each
    # copy shifts the reference date by i×12 months (month classes — and
    # so ticker month codes — are preserved; orderkeys shift too, so
    # contracts stay distinct). The scale axis is #reference-dates: the
    # forward-curve window partitions by data_referencia, so copies add
    # PARTITIONS, not window width, and the calendar joins stay
    # broadcast. Dates span ~1992+FACTOR years — inside the 1990–2099
    # generated calendar up to FACTOR=100.
    def futuro_scaled():
        from pyield_spark.analytics.futuro import enriquecer
        from pyield_spark.queries.analytics import futuro_pr_frame

        base = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
            "o_orderdate", F.to_date("o_orderdate")
        )
        scaled = None
        for i in range(FACTOR):
            c = base.withColumn(
                "o_orderdate", F.add_months("o_orderdate", i * 12)
            ).withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
            scaled = c if scaled is None else scaled.unionByName(c)
        out = enriquecer(futuro_pr_frame(scaled), "DI1")
        # panel size (the synthetic %8 maturity buckets make most
        # dias_uteis collide per date, so taxa_forward is null-heavy by
        # construction — row count is the meaningful volume metric)
        return out.count()

    if want("futuro"):
        timed(f"futuro_enrich_{FACTOR}x", futuro_scaled)

    # Connected components at FACTOR× (round-7, VERDICT r6 ask #1).
    # Two shapes: the adversarial WORST case (long paths with ids
    # ascending along the chain — diameter grows linearly with the
    # factor, the input that breaks diameter-bound propagation) and the
    # AVERAGE case (LSH-near-clique components, diameter ~3 — what real
    # near-dup graphs look like; component COUNT grows with the factor).
    # Edges are generated distributively via spark.range — no driver
    # lists. Both shapes run the distributed loop (LOCAL_MAX_EDGES = 0
    # turns the driver route off), which is what they measure. Reports
    # wall, route, rounds-to-fixpoint and labeled-node count.
    def cc_chain():
        from pyield_spark.operators import graph
        from pyield_spark.operators.graph import connected_components

        graph.LOCAL_MAX_EDGES = 0

        chain_len = 1000 * FACTOR          # diameter scales with FACTOR
        n_chains = 20
        ids = spark.range(n_chains * chain_len)
        edges = ids.filter((F.col("id") + 1) % chain_len != 0).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        stats = {}
        n = connected_components(edges, stats=stats).count()
        print(
            f"  cc_chain route={stats['route']} rounds={stats['rounds']}"
            f" (diameter {chain_len - 1})"
        )
        return n

    if want("cc_chain"):
        timed(f"cc_chain_{FACTOR}x", cc_chain)

    def cc_clique():
        from pyield_spark.operators import graph
        from pyield_spark.operators.graph import connected_components

        graph.LOCAL_MAX_EDGES = 0

        n_comp = 4000 * FACTOR             # component count scales
        size = 6
        ids = spark.range(n_comp * size)
        base = ids.select(
            (F.col("id") / size).cast("long").alias("c"),
            (F.col("id") % size).alias("m"),
        )
        # ring + distance-2 chords per component: diameter ~2, the
        # LSH-bucket near-clique shape
        edges = base.select(
            F.explode(F.array(F.lit(1), F.lit(2))).alias("d"), "c", "m"
        ).select(
            (F.col("c") * size + F.col("m")).alias("id_a"),
            (F.col("c") * size + (F.col("m") + F.col("d")) % size).alias("id_b"),
        )
        stats = {}
        n = connected_components(edges, stats=stats).count()
        print(
            f"  cc_clique route={stats['route']} rounds={stats['rounds']}"
            f" ({n_comp:,} components)"
        )
        return n

    if want("cc_clique"):
        timed(f"cc_clique_{FACTOR}x", cc_clique)

    # NTN-B total-return decomposition at FACTOR× positions: replicate
    # orders with shifted keys (each copy contributes its own ~1/97
    # bond slice; dates unchanged, so the VNA/rate series and calendar
    # joins stay dimension-sized while the position axis scales — the
    # realistic 100 TB axis for this analytic is #positions×#periods)
    def totalret():
        from pyield_spark.queries.total_return import q_ntnb_total_return

        import tempfile

        base = spark.read.parquet(f"{SF}/orders.parquet")
        scaled = None
        for i in range(FACTOR):
            c = base.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
            scaled = c if scaled is None else scaled.unionByName(c)
        d = tempfile.mkdtemp(prefix="scale_tr_")
        scaled.write.mode("overwrite").parquet(f"{d}/orders.parquet")
        out = q_ntnb_total_return(spark, d)
        return out.filter(F.col("retorno_total").isNotNull()).count()

    if want("totalret"):
        timed(f"totalret_{FACTOR}x", totalret)

    # The monthly-zip connector twin at FACTOR× rows: the whole
    # bronze→silver→gold chain is NARROW (line synthesis, split/parse,
    # typed casts, financeiro arithmetic — no joins, one groupBy-free
    # map pipeline), so wall should scale ~linearly with rows and the
    # plan shape not change at all — the property a 100 TB text-lake
    # ingest needs.
    def mensal():
        from pyield_spark.queries import QUERIES, load_all

        import tempfile

        load_all()
        base = spark.read.parquet(f"{SF}/orders.parquet")
        scaled = None
        for i in range(FACTOR):
            c = base.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * 10_000_000))
            scaled = c if scaled is None else scaled.unionByName(c)
        d = tempfile.mkdtemp(prefix="scale_mg_")
        scaled.write.mode("overwrite").parquet(f"{d}/orders.parquet")
        return QUERIES["q_mensal_gold"](spark, d).count()

    if want("mensal"):
        timed(f"mensal_gold_{FACTOR}x", mensal)

    # BM25 at FACTOR× documents: the design promise is that the only
    # data-sized shuffle carries query-term-matching tokens (pruned
    # BEFORE the tf groupBy), corpus stats are one map-side aggregate,
    # and the top-k is a TakeOrdered — wall should track the token scan.
    def bm25():
        from pyield_spark.operators.vocab import bm25_topk
        from pyield_spark.queries.corpus import _BM25_TERMS

        docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
            ["doc_id"],
        )
        out = bm25_topk(docs, "text", "doc_id", _BM25_TERMS, k=20)
        return out.count()

    if want("bm25"):
        timed(f"bm25_topk_{FACTOR}x", bm25)

    # BPE token counting at FACTOR× documents: the merge-fold chain
    # runs on DISTINCT words only (constant under replication — the
    # honest shape of a natural-language vocabulary), so wall should
    # track the explode+join, not FACTOR× the fold cost.
    def bpe():
        from pyield_spark.operators.bpe import bpe_token_count
        from pyield_spark.queries.bpe_artifact import BPE_MERGES

        docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
            ["doc_id"],
        )
        return bpe_token_count(docs, "text", "doc_id", BPE_MERGES).count()

    if want("bpe"):
        timed(f"bpe_tokens_{FACTOR}x", bpe)

    # Corpus shuffle (dense global position, bucketed — no
    # single-partition rank) + sequence packing (hash-sharded cumsum
    # bins) at FACTOR× documents — the assembly stages that run LAST in
    # a training-data pipeline, over the whole kept corpus.
    def pack():
        from pyield_spark.operators.sampling import (
            global_sort_index,
            pack_sequences,
        )
        from pyield_spark.operators.text import token_count_expr

        docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text"),
            ["doc_id"],
        )
        toks = docs.select(
            "doc_id", token_count_expr("text").alias("n_tokens")
        )
        shuffled = global_sort_index(toks, "doc_id")
        packed = pack_sequences(shuffled, "n_tokens", "doc_id", budget=2048)
        return packed.select("doc_id").count()

    if want("pack"):
        timed(f"pack_{FACTOR}x", pack)

    # IVF vs IVF-PQ at FACTOR× vectors, FIXED 20-query workload (the
    # corpus grows, the query set does not — the serving-side scaling
    # axis). Candidate space per query = N·n_probe/C grows linearly;
    # the lap contrasts full-vector in-list rescoring (ivf_topk,
    # dim-sized arithmetic per candidate) against m-lookup ADC scoring
    # + bounded exact refine (ivfpq_topk).
    def _ann(variant):
        from pyield_spark.operators.similarity import ivf_topk, ivfpq_topk

        emb = replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            ["vec_id"],
        )
        pred = (F.col("_vid") < 2000) & (F.col("_vid") % 100 == 0)
        if variant == "ivf":
            out = ivf_topk(
                emb, "vec_id", "embedding", query_pred=pred,
                k=5, n_centroids=16, n_probe=4,
            )
        else:
            out = ivfpq_topk(
                emb, "vec_id", "embedding", query_pred=pred,
                k=5, n_centroids=16, n_probe=4, m=4, ks=16, refine=20,
            )
        return out.count()

    if want("ivfpq"):
        timed(f"ivf_topk_fixedq_{FACTOR}x", lambda: _ann("ivf"))
        timed(f"ivfpq_topk_fixedq_{FACTOR}x", lambda: _ann("ivfpq"))

        # serve-only: the PQ index built and materialized OUTSIDE the
        # timer (pq_encode is the ingest-time half — run once per
        # corpus, persisted, amortized over every query batch; the
        # end-to-end row above re-encodes per run and is therefore
        # encode-dominated)
        from pyield_spark.operators.similarity import ivfpq_topk, pq_encode

        emb_s = replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            ["vec_id"],
        )
        idx_holder = {}

        def _encode():
            idx_holder["idx"] = pq_encode(
                emb_s, "vec_id", "embedding", n_centroids=16, m=4, ks=16
            ).localCheckpoint()
            return idx_holder["idx"].count()

        timed(f"ivfpq_encode_{FACTOR}x", _encode)
        idx = idx_holder["idx"]
        pred_s = (F.col("_vid") < 2000) & (F.col("_vid") % 100 == 0)
        timed(
            f"ivfpq_serve_{FACTOR}x",
            lambda: ivfpq_topk(
                emb_s, "vec_id", "embedding", query_pred=pred_s,
                k=5, n_centroids=16, n_probe=4, m=4, ks=16, refine=20,
                index=idx,
            ).count(),
        )

    # round-8: the TRAINED (residual-PQ) ladder — train cost is
    # corpus-size-INDEPENDENT (bounded hash sample), encode/serve use
    # the same kernels, so the lap shows training adds a fixed prefix,
    # not a scaling term
    if want("ivfpq_trained"):
        from pyield_spark.operators.similarity import (
            ivfpq_topk, pq_encode, train_codebooks,
        )

        emb_t = replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            ["vec_id"],
        )
        cb_h, idx_h = {}, {}

        def _train():
            cb_h["cb"] = train_codebooks(
                emb_t, "vec_id", "embedding", n_centroids=16, m=4,
                ks=16, sample=4096, iters=8, by_residual=True,
            )
            return 1

        timed(f"ivfpq_train_{FACTOR}x", _train)

        def _enc_t():
            idx_h["idx"] = pq_encode(
                emb_t, "vec_id", "embedding", m=4, codebooks=cb_h["cb"]
            ).localCheckpoint()
            return idx_h["idx"].count()

        timed(f"ivfpq_encode_trained_{FACTOR}x", _enc_t)
        pred_t = (F.col("_vid") < 2000) & (F.col("_vid") % 100 == 0)
        timed(
            f"ivfpq_serve_trained_{FACTOR}x",
            lambda: ivfpq_topk(
                emb_t, "vec_id", "embedding", query_pred=pred_t,
                k=5, n_probe=4, m=4, refine=20,
                codebooks=cb_h["cb"], index=idx_h["idx"],
            ).count(),
        )

    # --- round-4 additions: run the REGISTERED composite queries on a
    # materialized FACTOR× sf_dir (replicated tables written to parquet,
    # then the exact queries() plans — not hand-rolled equivalents) ---
    import os
    import tempfile

    from pyield_spark.queries import QUERIES, load_all

    load_all()
    run_leiloes = want("composites") or want("leiloes")
    run_semantic = want("composites") or want("semantic")
    run_neardup = want("composites") or want("neardup")
    run_warehouse = want("warehouse")
    run_sessionize = want("sessionize")
    run_curation = want("curation")
    run_r9 = (
        want("simclusters") or want("sq8") or want("hybrid")
        or want("hybrid_pruned")
    )
    run_r10 = (
        want("countmin") or want("clf") or want("mmr") or want("rp")
    )
    if not (
        run_leiloes or run_semantic or run_neardup
        or run_warehouse or run_sessionize or run_curation or run_r9
        or run_r10
    ):
        return
    scaled_dir = tempfile.mkdtemp(prefix="scale_sfx_")
    # only the tables these queries actually read: q_leiloes /
    # warehouse → orders (+customer for the MERGE); q_semantic_dedup /
    # q_embedding_neardup → embeddings; sessionize → events
    if run_leiloes or run_warehouse:
        od.write.mode("overwrite").parquet(
            os.path.join(scaled_dir, "orders.parquet")
        )
    if run_warehouse:
        replicate(
            spark.read.parquet(f"{SF}/customer.parquet"), ["c_custkey"]
        ).write.mode("overwrite").parquet(
            os.path.join(scaled_dir, "customer.parquet")
        )
    if run_sessionize:
        # shift user_id too: the session-count axis (window PARTITIONS)
        # must scale with the factor, not just rows per user
        replicate(
            spark.read.parquet(f"{SF}/events.parquet"),
            ["event_id", "user_id"],
        ).write.mode("overwrite").parquet(
            os.path.join(scaled_dir, "events.parquet")
        )
    if run_curation:
        # doc_id shifts keep the eval (%97) and delta-source fractions
        # proportional, so the broadcast side grows WITH the corpus —
        # the honest test of the broadcast-eval-shingles design
        replicate(
            spark.read.parquet(f"{SF}/documents.parquet"), ["doc_id"]
        ).write.mode("overwrite").parquet(
            os.path.join(scaled_dir, "documents.parquet")
        )
    if run_semantic or run_neardup:
        replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet"), ["vec_id"]
        ).write.mode("overwrite").parquet(
            os.path.join(scaled_dir, "embeddings.parquet")
        )

    # q_leiloes: the per-title auction dispatch composite (ungrouped
    # as-of PTAX attach + single-pass DV01 scenarios) at FACTOR× orders
    if run_leiloes:
        timed(
            f"q_leiloes_{FACTOR}x",
            lambda: QUERIES["q_leiloes"](spark, scaled_dir).count(),
        )

    # SemDeDup at FACTOR× vectors WITH the documented sizing rule
    # k ∝ N (operators/semantic.py: pick k ≈ N/target_cluster_size so
    # the intra-cluster pair space Σn_c² ≈ N²/k stays LINEAR in N).
    # The registered query pins k=32 for its fixed-SF oracle; scaling N
    # without scaling k would be running the operator against its own
    # documentation, so this lap scales both. Replica vectors get a
    # per-copy first-dimension nudge so copies are near- but not
    # bit-identical (bit-identical copies collapse into degenerate
    # mega-clusters — a skew test, not a scaling test; the neardup row
    # below keeps the worst-case-skew variant).
    if run_semantic:
        from pyield_spark.operators.semantic import semantic_dedup

        def _scaled_emb():
            base = spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            )
            out = None
            for i in range(FACTOR):
                c = base.select(
                    (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                    F.concat(
                        F.array(
                            F.element_at("embedding", 1)
                            + F.lit(i * 1e-3)
                        ),
                        F.slice("embedding", 2, 10_000),
                    ).alias("embedding"),
                )
                out = c if out is None else out.unionByName(c)
            return out

        def _kprop(route):
            d = semantic_dedup(
                _scaled_emb(), "vec_id", "embedding", k=32 * FACTOR,
                iters=2, tau=0.2, route=route,
            )
            return d.filter(F.col("keep")).count()

        timed(f"semantic_dedup_kprop_{FACTOR}x", lambda: _kprop("exact"))
        # the at-scale cure for the O(N·k) assignment term the exact
        # lap exposes (PLANS.md): IVF-routed assignment, same pair stage
        timed(f"semantic_dedup_kprop_ivf_{FACTOR}x", lambda: _kprop("ivf"))

    # q_embedding_neardup: LSH bucket prune + exact rescore at FACTOR×
    # vectors — the pair space must stay near-linear via the buckets
    if run_neardup:
        timed(
            f"q_embedding_neardup_{FACTOR}x",
            lambda: QUERIES["q_embedding_neardup"](spark, scaled_dir).count(),
        )

    # The warehouse family at FACTOR× orders: the SCD2 build's three
    # same-key windows (one exchange), the MERGE full-outer dispatch,
    # and the trailing-30d RANGE frame — window-heavy shapes whose
    # partition COUNT scales with the factor (entities replicate)
    # while per-partition width stays fixed.
    if run_warehouse:
        for qn in ("q_scd2_dim", "q_merge_upsert", "q_rolling_revenue_30d"):
            timed(
                f"{qn}_{FACTOR}x",
                lambda qn=qn: QUERIES[qn](spark, scaled_dir).count(),
            )

    # Curation family at FACTOR× documents: decontamination (broadcast
    # eval shingles — the eval side grows with the corpus here, the
    # worst case for the broadcast design), incremental-delta dedup
    # (broadcast new-batch hashes + shingles) and per-domain caps
    # (one hash window).
    if run_curation:
        for qn in ("q_decontaminate", "q_incremental_dedup", "q_domain_cap"):
            timed(
                f"{qn}_{FACTOR}x",
                lambda qn=qn: QUERIES[qn](spark, scaled_dir).count(),
            )

    # round-9: fingerprint-quotient Hamming clusters at FACTOR×
    # documents. Replicated copies share TEXT (the shifted ids change
    # only the key), so every doc sits in a FACTOR-sized hamming-0
    # clique — the worst case the quotient design exists for: distinct
    # fingerprints DO NOT grow with the factor, so the banded join and
    # the component propagation run on the sf0.1-sized fingerprint
    # graph however large the corpus; only the final fp→doc verdict
    # join scales. (The doc-level pair stream would be FACTOR²·pairs —
    # 7.8 G rows at 100× — and is exactly what this operator avoids.)
    if want("simclusters"):
        from pyield_spark.operators import dedup as sc_dd

        def _simclusters():
            docs = replicate(
                spark.read.parquet(f"{SF}/documents.parquet").select(
                    "doc_id", "text"
                ),
                ["doc_id"],
            )
            out = sc_dd.simhash_clusters(docs, "text", "doc_id", k=2)
            return out.filter(~F.col("keep")).count()

        timed(f"simhash_clusters_{FACTOR}x", _simclusters)

    # round-9: SQ8 encode (ingest half — stats + map-only quantize) and
    # serve (dequantized scan + refine) at FACTOR× vectors with a FIXED
    # query workload; the serve scan cost is the 8×-compressed payload.
    if want("sq8"):
        from pyield_spark.operators.similarity import sq8_encode, sq8_topk

        sq_emb = replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            ["vec_id"],
        )
        sq_holder = {}

        def _sq8_encode():
            sq_holder["idx"] = sq8_encode(sq_emb).localCheckpoint()
            return sq_holder["idx"].count()

        timed(f"sq8_encode_{FACTOR}x", _sq8_encode)
        sq_pred = (F.col("_vid") < 2000) & (F.col("_vid") % 100 == 0)
        timed(
            f"sq8_serve_{FACTOR}x",
            lambda: sq8_topk(
                sq_emb, query_pred=sq_pred, k=5, refine=20,
                index=sq_holder["idx"],
            ).count(),
        )
        # round-9 (cont.): IVF-pruned SQ8 serve — n_probe/C of the
        # scoring work, same index, same exact refine
        timed(
            f"ivf_sq8_serve_{FACTOR}x",
            lambda: sq8_topk(
                sq_emb, query_pred=sq_pred, k=5, refine=20,
                index=sq_holder["idx"], n_centroids=16, n_probe=4,
            ).count(),
        )

    # round-9: hybrid BM25+dense RRF at FACTOR× documents — both legs
    # end in fixed top-k lists, so the fusion join is constant-size;
    # the scaling terms are the BM25 pruned-token shuffle and the
    # dense brute-force scan (the documented baseline; ivf/sq8 pruning
    # swaps into the dense leg at deployment).
    if want("hybrid"):
        from pyield_spark.operators.vocab import hybrid_rrf

        def _hybrid():
            docs = replicate(
                spark.read.parquet(f"{SF}/documents.parquet").select(
                    "doc_id", "text"
                ),
                ["doc_id"],
            )
            embs = replicate(
                spark.read.parquet(f"{SF}/embeddings.parquet").select(
                    "vec_id", "embedding"
                ),
                ["vec_id"],
            )
            return hybrid_rrf(
                docs, embs, ["spark", "window", "merge", "vector"]
            ).count()

        timed(f"hybrid_rrf_{FACTOR}x", _hybrid)

    # round-10: the same hybrid pipeline with route='ivf_sq8' — the
    # dense leg scores SQ8 byte codes inside 4 probed lists instead of
    # brute-scanning FACTOR× float vectors (r9 VERDICT #1: the pruning
    # is now a parameter, measured here against the hybrid row above).
    if want("hybrid_pruned"):
        from pyield_spark.operators.similarity import ivf_assign, sq8_encode
        from pyield_spark.operators.vocab import hybrid_rrf as _hrrf

        hp_docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select(
                "doc_id", "text"
            ),
            ["doc_id"],
        )
        hp_embs = replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            ["vec_id"],
        )
        # end-to-end (index built inline): with ONE PRF-centroid query
        # the N·C assignment costs ~n_centroids× the brute scan, so
        # this row is EXPECTED to lose to the brute hybrid row — it is
        # the measured reason hybrid_rrf grew index= (serve row below)
        timed(
            f"hybrid_rrf_pruned_e2e_{FACTOR}x",
            lambda: _hrrf(
                hp_docs, hp_embs, ["spark", "window", "merge", "vector"],
                route="ivf_sq8", n_centroids=16, n_probe=4,
            ).count(),
        )
        hp_holder = {}

        def _hp_ingest():
            hp_holder["idx"] = ivf_assign(
                sq8_encode(hp_embs), 16
            ).localCheckpoint()
            return hp_holder["idx"].count()

        timed(f"hybrid_sq8_ingest_{FACTOR}x", _hp_ingest)
        timed(
            f"hybrid_rrf_pruned_serve_{FACTOR}x",
            lambda: _hrrf(
                hp_docs, hp_embs, ["spark", "window", "merge", "vector"],
                route="ivf_sq8", n_centroids=16, n_probe=4,
                index=hp_holder["idx"],
            ).count(),
        )

    # round-10: Count-Min at FACTOR× documents — the grid stays d×w
    # rows no matter the corpus (the entire point of the sketch), so
    # build cost must track the explode+groupBy and the probe must stay
    # a broadcast lookup. Replication multiplies counts, not items (the
    # honest vocabulary shape); the probe estimates EVERY distinct gram.
    if want("countmin"):
        from pyield_spark.operators import sketch as sk
        from pyield_spark.operators.dedup import ngrams_expr
        from pyield_spark.operators.text import tokens_expr

        cm_docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select(
                "doc_id", "text"
            ),
            ["doc_id"],
        )
        cm_occ = cm_docs.select(
            F.explode(
                F.concat(tokens_expr(F.col("text")), ngrams_expr(F.col("text"), 3))
            ).alias("gram")
        )
        cm_holder = {}

        def _cm_build():
            cm_holder["grid"] = sk.countmin_build(cm_occ, "gram").localCheckpoint()
            return cm_holder["grid"].count()

        timed(f"countmin_build_{FACTOR}x", _cm_build)
        timed(
            f"countmin_probe_{FACTOR}x",
            lambda: sk.countmin_estimate(
                cm_occ.groupBy("gram").agg(F.count("*").alias("exact")),
                "gram",
                cm_holder["grid"],
            ).count(),
        )

    # round-10: classifier serve at FACTOR× documents — map-only
    # expression arithmetic; wall must track the scan, no shuffle.
    if want("clf"):
        from pyield_spark.operators import classifier as clf
        from pyield_spark.queries.clf_artifact import CLF_WEIGHTS

        clf_docs = replicate(
            spark.read.parquet(f"{SF}/documents.parquet").select(
                "doc_id", "text"
            ),
            ["doc_id"],
        )

        def _clf():
            p = clf.logreg_prob(CLF_WEIGHTS, clf.clf_features("text"))
            return clf_docs.select("doc_id", p.alias("p")).filter(
                F.col("p") >= 0.5
            ).count()

        timed(f"clf_serve_{FACTOR}x", _clf)

    # round-10: MMR rerank at FACTOR× vectors, FIXED 20-query workload
    # — the scaling term is the shortlist retrieval (brute cosine by
    # contract; the IVF/SQ8 ladder swaps in at deployment); the k−1
    # unrolled greedy steps run on constant-size shortlists.
    if want("mmr"):
        from pyield_spark.operators.similarity import mmr_rerank

        mmr_emb = replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            ["vec_id"],
        )
        mmr_pred = (F.col("_vid") < 2000) & (F.col("_vid") % 100 == 0)
        timed(
            f"mmr_rerank_brute_{FACTOR}x",
            lambda: mmr_rerank(mmr_emb, query_pred=mmr_pred).count(),
        )
        # pruned serve: shortlist from the IVF-SQ8 ladder (persisted
        # index), MMR itself is then the only marginal cost — the
        # brute row above is 93% retrieval (265 of 285 s measured)
        from pyield_spark.operators.similarity import (
            ivf_assign,
            sq8_encode,
            sq8_topk,
        )

        mmr_idx = ivf_assign(sq8_encode(mmr_emb), 16).localCheckpoint()
        mmr_idx.count()

        def _mmr_pruned():
            sl = sq8_topk(
                mmr_emb, query_pred=mmr_pred, k=10, refine=40,
                index=mmr_idx, n_centroids=16, n_probe=4,
            )
            return mmr_rerank(mmr_emb, shortlist=sl).count()

        timed(f"mmr_rerank_ivf_sq8_{FACTOR}x", _mmr_pruned)

    # round-10: JL random-projection rung at FACTOR× vectors, fixed
    # 20-query workload — ingest (project+persist) once, serve scans
    # out_dim/64 of the floats; brute row above is the 64-d baseline
    if want("rp"):
        from pyield_spark.operators.similarity import (
            norm_sq_dec,
            rp_project_expr,
            rp_topk,
        )

        rp_emb = replicate(
            spark.read.parquet(f"{SF}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            ["vec_id"],
        )
        rp_holder = {}

        def _rp_ingest():
            rp_holder["idx"] = (
                rp_emb.select(
                    F.col("vec_id").alias("_vid"),
                    F.col("embedding").alias("_vec"),
                    rp_project_expr("embedding").alias("_rvec"),
                )
                .withColumn("_rnorm2", norm_sq_dec("_rvec"))
                .localCheckpoint()
            )
            return rp_holder["idx"].count()

        timed(f"rp_ingest_{FACTOR}x", _rp_ingest)
        rp_pred = (F.col("_vid") < 2000) & (F.col("_vid") % 100 == 0)
        timed(
            f"rp_serve_{FACTOR}x",
            lambda: rp_topk(
                rp_emb, query_pred=rp_pred, k=5, refine=20,
                index=rp_holder["idx"],
            ).count(),
        )

    # Gap-based sessionization at FACTOR× events / FACTOR× users: one
    # user-key window (lag + cumulative session counter) + the
    # session-level aggregate.
    if run_sessionize:
        timed(
            f"q_events_sessionize_{FACTOR}x",
            lambda: QUERIES["q_events_sessionize"](spark, scaled_dir).count(),
        )


if __name__ == "__main__":
    main()
