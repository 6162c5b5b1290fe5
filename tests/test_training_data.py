"""Training-data assembly operators: connected components, sampling,
mixture resampling, sequence packing."""

from pyspark.sql import functions as F

from pyield_spark.operators import graph as gr
from pyield_spark.operators import sampling as sp


def test_connected_components_path_and_islands(spark):
    # path 1-2-3-4-5 (diameter 4 => several propagation rounds),
    # triangle 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in gr.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_deep_chain_log_rounds(spark, monkeypatch):
    """A 400-node path (diameter 399) — plain propagation would need
    ~400 rounds; pointer doubling must converge in O(log d) and still
    label every node with the component min. Forced onto the
    distributed loop (the driver route would solve it in 0 rounds)."""
    import pytest

    monkeypatch.setattr(gr, "LOCAL_MAX_EDGES", 0)
    n = 400
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a long, id_b long"
    )
    stats: dict = {}
    got = {
        r["node"]: r["cluster_id"]
        for r in gr.connected_components(edges, stats=stats).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}
    assert stats["route"] == "spark"
    # 3 plain warmup rounds (adaptive delay), then doubling halves the
    # remaining ~396-hop pointer distance: 3 + ~log2(396) + slack
    assert stats["rounds"] <= 16

    # the plain (diameter-bound) route must now REFUSE to return the
    # silently-wrong labels it used to produce past max_iter
    with pytest.raises(RuntimeError, match="did not converge"):
        gr.connected_components(edges, accelerate=False, max_iter=10)


def test_connected_components_empty_edges(spark):
    """An empty pair list — the normal 'no near-dups found' outcome —
    must yield an empty labeling immediately (and every document a
    kept singleton through dedup_decisions), not burn max_iter rounds
    or raise the round-7 non-convergence error."""
    edges = spark.createDataFrame([], "id_a long, id_b long")
    stats: dict = {}
    assert gr.connected_components(edges, stats=stats).count() == 0
    assert stats["rounds"] == 0

    docs = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    rows = gr.dedup_decisions(docs, edges).collect()
    assert {r["doc_id"] for r in rows if r["keep"]} == {0, 1, 2, 3}
    assert all(r["cluster_id"] == r["doc_id"] for r in rows)


def test_connected_components_accelerate_parity(spark, monkeypatch):
    """Doubling changes rounds, never results: same labels as the plain
    propagation route on a mixed graph (string ids exercise the
    xxhash64 checksum path too). Both runs take the distributed loop."""
    monkeypatch.setattr(gr, "LOCAL_MAX_EDGES", 0)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("c", "d"), ("m", "m")],
        "id_a string, id_b string",
    )
    fast = {
        (r["node"], r["cluster_id"])
        for r in gr.connected_components(edges).collect()
    }
    plain = {
        (r["node"], r["cluster_id"])
        for r in gr.connected_components(edges, accelerate=False).collect()
    }
    assert fast == plain
    assert ("d", "a") in fast and ("y", "x") in fast


def _cc_both_routes(edges, monkeypatch):
    """(driver-route labels, loop labels) as sets of (node, cluster_id),
    each route checked through ``stats``."""
    def run(route):
        stats: dict = {}
        rows = {
            (r["node"], r["cluster_id"])
            for r in gr.connected_components(edges, stats=stats).collect()
        }
        assert stats["route"] == route
        return rows

    driver = run("driver")
    with monkeypatch.context() as m:
        # below 0, not at 0: an empty pair list fits a bound of 0
        m.setattr(gr, "LOCAL_MAX_EDGES", -1)
        loop = run("spark")
    return driver, loop


def test_cc_driver_route_matches_loop_on_random_graphs(spark, monkeypatch):
    """Seeded random graphs with self-loops and repeated pairs, as
    disjoint id ranges in one edge list: union-find on the driver gives
    the loop's labels."""
    import random

    rng = random.Random(7)
    pairs = []
    for g in range(4):
        n = rng.randint(6, 40)
        base = 1000 * g
        pairs += [
            (base + rng.randrange(n), base + rng.randrange(n))
            for _ in range(rng.randint(3, 2 * n))
        ]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    driver, loop = _cc_both_routes(edges, monkeypatch)
    assert driver == loop
    assert {x for p in pairs for x in p} == {n for n, _ in driver}


def test_cc_driver_route_null_endpoints(spark, monkeypatch):
    """NULL never links its neighbours, the NULL node takes the min of
    its neighbours' labels, and (NULL, NULL) alone labels NULL — on
    both routes."""
    edges = spark.createDataFrame(
        [(1, None), (1, 2), (None, 3), (7, 7)], "id_a long, id_b long"
    )
    driver, loop = _cc_both_routes(edges, monkeypatch)
    assert driver == loop == {(1, 1), (2, 1), (3, 3), (7, 7), (None, 1)}

    edges = spark.createDataFrame([(None, 4)], "id_a int, id_b int")
    driver, loop = _cc_both_routes(edges, monkeypatch)
    assert driver == loop == {(4, 4), (None, 4)}

    edges = spark.createDataFrame([(None, None)], "id_a long, id_b long")
    driver, loop = _cc_both_routes(edges, monkeypatch)
    assert driver == loop == {(None, None)}


def test_cc_driver_route_empty_strings_and_wide_ids(spark, monkeypatch):
    """The empty pair list; string ids ordered by code point (``Z`` <
    ``a`` < ``z`` < ``é``, Spark's UTF-8 byte order); ids above 2^53
    that a float64 column would merge."""
    empty = spark.createDataFrame([], "id_a long, id_b long")
    driver, loop = _cc_both_routes(empty, monkeypatch)
    assert driver == loop == set()

    edges = spark.createDataFrame(
        [("é", "z"), ("a", "Z"), ("é", "é"), ("b", "é")],
        "id_a string, id_b string",
    )
    driver, loop = _cc_both_routes(edges, monkeypatch)
    assert driver == loop == {
        ("é", "b"), ("z", "b"), ("b", "b"), ("a", "Z"), ("Z", "Z"),
    }

    big = 2**62 + 1
    edges = spark.createDataFrame(
        [(big, big + 1), (big + 3, big + 2)], "id_a long, id_b long"
    )
    driver, loop = _cc_both_routes(edges, monkeypatch)
    assert driver == loop == {
        (big, big), (big + 1, big), (big + 2, big + 2), (big + 3, big + 2),
    }


def test_cc_route_gate_on_size_and_type(spark, monkeypatch):
    """One pair above the constant, or a non-integral id type, takes
    the distributed loop; the driver route returns a LocalRelation."""
    monkeypatch.setattr(gr, "LOCAL_MAX_EDGES", 3)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    stats: dict = {}
    got = {tuple(r) for r in gr.connected_components(edges, stats=stats).collect()}
    assert stats["route"] == "spark" and stats["rounds"] > 0
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 5), (6, 5)}

    stats = {}
    three = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    comp = gr.connected_components(three, stats=stats)
    assert stats == {"rounds": 0, "route": "driver"}
    assert "LocalTableScan" in comp._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(gr, "LOCAL_MAX_EDGES", 1_000)
    stats = {}
    dbl = spark.createDataFrame([(1.0, 2.0), (2.0, 3.0)], "id_a double, id_b double")
    got = {tuple(r) for r in gr.connected_components(dbl, stats=stats).collect()}
    assert stats["route"] == "spark"
    assert got == {(1.0, 1.0), (2.0, 1.0), (3.0, 1.0)}

    stats = {}
    mixed = spark.createDataFrame([(1, 2)], "id_a int, id_b long")
    gr.connected_components(mixed, stats=stats).collect()
    assert stats["route"] == "spark"


def test_dedup_decisions_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5), (6, 7)], "id_a long, id_b long")
    rows = gr.dedup_decisions(docs, pairs).collect()
    keep = {r["doc_id"] for r in rows if r["keep"]}
    # cluster {1,3,5} keeps 1; {6,7} keeps 6; singletons keep themselves
    assert keep == {0, 1, 2, 4, 6}
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert by_doc[5] == 1 and by_doc[7] == 6 and by_doc[4] == 4


def test_dedup_keep_best_prefers_quality_over_min_id(spark):
    """Canonical selection: within {1,3,5} the best-quality doc (5)
    survives — NOT min id; quality ties fall back to min id ({6,7} both
    0.5 -> keep 6); singletons always keep."""
    docs = spark.createDataFrame(
        [(0, 0.1), (1, 0.2), (2, 0.9), (3, 0.4), (4, 0.3), (5, 0.8),
         (6, 0.5), (7, 0.5)],
        "doc_id long, q double",
    )
    pairs = spark.createDataFrame([(1, 3), (3, 5), (6, 7)], "id_a long, id_b long")
    rows = gr.dedup_keep_best(docs, pairs, quality_col="q").collect()
    keep = {r["doc_id"] for r in rows if r["keep"]}
    assert keep == {0, 2, 4, 5, 6}
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    # cluster ids stay min-label (stable identity), only the KEPT copy moves
    assert by_doc[5] == 1 and by_doc[7] == 6


def test_hash_sampling_deterministic_and_stratified(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sp.hash_sample(docs, "doc_id", 0.3, salt="s").select("doc_id")
    b = sp.hash_sample(docs, "doc_id", 0.3, salt="s").select("doc_id")
    assert a.subtract(b).count() == 0 and b.subtract(a).count() == 0
    n = docs.count()
    assert abs(a.count() / n - 0.3) < 0.15  # hash-uniformity, small n
    # a larger fraction with the same salt strictly contains the smaller
    wide = sp.hash_sample(docs, "doc_id", 0.6, salt="s").select("doc_id")
    assert a.subtract(wide).count() == 0
    strat = sp.stratified_sample(
        docs, "lang", {"en": 1.0, "zh": 0.0}, key="doc_id", default_rate=0.5
    )
    langs = dict(strat.groupBy("lang").count().collect())
    all_langs = dict(docs.groupBy("lang").count().collect())
    assert langs.get("en") == all_langs["en"] and "zh" not in langs


def test_mixture_resample_exact_copy_counts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sp.mixture_resample(docs, "lang", {"en": 2.0, "es": 0.5}, key="doc_id")
    per = dict(out.groupBy("lang").count().collect())
    n_en = docs.filter(F.col("lang") == "en").count()
    assert per["en"] == 2 * n_en  # integer weight: exact
    assert set(per) == {"en", "es"}  # unlisted domains dropped (weight 0)
    # copies of one doc are distinguished by copy_idx
    dup = out.groupBy("doc_id", "copy_idx").count().filter("count > 1").count()
    assert dup == 0


def test_redact_pii_tags_and_counts(spark):
    from pyield_spark.operators import text as tx

    df = spark.createDataFrame(
        [("mail bob.smith@corp.example or 55-12-3456-7890 at 10.0.0.12 end",),
         ("no pii here",)],
        "t string",
    )
    rows = df.select(
        tx.redact_pii_expr("t").alias("r"),
        tx.pii_count_expr("t", tx.PII_EMAIL_RE).alias("e"),
        tx.pii_count_expr("t", tx.PII_PHONE_RE).alias("p"),
        tx.pii_count_expr("t", tx.PII_IPV4_RE).alias("i"),
    ).collect()
    assert rows[0]["r"] == "mail <EMAIL> or <PHONE> at <IP> end"
    assert (rows[0]["e"], rows[0]["p"], rows[0]["i"]) == (1, 1, 1)
    assert rows[1]["r"] == "no pii here"
    assert (rows[1]["e"], rows[1]["p"], rows[1]["i"]) == (0, 0, 0)


def test_global_sort_index_is_dense_hash_rank(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sp.global_sort_index(docs, "doc_id", n_buckets=16)
    rows = out.select("doc_id", "pos").collect()
    n = docs.count()
    assert sorted(r["pos"] for r in rows) == list(range(n))  # dense permutation
    # pos order == (hash, doc_id) order replayed locally
    hashed = {
        r["doc_id"]: r["h"]
        for r in docs.select(
            "doc_id", sp.sample_bucket_expr("doc_id", "shuffle").alias("h")
        ).collect()
    }
    want = sorted(hashed, key=lambda d: (hashed[d], d))
    got = [r["doc_id"] for r in sorted(rows, key=lambda r: r["pos"])]
    assert got == want


def test_pack_sequences_invariants(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "n_tokens", F.size(F.split(F.col("text"), r"\s+")).cast("long")
    )
    out = sp.pack_sequences(docs, "n_tokens", key="doc_id", budget=256, n_shards=4)
    rows = out.select("shard", "bin", "offset_in_bin", "n_tokens", "doc_id").collect()
    # replay the cumsum per shard in doc_id order and verify assignment
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
        before = by_shard.get(r["shard"], 0)
        assert r["bin"] == before // 256
        assert r["offset_in_bin"] == before % 256
        by_shard[r["shard"]] = before + r["n_tokens"]
    assert len(by_shard) == 4


def test_weighted_sample_proportionality(spark):
    """A-ES sampling: (a) deterministic across runs, (b) heavier rows
    are sampled more often — with weights 50:1, the heavy stratum must
    dominate a small sample."""
    from pyield_spark.operators.sampling import weighted_sample

    rows = [(i, 50 if i % 2 == 0 else 1) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, w int")
    s1 = weighted_sample(df, key="id", weight="w", n=100, salt="t")
    got1 = sorted(r.id for r in s1.collect())
    got2 = sorted(r.id for r in weighted_sample(
        df, key="id", weight="w", n=100, salt="t").collect())
    assert got1 == got2
    heavy = sum(1 for i in got1 if i % 2 == 0)
    assert heavy >= 85  # 50:1 weights → heavy stratum dominates

    # zero/negative/null weights never sampled
    df2 = spark.createDataFrame(
        [(1, 0), (2, -3), (3, None), (4, 10)], "id long, w int"
    )
    assert [r.id for r in weighted_sample(df2, "id", "w", 4).collect()] == [4]


def test_dedup_keep_best_randomized_vs_unionfind(spark):
    """Seeded random graphs: exactly one keeper per cluster, the keeper
    maximizes (quality, -id), cluster ids equal the union-find min
    label — mirrors the python reference implementation exactly."""
    import random

    rng = random.Random(42)
    for _ in range(3):
        n = rng.randint(8, 20)
        ids = list(range(n))
        quality = {i: round(rng.random(), 3) for i in ids}
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(rng.randint(3, 12))
        ]
        edges = [(a, b) for a, b in edges if a != b]

        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {x for e in edges for x in e}
        clusters = {}
        for i in ids:
            root = find(i) if i in touched else i
            # min label within the touched component; singletons self-label
            clusters.setdefault(root if i in touched else i, []).append(i)
        # normalize: label = min member id
        want_label = {}
        for members in clusters.values():
            lbl = min(members)
            for m in members:
                want_label[m] = lbl
        want_keep = set()
        for members in clusters.values():
            want_keep.add(
                max(members, key=lambda m: (quality[m], -m))
            )

        docs = spark.createDataFrame(
            [(i, quality[i]) for i in ids], "doc_id long, q double"
        )
        if edges:
            pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        else:
            continue
        rows = gr.dedup_keep_best(docs, pairs, quality_col="q").collect()
        got_label = {r["doc_id"]: r["cluster_id"] for r in rows}
        got_keep = {r["doc_id"] for r in rows if r["keep"]}
        assert got_label == want_label
        assert got_keep == want_keep
