"""Byte-pair-encoding tokenizer: vocabulary TRAINING as an iterative
pair-count aggregation, and ENCODING as a chained merge fold — the real
token counter a training-data pipeline needs where whitespace counts
(``text.token_count_expr``) only approximate (packing budgets, per-doc
cost, dedup weights are all denominated in TOKENIZER tokens).

Algorithm: Sennrich et al. 2016 (ACL, "Neural Machine Translation of
Rare Words with Subword Units") — the merge-learning loop behind the
GPT-2/RoBERTa tokenizer family. The reference repo has no tokenizer;
this is part of the LLM-training-data extension graded alongside
SURVEY.md §2.

Scale design:

- ``bpe_train`` aggregates the corpus ONCE into the distinct-word
  frequency table (the only corpus-sized pass; vocabulary size is
  corpus-size-independent for natural text), then runs ``num_merges``
  rounds of: adjacent-pair explode → weighted count → argmax (one
  TakeOrdered row to the driver, the same bounded per-round hop as the
  connected-components convergence checksum) → merge-apply fold over
  the word table. Same loop shape as label propagation
  (``operators/graph.py``); each round checkpoints to keep lineage flat.
- ``bpe_token_count`` applies the merges to DISTINCT words only and
  joins counts back — the corpus-sized side never runs the fold chain.
- merges are applied strictly in learned rank order with one
  left-to-right pass each; because a merge at rank r can only create
  pairs containing its new symbol, and any pair containing that symbol
  is learned at rank > r, rank-order single passes reproduce the
  classic priority-queue encoder exactly (the property the train/encode
  parity test pins).

Cross-engine determinism: pair argmax ties break on (a, b)
lexicographically; the encode fold is a fixed left-to-right
list-accumulator both engines replay (Spark ``aggregate`` with an empty
init ≡ DuckDB ``list_reduce`` over singleton-wrapped tokens — first
element as init). ``queries/bpe_artifact.py`` pins trained merges as a
literal (the ``ann_artifact`` pattern) so the oracle replays encoding
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pyield_spark.operators.pinning import pin
from pyield_spark.operators.text import tokens_expr


def _sql_quote(s: str) -> str:
    """Escape a merge symbol for embedding in a single-quoted SQL
    literal (Spark parses backslash escapes in non-ANSI mode, so both
    quote and backslash need doubling)."""
    return s.replace("\\", "\\\\").replace("'", "''")


def merge_step_sql(inner: str, a: str, b: str) -> str:
    """Spark SQL for ONE left-to-right pass merging adjacent (a, b) →
    a+b over the token array expression ``inner``: fold tokens into a
    list accumulator, gluing when the accumulator tail is ``a`` and the
    next token is ``b`` (leftmost-first, no re-scan — 'aaa' with (a,a)
    gives [aa, a])."""
    qa, qb, qab = _sql_quote(a), _sql_quote(b), _sql_quote(a + b)
    return (
        f"aggregate(transform({inner}, t0 -> array(t0)), "
        "cast(array() as array<string>), "
        "(acc, t) -> CASE WHEN size(acc) > 0 "
        f"AND element_at(acc, size(acc)) = '{qa}' "
        f"AND element_at(t, 1) = '{qb}' "
        f"THEN concat(slice(acc, 1, size(acc) - 1), array('{qab}')) "
        "ELSE concat(acc, t) END)"
    )


def bpe_apply_sql(merges: list[tuple[str, str]], word: str = "w") -> str:
    """Spark SQL expression: BPE-encode the word column ``word`` by
    applying ``merges`` in rank order (chars → fold per merge).
    ``split(w, '')`` on the EMPTY string yields [''] (one empty
    element — show() renders it invisibly as []), so the char source
    filters '' out: the empty-string token the whitespace tokenizer
    emits on blank docs (see ``tokens_expr``'s quirk note) encodes to
    0 BPE tokens, matching DuckDB's length-ranged char split."""
    expr = f"filter(split({word}, ''), t00 -> t00 <> '')"
    for a, b in merges:
        expr = merge_step_sql(expr, a, b)
    return expr


def bpe_apply_duckdb(merges: list[tuple[str, str]], word: str = "w") -> str:
    """The DuckDB twin of ``bpe_apply_sql`` — identical fold semantics:
    ``list_reduce`` over singleton-wrapped tokens uses the first
    element as init, which matches Spark's empty-init aggregate exactly
    (first Spark step: [] ++ [t1] = [t1]). Callers must guard
    ``length(word) = 0`` (list_reduce rejects empty lists; Spark's
    aggregate returns [] there)."""
    expr = f"list_transform(range(1, length({word}) + 1), i -> {word}[i])"
    for a, b in merges:
        qa = a.replace("'", "''")
        qb = b.replace("'", "''")
        qab = (a + b).replace("'", "''")
        expr = (
            f"list_reduce(list_transform({expr}, t0 -> [t0]), "
            f"(acc, t) -> CASE WHEN len(acc) > 0 "
            f"AND acc[len(acc)] = '{qa}' AND t[1] = '{qb}' "
            f"THEN list_append(list_slice(acc, 1, len(acc) - 1), '{qab}') "
            f"ELSE list_concat(acc, t) END)"
        )
    return expr


def _adjacent_pairs(toks: Column) -> Column:
    """array<struct<a,b>> of adjacent token pairs (empty below 2
    tokens). zip_with pads the shorter (shift-by-one) side with nulls —
    the null-b tail row is the filter's job; split tokens are never
    null themselves."""
    shifted = F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    zipped = F.zip_with(
        toks, shifted, lambda a, b: F.struct(a.alias("a"), b.alias("b"))
    )
    return F.when(
        F.size(toks) < 2,
        F.array().cast("array<struct<a:string,b:string>>"),
    ).otherwise(F.filter(zipped, lambda s: s["b"].isNotNull()))


def bpe_train(
    docs: DataFrame,
    text: str = "text",
    num_merges: int = 24,
    min_freq: int = 2,
) -> list[tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from the corpus. Returns the
    ranked merge list (the artifact to pin / ship to encoders).

    Each round is ONE aggregation over the distinct-word table
    (frequency-weighted adjacent-pair counts) plus a one-row TakeOrdered
    driver hop for the argmax — count DESC, then (a, b) ASC so training
    is deterministic on any engine/partitioning. Stops early when the
    best pair's count drops below ``min_freq`` (merging hapax pairs
    memorizes noise — standard practice)."""
    words = docs.select(F.explode(tokens_expr(text)).alias("w")).filter(
        F.length("w") > 0
    )
    # eager: the corpus pass runs once, here
    cur = pin(
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("f"))
        .select("f", F.split("w", "").alias("toks"))
    )
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        best = (
            cur.select("f", F.explode(_adjacent_pairs(F.col("toks"))).alias("p"))
            .groupBy("p")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("p.a").asc(), F.col("p.b").asc())
            .head(1)
        )
        if not best or best[0]["cnt"] < min_freq:
            break
        a, b = best[0]["p"]["a"], best[0]["p"]["b"]
        merges.append((a, b))
        # apply the new merge to the word table; checkpoint per round
        # keeps the fold chain out of the NEXT round's plan (the
        # label-propagation lineage discipline)
        cur = pin(
            cur.select("f", F.expr(merge_step_sql("toks", a, b)).alias("toks"))
        )
    return merges


def bpe_token_count(
    docs: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Per-document REAL tokenizer token counts under the given merge
    list: (id, n_words, n_chars, n_bpe_tokens). The merge-fold chain
    runs over DISTINCT words only; the corpus-sized occurrence stream
    just joins the per-word count back and aggregates — at 100 TB the
    expensive expression touches vocabulary-sized data."""
    if merges is None:
        merges = []
    wdoc = docs.select(F.col(id_col), F.explode(tokens_expr(text)).alias("w"))
    # vocab is consumed once by the join but its lineage contains the
    # corpus explode — don't re-plan that scan under the join
    vocab = pin(
        wdoc.select("w")
        .distinct()
        .select(
            "w",
            F.size(F.expr(bpe_apply_sql(merges, "w"))).cast("long").alias(
                "_n_bpe"
            ),
        ),
        eager=False,
    )
    return (
        wdoc.join(vocab, "w")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("_n_bpe").cast("long").alias("n_bpe_tokens"),
        )
    )
