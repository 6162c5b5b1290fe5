"""Model-based quality filtering: a logistic-regression document
classifier trained INSIDE the engine as an iterative full-batch
gradient aggregation (round 10 extension).

Why: production LLM-data pipelines filter with trained classifiers
(CCNet's fastText LM filter; LLaMA's "looks like a reference page"
classifier), not just hand rules — the labels come cheap (weak
supervision from heuristics or LLM judgments), the model generalizes
past the rule corners, and serving is a map-side dot product. This
module reproduces that loop end-to-end on Spark: the trainer distills
the ACTIVE subset of the Gopher rule conjunction (`text.gopher_rules`;
on the synthetic corpus two of the four rules bind — token count and
stopword hits) into a linear model over five portable features, and the
trained weights pin as a repr-exact literal artifact
(`queries/clf_artifact.py`, the `ann_artifact.py` pattern) so both the
registered query and its DuckDB oracle serve the identical model.

Training = full-batch gradient descent where each iteration is ONE
aggregation job: grad_j = Σ_rows (σ(w·x) − y)·x_j with the current
weights baked into the expression as literals (the k-means/BPE loop
shape — driver iterates, executors aggregate; cost per iteration is a
map-side-combinable sum, corpus-shuffle-free). Determinism: each
per-row gradient term is portably rounded to 12 decimals and summed in
DECIMAL(28,14) — exact and order-independent — so retraining on the
same table reproduces the artifact byte-for-byte regardless of
partitioning.

Serving portability: features are integer counts and single IEEE
divisions; the logit folds left-associatively (identical fp op order
in the Column chain and the SQL twin); the only libm call is the
sigmoid's exp, so the probability is portably rounded to 6 decimals
(`pround` — the established exp/pow insurance). Weight literals in the
DuckDB twin are emitted as 17-significant-digit exponent notation
(DOUBLE literals in every dialect — never bare decimals, which parse
as DECIMAL and change the division semantics).

Scale shape (100 TB): training cost is iterations × one scan of the
LABELED subset (typically a sample, not the corpus); serving is
map-only expression arithmetic in the scan projection — no shuffle, no
UDF, no broadcast. The 100× lap measures the serve path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pyield_spark.functions.numbers import pround_expr
from pyield_spark.operators import text as tx
from pyield_spark.operators.pinning import pin

#: feature names, index-aligned with the weight vector (0 = bias)
CLF_FEATURES = ("bias", "tokens_128", "stopwords_4", "word_len_8", "distinct_ratio")

#: the distilled label: the two Gopher rules that bind on this corpus
LABEL_MIN_TOKENS = 30
LABEL_MIN_STOPWORDS = 2


def clf_features(text: str | Column) -> list[Column]:
    """The five serving features, scaled into O(1) ranges with
    power-of-two divisors (exact in fp, so scaling costs no
    portability): bias, token count /128, en-stopword hits /4, mean
    word length /8, distinct-token ratio."""
    c = F.col(text) if isinstance(text, str) else text
    toks = tx.tokens_expr(c)
    n_tok = F.size(toks)
    sw = tx.stopword_hits_expr(c, tx.STOPWORDS["en"])
    chars = F.length(F.regexp_replace(F.trim(c), r"\s+", ""))
    return [
        F.lit(1.0),
        n_tok / F.lit(128.0),
        sw / F.lit(4.0),
        (chars / n_tok) / F.lit(8.0),
        F.size(F.array_distinct(toks)) / n_tok,
    ]


def clf_features_sql_duck(
    toks_sql: str, sw_list_sql: str, text_sql: str = "text"
) -> list[str]:
    """DuckDB twins of :func:`clf_features` — same counts, same single
    divisions, same power-of-two scales (exponent-notation literals so
    nothing parses as DECIMAL). ``text_sql`` must be the same column
    ``toks_sql`` tokenizes (the Spark side takes one column for both)."""
    n_tok = f"len({toks_sql})"
    sw = f"len(list_filter({toks_sql}, t -> list_contains({sw_list_sql}, t)))"
    chars = f"length(regexp_replace(trim({text_sql}), '\\s+', '', 'g'))"
    return [
        "1.0e0",
        f"{n_tok} / 1.28e2",
        f"{sw} / 4.0e0",
        f"({chars} / {n_tok}) / 8.0e0",
        f"len(list_distinct({toks_sql})) / {n_tok}",
    ]


def clf_label(text: str | Column) -> Column:
    """Weak label: the active-Gopher conjunction (token count and
    en-stopword rules — the two that discriminate on this corpus;
    word-length and punctuation pass universally here, see
    ``text.gopher_rules`` for the full set)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = tx.token_count_expr(c)
    sw = tx.stopword_hits_expr(c, tx.STOPWORDS["en"])
    return (n_tok >= LABEL_MIN_TOKENS) & (sw >= LABEL_MIN_STOPWORDS)


def clf_label_sql_duck(toks_sql: str, sw_list_sql: str) -> str:
    """DuckDB twin of :func:`clf_label`."""
    n_tok = f"len({toks_sql})"
    sw = f"len(list_filter({toks_sql}, t -> list_contains({sw_list_sql}, t)))"
    return f"({n_tok} >= {LABEL_MIN_TOKENS} AND {sw} >= {LABEL_MIN_STOPWORDS})"


def _logit(weights: list[float], feats: list[Column]) -> Column:
    """Left-associative w·x fold — the fp addition order is part of the
    serving contract (the SQL twin folds in the same order, so the
    logit is bit-identical before the sigmoid's exp)."""
    if len(weights) != len(feats):
        raise ValueError(f"{len(weights)} weights for {len(feats)} features")
    z: Column = F.lit(float(weights[0])) * feats[0]
    for w, f in zip(weights[1:], feats[1:]):
        z = z + F.lit(float(w)) * f
    return z


def logreg_prob(weights: list[float], feats: list[Column]) -> Column:
    """Serving probability σ(w·x), portably rounded to 6 decimals."""
    z = _logit(weights, feats)
    return pround_expr(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def _dbl(w: float) -> str:
    """17-significant-digit exponent literal: exact double round-trip,
    parsed as DOUBLE (not DECIMAL) by every engine."""
    return f"{float(w):.17e}"


def logreg_prob_sql_duck(weights: list[float], feat_sqls: list[str]) -> str:
    """DuckDB twin of :func:`logreg_prob` — same fold order, same
    6-decimal portable round."""
    if len(weights) != len(feat_sqls):
        raise ValueError(f"{len(weights)} weights for {len(feat_sqls)} features")
    from pyield_spark.queries.oracle_helpers import pround_sql

    z = f"{_dbl(weights[0])} * ({feat_sqls[0]})"
    for w, f in zip(weights[1:], feat_sqls[1:]):
        z = f"({z}) + {_dbl(w)} * ({f})"
    return pround_sql(f"1.0e0 / (1.0e0 + exp(-({z})))", 6)


def logreg_train(
    df: DataFrame,
    text: str = "text",
    iters: int = 80,
    lr: float = 4.0,
) -> list[float]:
    """Full-batch gradient descent on the weak label, one aggregation
    job per iteration; returns the trained weight vector.

    Deterministic by construction: zero init, fixed schedule, and the
    gradient sum runs through pround(·,12) + DECIMAL(28,14) (exact,
    order-independent) so the result is independent of partitioning —
    rerunning the trainer reproduces the artifact byte-for-byte."""
    feats = clf_features(text)
    y = clf_label(text).cast("double")
    base = pin(
        df.select(
            y.alias("_y"), *[fc.alias(f"_f{j}") for j, fc in enumerate(feats)]
        )
    )
    n = base.count()
    if n == 0:
        raise ValueError("empty training frame")
    w = [0.0] * len(feats)
    fcols = [F.col(f"_f{j}") for j in range(len(feats))]
    for _ in range(iters):
        # the SAME fold as serving (_logit): training and serving must
        # never decouple in fp op order
        z = _logit(w, fcols)
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) - F.col("_y")
        grads = base.agg(
            *[
                F.sum(
                    pround_expr(err * F.col(f"_f{j}"), 12).cast("decimal(28,14)")
                )
                .cast("double")
                .alias(f"g{j}")
                for j in range(len(w))
            ]
        ).collect()[0]
        w = [w[j] - lr * float(grads[j]) / n for j in range(len(w))]
    return w
