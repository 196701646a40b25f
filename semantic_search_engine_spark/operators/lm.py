"""N-gram language-model perplexity scoring — the CCNet quality stage.

CCNet (Wenzek et al., 2020) ranks web documents by the perplexity of a
KenLM n-gram model trained on a clean reference corpus; low-perplexity
docs read like the reference, high-perplexity docs are boilerplate/noise.
This module reproduces that stage Spark-first with **Stupid Backoff**
(Brants et al., EMNLP 2007) — the scoring function built FOR distributed
trillion-token counts: no discounting, no normalization pass, just counts
and a fixed backoff penalty, so both training and scoring are plain
DataFrame aggregations/joins.

Model (bigram order, score not probability — Brants §3):

    S(w | w_prev) = c(w_prev w) / c(w_prev)      if c(w_prev w) > 0
                  = alpha * S1(w)                 otherwise
    S1(w)         = c(w) / N                      if c(w) > 0
                  = 1 / N                         otherwise (OOV floor)

A document's log-score is the sum of ``ln S`` over its tokens (the first
token and every backed-off token use S1); ``ppl = exp(-logscore/n)``.

Scale shape (10^12 docs / 10^12-token models):
- **Training** is two groupBy-count aggregations over exploded tokens /
  adjacent-pair arrays — map-side partial aggregation absorbs head-word
  skew (the same reason word-count scales), and the bigram table carries
  its denominator ``c(prev)`` so scoring never joins a third table.
- **Scoring** is two hash joins keyed on (prev, w) and (w): the model is
  far too large to broadcast at web scale, so both sides shuffle on the
  join key — bucket the persisted model tables on those keys and the
  scoring side co-partitions for free. Per-doc accumulation folds in
  token-position order (the deterministic-float pattern every scorer in
  this repo uses), so repeated runs are bit-identical.
- The whole pipeline is JVM expressions — no Python in either pass.

Reference corpus note: train on the slice you want documents to resemble
(CCNet uses Wikipedia); training on the corpus itself still yields a
useful within-corpus outlier ranking (the form the tests pin).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _toks(text_col: str):
    """Lowercase alnum-run tokens — the driver-contract text panel's
    tokenizer (driver_contract.TOK_SPARK), inlined as a column expr."""
    return F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")


@dataclass(frozen=True)
class StupidBackoffLM:
    """A trained model: unigram/bigram count tables + corpus total.

    ``unigrams``: (w, c) — ``bigrams``: (prev, w, c, c_prev) with the
    denominator pre-joined at train time (one fewer scoring join).
    """

    unigrams: DataFrame
    bigrams: DataFrame
    total_tokens: int
    alpha: float = 0.4  # Brants et al. §3: "we use alpha = 0.4"


def train_bigram_lm(docs: DataFrame, text_col: str = "text",
                    alpha: float = 0.4) -> StupidBackoffLM:
    """Count unigrams and adjacent bigrams over the corpus — two
    aggregations, no Python, no normalization pass (Stupid Backoff needs
    none). Rows with NULL text contribute nothing."""
    toks = (docs.filter(F.col(text_col).isNotNull())
            .select(_toks(text_col).alias("_t"))
            .filter(F.size("_t") > 0))
    uni = (toks.select(F.explode("_t").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("c")))
    pairs = toks.filter(F.size("_t") > 1).select(
        F.explode(F.arrays_zip(
            F.slice("_t", 1, F.size("_t") - 1).alias("prev"),
            F.slice("_t", 2, F.size("_t") - 1).alias("w"))).alias("p"))
    big = (pairs.select(F.col("p.prev").alias("prev"),
                        F.col("p.w").alias("w"))
           .groupBy("prev", "w").agg(F.count(F.lit(1)).alias("c")))
    # denominator rides the bigram row: c(prev) as a unigram re-join at
    # TRAIN time (paid once), not at every scoring run
    big = (big.join(uni.select(F.col("w").alias("prev"),
                               F.col("c").alias("c_prev")), "prev"))
    total = uni.agg(F.sum("c")).collect()[0][0]
    return StupidBackoffLM(unigrams=uni, bigrams=big,
                           total_tokens=int(total or 0), alpha=alpha)


def score_docs(docs: DataFrame, lm: StupidBackoffLM,
               text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-doc Stupid-Backoff log-score and perplexity:
    (id, n_tokens, logscore, ppl). Docs with NULL/empty text are absent
    from the result (they have no tokens to score).

    Two left joins (bigram hit, unigram backoff) + one position-ordered
    fold per doc — the float accumulation order is the token order, so
    the result is deterministic across partitionings/reruns."""
    n_total = float(lm.total_tokens)
    if n_total <= 0:
        return docs.sparkSession.createDataFrame(
            [], f"{id_col} long, n_tokens int, logscore double, ppl double")
    ln_alpha = F.log(F.lit(float(lm.alpha)))

    base = (docs.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), _toks(text_col).alias("_t"))
            .filter(F.size("_t") > 0))
    # (doc, pos, prev, w): pos 0 has no prev; pos i pairs token i-1 → i
    first = base.select(id_col, F.lit(0).alias("pos"),
                        F.lit(None).cast("string").alias("prev"),
                        F.col("_t")[0].alias("w"))
    rest = (base.filter(F.size("_t") > 1)
            .select(id_col, F.posexplode(F.arrays_zip(
                F.slice("_t", 1, F.size("_t") - 1).alias("prev"),
                F.slice("_t", 2, F.size("_t") - 1).alias("w"))))
            .select(id_col, (F.col("pos") + 1).alias("pos"),
                    F.col("col.prev").alias("prev"),
                    F.col("col.w").alias("w")))
    toks = first.unionByName(rest)

    big = lm.bigrams.select("prev", "w", F.col("c").alias("_cb"),
                            "c_prev")
    uni = lm.unigrams.select("w", F.col("c").alias("_cw"))
    j = (toks.join(big, ["prev", "w"], "left")
         .join(uni, "w", "left"))
    # S1(w): seen → c/N, OOV → 1/N (floor); all-double arithmetic
    ln_s1 = F.log(F.coalesce(F.col("_cw").cast("double"), F.lit(1.0))
                  / F.lit(n_total))
    logp = (F.when(F.col("_cb").isNotNull(),
                   F.log(F.col("_cb").cast("double")
                         / F.col("c_prev").cast("double")))
            .when(F.col("prev").isNotNull(), ln_alpha + ln_s1)
            .otherwise(ln_s1))
    return (j.select(id_col, "pos", logp.alias("_lp"))
            .groupBy(id_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "_lp")))
                 .alias("_ps"))
            .select(F.col(id_col),
                    F.size("_ps").alias("n_tokens"),
                    F.aggregate("_ps", F.lit(0.0),
                                lambda acc, x: acc + x["_lp"])
                    .alias("logscore"))
            .withColumn("ppl", F.exp(-F.col("logscore")
                                     / F.col("n_tokens"))))


def filter_by_perplexity(docs: DataFrame, lm: StupidBackoffLM,
                         max_ppl: float, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """The CCNet gate: keep docs whose model perplexity is at most
    ``max_ppl`` (docs with no tokens drop — they have no score). Returns
    the surviving ``docs`` rows via a semi join on the scored ids."""
    keep = (score_docs(docs, lm, text_col, id_col)
            .filter(F.col("ppl") <= F.lit(float(max_ppl)))
            .select(id_col))
    return docs.join(keep, id_col, "left_semi")


def load_lm(store, field: str = "text", alpha: float = 0.4
            ) -> StupidBackoffLM:
    """Bind a :class:`StupidBackoffLM` to the side tables persisted by
    ``IndexBuilder.build_lm`` (X74's serving path — no retraining).
    ``total_tokens`` is one scalar aggregate over the unigram counts.
    The tables carry ``w_bucket``/``prev_bucket`` partition columns;
    the phrase suggester adds driver-computed bucket filters to its
    ``IN`` lookups so the scans prune directories."""
    sfx = "" if field == "text" else f"_{field}"
    uni = store.read(f"lm_unigrams{sfx}")
    big = store.read(f"lm_bigrams{sfx}")
    total = uni.agg(F.sum("c")).collect()[0][0]
    return StupidBackoffLM(unigrams=uni, bigrams=big,
                           total_tokens=int(total or 0), alpha=alpha)
