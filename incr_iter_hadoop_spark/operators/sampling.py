"""Deterministic sampling / splitting for training-data pipelines.

A 100 TB pipeline cannot use nondeterministic `rand()` sampling: re-runs must
select the SAME rows (resumable jobs, reproducible ablations, audit), and the
decision must be computable per-row with no coordination. The standard trick
is hash-gating: a row is kept iff a stable content hash of its key falls
under the fraction threshold. Everything here is a pure column expression —
filter-pushdown-friendly, shuffle-free, identical on any executor count.

The hash gate is the md5 hex prefix compared against a hex threshold string,
which evaluates identically in Spark and DuckDB — so even the sampling
queries are exact-oracle-checked. Two hex chars give 1/256 granularity;
four give 1/65536.

The reference has no sampling surface (closest: InputSampler for
TotalOrderPartitioner, lib/InputSampler.java:1-320, which samples for range
boundaries, not dataset selection) — this is north-star surface per
BASELINE.json / SURVEY §7 Phase 5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.text import ws_tokens
from ..registry import register
from .textops import UNIGRAM_LP_SQL


def _hex_threshold(fraction: float, digits: int = 4) -> str:
    """Largest ``digits``-char lowercase hex string h such that
    P(md5_prefix < h) ≈ fraction."""
    space = 16**digits
    return format(max(0, min(space, round(fraction * space))), f"0{digits}x")


def hash_gate(key: Column, fraction: float, seed: str = "") -> Column:
    """True for ~``fraction`` of keys, deterministically. ``seed`` shifts
    the selection without correlation (different seed → independent gate)."""
    prefix = F.substring(F.md5(F.concat(F.lit(seed + "|"), key.cast("string"))), 1, 4)
    return prefix < F.lit(_hex_threshold(fraction))


def sample_fraction(
    df: DataFrame, key_col: str, fraction: float, seed: str = "s0"
) -> DataFrame:
    """Deterministic Bernoulli sample by key hash — same rows on every run,
    every cluster size. The gate is a scan-level filter (no shuffle)."""
    return df.where(hash_gate(F.col(key_col), fraction, seed))


def train_test_split(
    df: DataFrame, key_col: str, test_fraction: float, seed: str = "split"
) -> DataFrame:
    """Adds a ``split`` column ('test'/'train') — a disjoint, exhaustive,
    deterministic partition of rows by key hash. Downstream writers filter
    by the column; the assignment never changes across runs or rescales."""
    return df.withColumn(
        "split",
        F.when(
            hash_gate(F.col(key_col), test_fraction, seed), F.lit("test")
        ).otherwise(F.lit("train")),
    )


_GATE_SQL = "substring(md5('{seed}|' || CAST({key} AS VARCHAR)), 1, 4) < '{thr}'"


@register(
    "sample_documents_10pct",
    oracle=f"""
    SELECT doc_id,
           CAST(len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
                AS BIGINT) AS n_tokens
    FROM documents
    WHERE {_GATE_SQL.format(seed='s0', key='doc_id', thr=_hex_threshold(0.1))}
    """,
    doc="deterministic 10% document sample by key hash (md5-prefix gate — "
    "identical row selection on every run and executor count; the gate is "
    "a pushdown-able scan filter, no shuffle) + token counts of the kept "
    "docs. Oracle applies the same hash gate.",
)
def sample_documents_10pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    kept = sample_fraction(d, "doc_id", 0.1, seed="s0")
    toks = ws_tokens(F.col("text"))
    return kept.select("doc_id", F.size(toks).cast("bigint").alias("n_tokens"))


@register(
    "sample_stratified_events",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_sampled
    FROM events
    WHERE {_GATE_SQL.format(
        seed='s0', key="event_type || '|' || CAST(user_id AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)",
        thr=_hex_threshold(0.2))}
    GROUP BY event_type
    """,
    doc="per-stratum deterministic 20% sample: the gate hashes "
    "(event_type, user_id, event_id), so every stratum is independently "
    "thinned with no per-stratum bookkeeping; output = kept rows per type.",
)
def sample_stratified_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    composite = F.concat(
        F.col("event_type"),
        F.lit("|"),
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.col("event_id").cast("string"),
    )
    kept = e.where(hash_gate(composite, 0.2, seed="s0"))
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_sampled"))


@register(
    "split_train_test_counts",
    oracle=f"""
    SELECT CASE WHEN {_GATE_SQL.format(seed='split', key='o_orderkey',
                                       thr=_hex_threshold(0.25))}
                THEN 'test' ELSE 'train' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE), 6)
             AS total_price
    FROM orders GROUP BY 1
    """,
    doc="deterministic 75/25 train/test split by key hash: disjoint, "
    "exhaustive, stable across runs and rescales; output = per-split "
    "counts + decimal-stable price totals.",
)
def split_train_test_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    split = train_test_split(o, "o_orderkey", 0.25, seed="split")
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(27,6)")).cast("double"), 6
        ).alias("total_price"),
    )


_BUDGET_TOKENS = 800  # per-source token budget


def _budget_positions(d: DataFrame, seed: str):
    """The shared two-level cumulative-sum machinery of the token-budget
    samplers (ONE implementation so a cumsum-formulation fix cannot
    desynchronize the two registered queries — the _para_oracle
    precedent): documents → (doc_id, source, tok, bkt, boff + cum_in =
    per-source md5-ordered token position). Level 1 accumulates within
    (source, hash-bucket) — 16 buckets/source, 16× the parallelism of a
    whole-source window; level 2 offsets each bucket by the tiny,
    broadcast per-bucket totals. Returns (positions df, per-(source,
    bucket) totals ``bt`` for callers needing per-source sums without
    another scan)."""
    from pyspark.sql.window import Window

    tok = F.size(ws_tokens(F.col("text")))
    h = F.md5(F.concat(F.lit(f"{seed}|"), F.col("doc_id").cast("string")))
    b = d.select(
        "doc_id",
        "source",
        tok.alias("tok"),
        h.alias("h"),
        F.substring(h, 1, 1).alias("bkt"),
    )
    w1 = (
        Window.partitionBy("source", "bkt")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    l1 = b.withColumn("cum_in", F.sum("tok").over(w1))
    bt = b.groupBy("source", "bkt").agg(F.sum("tok").alias("btot"))
    w2 = (
        Window.partitionBy("source")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = bt.withColumn("boff", F.sum("btot").over(w2) - F.col("btot")).select(
        "source", "bkt", "boff"
    )
    return l1.join(F.broadcast(off), ["source", "bkt"]), bt


def _budget_positions_sql(seed: str) -> str:
    """The DuckDB half of ``_budget_positions`` — the shared CTE prefix
    (t/b/l1/bt/off) both samplers' oracles build on, one template so an
    edit cannot desynchronize them."""
    return f"""
    t AS (
      SELECT doc_id, source,
             len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
               AS tok,
             md5('{seed}|' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    b AS (SELECT *, substring(h, 1, 1) AS bkt FROM t),
    l1 AS (
      SELECT *, SUM(tok) OVER (PARTITION BY source, bkt ORDER BY h
                 ROWS UNBOUNDED PRECEDING) AS cum_in
      FROM b
    ),
    bt AS (SELECT source, bkt, SUM(tok) AS btot FROM b GROUP BY 1, 2),
    off AS (
      SELECT source, bkt,
             SUM(btot) OVER (PARTITION BY source ORDER BY bkt
                 ROWS UNBOUNDED PRECEDING) - btot AS boff
      FROM bt
    )"""


@register(
    "sample_token_budget",
    oracle=f"""
    WITH {_budget_positions_sql("budget")}
    SELECT l1.doc_id, l1.source, CAST(l1.tok AS BIGINT) AS tok,
           CAST(o.boff + l1.cum_in AS BIGINT) AS cum
    FROM l1 JOIN off o ON l1.source = o.source AND l1.bkt = o.bkt
    WHERE o.boff + l1.cum_in - l1.tok < {_BUDGET_TOKENS}
    """,
    doc=f"budget-capped mixture sampling: each corpus source contributes "
    f"documents in deterministic md5 order until a {_BUDGET_TOKENS}-token "
    "budget fills — the data-mixture step that assembles a training set "
    "from per-source token quotas. TWO-LEVEL cumulative sum so the heavy "
    "window never runs on a whole source: level 1 accumulates within "
    "(source, hash-bucket) — 16 buckets/source, so 16x the parallelism — "
    "and level 2 offsets each bucket by the (tiny, broadcast) per-bucket "
    "totals. The single-window-per-source formulation would serialize "
    "each source through one task at 100 TB. All-integer arithmetic and "
    "md5 string ordering, so the selection is exactly reproducible.",
)
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    joined, _bt = _budget_positions(d, "budget")
    cum = F.col("boff") + F.col("cum_in")
    return joined.where(cum - F.col("tok") < _BUDGET_TOKENS).select(
        "doc_id",
        "source",
        F.col("tok").cast("bigint").alias("tok"),
        cum.cast("bigint").alias("cum"),
    )


# weighted-mixture budget: tokens per unit weight (per-source budget =
# weight × this; weights 1-3 against ~1.3k-token sf0.01 sources force
# 2-5 repetition epochs, so the upsampling path is non-vacuous)
_MIX_BUDGET = 2000


@register(
    "sample_mixture_epochs",
    oracle=f"""
    WITH {_budget_positions_sql("mix")},
    wts AS (
      SELECT source, SUM(btot) AS stot,
             1 + (COALESCE(TRY_CAST(substring(source, 4) AS INTEGER), 0) % 3)
               AS w
      FROM bt GROUP BY source HAVING SUM(btot) > 0
    ),
    wb AS (
      SELECT source, stot, w, w * {_MIX_BUDGET} AS budget,
             CAST(ceil(w * {_MIX_BUDGET} * 1.0 / stot) AS BIGINT) AS n_ep
      FROM wts
    ),
    ex AS (
      SELECT l1.doc_id, l1.source, l1.tok,
             o.boff + l1.cum_in AS pos_in_epoch,
             wb.stot, wb.budget, ep.epoch
      FROM l1
      JOIN off o ON l1.source = o.source AND l1.bkt = o.bkt
      JOIN wb ON l1.source = wb.source
      CROSS JOIN LATERAL (
        SELECT unnest(range(0, wb.n_ep)) AS epoch
      ) ep
    )
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch,
           CAST(tok AS BIGINT) AS tok,
           CAST(epoch * stot + pos_in_epoch AS BIGINT) AS cum
    FROM ex
    WHERE epoch * stot + pos_in_epoch - tok < budget
    """,
    doc="WEIGHTED data-mixture sampling with UPSAMPLING EPOCHS (round 11 "
    "— the missing half of sample_token_budget's equal-quota mixing, and "
    "how production pretraining mixtures are actually assembled: each "
    "source gets budget = weight × unit, and a high-weight source whose "
    f"corpus is SMALLER than its budget REPEATS — deterministic epoch "
    "cycling, the Llama/GPT-style up-sampling of small high-quality "
    "sources). Weights derive from the source name (1 + suffix mod 3) so "
    "both engines compute them with zero config plumbing. The per-epoch "
    "position reuses the two-level cumulative sum (per-(source, "
    "hash-bucket) window + broadcast bucket offsets — no whole-source "
    "window serialization at 100 TB); repetition is epoch × source_total "
    "+ within-epoch position, materialized by exploding a 0..n_epochs-1 "
    "sequence (n_epochs = ceil(budget / source_tokens), a small bounded "
    "factor — never a join, never data-dependent row blowup beyond the "
    "configured repetition). Zero-token sources are excluded (a token "
    "budget cannot consume them). All-integer, md5-ordered: byte-stable "
    "across engines, executor counts, and reruns.",
)
def sample_mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    positions, bt = _budget_positions(d, "mix")
    srcnum = F.coalesce(
        F.expr("try_cast(substring(source, 4) AS INT)"), F.lit(0)
    )
    # per-source totals from the per-bucket totals (r11 review: a third
    # full scan + re-tokenization of documents summed the same tokens bt
    # already holds — integer-exact either way)
    wb = (
        bt.groupBy("source")
        .agg(F.sum("btot").alias("stot"))
        .where(F.col("stot") > 0)
        .select(
            "source",
            "stot",
            ((F.lit(1) + srcnum % 3) * _MIX_BUDGET).alias("budget"),
        )
        .withColumn(
            "n_ep", F.ceil(F.col("budget") * 1.0 / F.col("stot")).cast("bigint")
        )
    )
    joined = positions.join(F.broadcast(wb), "source")
    ex = joined.select(
        "doc_id",
        "source",
        "tok",
        (F.col("boff") + F.col("cum_in")).alias("pos_in_epoch"),
        "stot",
        "budget",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("n_ep") - 1)
        ).alias("epoch"),
    )
    cum = F.col("epoch") * F.col("stot") + F.col("pos_in_epoch")
    return ex.where(cum - F.col("tok") < F.col("budget")).select(
        "doc_id",
        "source",
        F.col("epoch").cast("bigint").alias("epoch"),
        F.col("tok").cast("bigint").alias("tok"),
        cum.cast("bigint").alias("cum"),
    )


# exact per-source quota (docs, not tokens — the eval-split primitive)
_EXACT_QUOTA = 20


def stratified_rank(
    df: DataFrame, strata_col: str, key_col: str, seed: str
) -> DataFrame:
    """Deterministic 1..n rank within each stratum in md5(seed|key) order,
    WITHOUT a whole-stratum window: row_number within (stratum,
    md5-hex-bucket) + broadcast per-bucket count offsets — the two-level
    construction the token-budget samplers use, so no 100 TB stratum
    serializes through one task. Adds columns ``h`` (the order key) and
    ``rk`` (the exact global-within-stratum rank; verified equal to the
    single-window ROW_NUMBER by every oracle built on it)."""
    from pyspark.sql.window import Window

    h = F.md5(
        F.concat(F.lit(seed + "|"), F.col(key_col).cast("string"))
    )
    b = df.withColumn("h", h).withColumn("bkt", F.substring("h", 1, 1))
    w1 = Window.partitionBy(strata_col, "bkt").orderBy("h")
    ranked = b.withColumn("rk_in", F.row_number().over(w1))
    bc = b.groupBy(strata_col, "bkt").agg(F.count(F.lit(1)).alias("bn"))
    w2 = (
        Window.partitionBy(strata_col)
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = bc.withColumn("boff", F.sum("bn").over(w2) - F.col("bn")).select(
        strata_col, "bkt", "boff"
    )
    return (
        ranked.join(F.broadcast(off), [strata_col, "bkt"])
        .withColumn("rk", (F.col("boff") + F.col("rk_in")).cast("bigint"))
        .drop("bkt", "rk_in", "boff")
    )


@register(
    "sample_exact_quota",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR))
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_EXACT_QUOTA}
    """,
    doc=f"EXACT-N stratified sampling (round 12): exactly "
    f"{_EXACT_QUOTA} documents per source in deterministic md5 order — "
    "the eval-split/ablation primitive the Bernoulli hash gates cannot "
    "give (a fraction gate yields a BINOMIAL count per stratum; audits "
    "and paired ablations need exact quotas). A source smaller than the "
    "quota contributes everything. Scale shape: the per-source rank is "
    "the TWO-LEVEL construction of the token-budget samplers with "
    "weight 1 — row_number within (source, md5-hex-bucket) + broadcast "
    "per-bucket count offsets — so no whole-source window serializes a "
    "100 TB stratum through one task; the oracle is the single-window "
    "ROW_NUMBER recompute, so the two-level rank is verified exactly "
    "equal to the global rank.",
)
def sample_exact_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        stratified_rank(d, "source", "doc_id", "quota")
        .select("doc_id", "source", "rk")
        .where(F.col("rk") <= _EXACT_QUOTA)
    )


# CCNet-style quality buckets: per-bucket keep rates (head kept whole,
# middle hash-gated at 50%, tail at 10%)
_QB_MID_FRAC, _QB_TAIL_FRAC = 0.5, 0.1


@register(
    "sample_quality_buckets",
    oracle=f"""
    WITH {UNIGRAM_LP_SQL},
    th AS (
      SELECT ROUND(quantile_cont(avg_logprob, 0.25), 6) AS t_lo,
             ROUND(quantile_cont(avg_logprob, 0.75), 6) AS t_hi
      FROM lp
    ),
    b AS (
      SELECT lp.doc_id, lp.n_tokens, lp.avg_logprob,
             CASE WHEN avg_logprob >= t_hi THEN 'head'
                  WHEN avg_logprob >= t_lo THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM lp, th
    )
    SELECT doc_id, bucket, n_tokens, avg_logprob
    FROM b
    WHERE bucket = 'head'
       OR (bucket = 'middle'
           AND {_GATE_SQL.format(seed='qb-mid', key='doc_id',
                                 thr=_hex_threshold(_QB_MID_FRAC))})
       OR (bucket = 'tail'
           AND {_GATE_SQL.format(seed='qb-tail', key='doc_id',
                                 thr=_hex_threshold(_QB_TAIL_FRAC))})
    """,
    doc="CCNet-style QUALITY-BUCKETED sampling (round 12): per-doc unigram "
    "log-prob (the perplexity proxy text_unigram_logprob computes) splits "
    "the corpus into head (top quartile), middle, and tail (bottom "
    "quartile) by corpus-level thresholds, then each bucket keeps a "
    "different deterministic hash-gated fraction — head kept whole, "
    f"middle at {_QB_MID_FRAC:.0%}, tail at {_QB_TAIL_FRAC:.0%} — the "
    "CCNet head/middle/tail discipline that trains on fluent text while "
    "retaining a controlled slice of the tail. Thresholds are ONE tiny "
    "percentile aggregate broadcast back (CCNet computes them once per "
    "language and ships constants — same shape; never a global "
    "ntile/window sort over the corpus). Exactness: log-probs are "
    "rounded to 6 on both sides BEFORE the quantile (the proven "
    "percentile == quantile_cont pair interpolates at exact quarter "
    "fractions), so bucket boundaries are bit-identical cross-engine; "
    "the keep gates are the md5-prefix hash gates of this module.",
)
def sample_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .textops import unigram_logprob_df

    d = load_table(spark, sf_dir, "documents")
    lp = unigram_logprob_df(d)
    th = lp.agg(
        F.round(F.expr("percentile(avg_logprob, 0.25)"), 6).alias("t_lo"),
        F.round(F.expr("percentile(avg_logprob, 0.75)"), 6).alias("t_hi"),
    )
    b = lp.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_tokens",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("t_hi"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    keep = (
        (F.col("bucket") == "head")
        | (
            (F.col("bucket") == "middle")
            & hash_gate(F.col("doc_id"), _QB_MID_FRAC, seed="qb-mid")
        )
        | (
            (F.col("bucket") == "tail")
            & hash_gate(F.col("doc_id"), _QB_TAIL_FRAC, seed="qb-tail")
        )
    )
    return b.where(keep).select("doc_id", "bucket", "n_tokens", "avg_logprob")


_QBL_ORACLE = f"""
    WITH {UNIGRAM_LP_SQL},
    lpl AS (
      SELECT lp.doc_id, d.lang, lp.n_tokens, lp.avg_logprob
      FROM lp JOIN documents d USING (doc_id)
    ),
    th AS (
      SELECT lang,
             ROUND(quantile_cont(avg_logprob, 0.25), 6) AS t_lo,
             ROUND(quantile_cont(avg_logprob, 0.75), 6) AS t_hi
      FROM lpl GROUP BY lang
    ),
    b AS (
      SELECT lpl.doc_id, lpl.lang, lpl.n_tokens, lpl.avg_logprob,
             CASE WHEN avg_logprob >= t_hi THEN 'head'
                  WHEN avg_logprob >= t_lo THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM lpl JOIN th ON th.lang = lpl.lang
    )
    SELECT doc_id, lang, bucket, n_tokens, avg_logprob
    FROM b
    WHERE bucket = 'head'
       OR (bucket = 'middle'
           AND {_GATE_SQL.format(seed='qbl-mid', key='doc_id',
                                 thr=_hex_threshold(_QB_MID_FRAC))})
       OR (bucket = 'tail'
           AND {_GATE_SQL.format(seed='qbl-tail', key='doc_id',
                                 thr=_hex_threshold(_QB_TAIL_FRAC))})
    """


@register(
    "sample_quality_buckets_by_lang",
    oracle=_QBL_ORACLE,
    doc="PER-LANGUAGE quality-bucketed sampling (round 13 — VERDICT r12 "
    "ask #4): CCNet computes its head/middle/tail perplexity thresholds "
    "PER LANGUAGE (a zh log-prob is incomparable to an en one under a "
    "shared unigram table), so the quartile thresholds here come from ONE "
    "groupBy(lang).percentile aggregate — 5 rows — broadcast back onto "
    "the corpus; still never a global ntile/window sort, and the plan "
    "pins hold (no Window over the corpus, no product). Same round-6-"
    "before-quantile discipline as the corpus-global twin keeps bucket "
    "boundaries bit-identical cross-engine; keep gates are the md5 hash "
    "gates with by-lang seeds so the two samplers select independently.",
)
def sample_quality_buckets_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .textops import unigram_logprob_df

    d = load_table(spark, sf_dir, "documents")
    lp = unigram_logprob_df(d).join(d.select("doc_id", "lang"), "doc_id")
    th = lp.groupBy("lang").agg(
        F.round(F.expr("percentile(avg_logprob, 0.25)"), 6).alias("t_lo"),
        F.round(F.expr("percentile(avg_logprob, 0.75)"), 6).alias("t_hi"),
    )
    b = lp.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_logprob",
        F.when(F.col("avg_logprob") >= F.col("t_hi"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("t_lo"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    keep = (
        (F.col("bucket") == "head")
        | (
            (F.col("bucket") == "middle")
            & hash_gate(F.col("doc_id"), _QB_MID_FRAC, seed="qbl-mid")
        )
        | (
            (F.col("bucket") == "tail")
            & hash_gate(F.col("doc_id"), _QB_TAIL_FRAC, seed="qbl-tail")
        )
    )
    return b.where(keep).select(
        "doc_id", "lang", "bucket", "n_tokens", "avg_logprob"
    )


# per-stratum quota MAP for the 3-way split: distinct test/val quotas per
# source (derived from the source index so every stratum demonstrably gets
# its OWN quota, not a shared constant) — the parameterized generalization
# VERDICT r12 ask #5 called for
_SPLIT3_QUOTAS: dict[str, tuple[int, int]] = {
    f"src{i}": (2 + i % 3, 4 - i % 2) for i in range(20)
}


def sample_exact_split(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    quotas: dict[str, tuple[int, int]],
    seed: str = "split3",
) -> DataFrame:
    """EXACT three-way train/val/test split with a per-stratum quota map:
    stratum s gets exactly ``quotas[s][0]`` test rows and ``quotas[s][1]``
    val rows (fewer only if the stratum itself is smaller), the remainder
    train — disjoint and exhaustive BY CONSTRUCTION, in ONE pass: the
    deterministic two-level stratified rank assigns each row a unique
    1..n position and the split is just rank-range arithmetic against the
    broadcast quota map. No whole-stratum window, no second job to check
    disjointness — rank uniqueness is the proof."""
    spark = df.sparkSession
    q = spark.createDataFrame(
        [(s, int(t), int(v)) for s, (t, v) in sorted(quotas.items())],
        f"{strata_col} string, n_test bigint, n_val bigint",
    )
    ranked = stratified_rank(df, strata_col, key_col, seed)
    return ranked.join(F.broadcast(q), strata_col).withColumn(
        "split",
        F.when(F.col("rk") <= F.col("n_test"), F.lit("test"))
        .when(F.col("rk") <= F.col("n_test") + F.col("n_val"), F.lit("val"))
        .otherwise(F.lit("train")),
    )


def _split3_values_sql() -> str:
    rows = ", ".join(
        f"('{s}', {t}, {v})" for s, (t, v) in sorted(_SPLIT3_QUOTAS.items())
    )
    return f"q(source, n_test, n_val) AS (VALUES {rows})"


@register(
    "sample_exact_split_3way",
    oracle=f"""
    WITH {_split3_values_sql()},
    r AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5('split3|' || CAST(doc_id AS VARCHAR))
             ) AS rk
      FROM documents
    )
    SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk,
           CASE WHEN r.rk <= q.n_test THEN 'test'
                WHEN r.rk <= q.n_test + q.n_val THEN 'val'
                ELSE 'train' END AS split
    FROM r JOIN q USING (source)
    """,
    doc="parameterized EXACT train/val/test split (round 13 — VERDICT r12 "
    "ask #5): generalizes the fixed-constant exact-quota sampler to a "
    "PER-STRATUM QUOTA MAP (each source gets its own test/val counts, "
    "here 2-4/3-4 derived per source index) and a three-way assignment "
    "in one pass — split = rank-range arithmetic on the deterministic "
    "two-level stratified rank against the broadcast quota map. "
    "Disjointness and exact sizes are BY CONSTRUCTION (ranks are unique "
    "1..n within a stratum); the oracle recomputes the rank as a single "
    "ROW_NUMBER window + the same CASE, so the hash check proves every "
    "row's assignment, not just counts. Scale shape: the rank never "
    "serializes a stratum through one task; the quota map is a "
    "broadcast.",
)
def sample_exact_split_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return sample_exact_split(
        d, "source", "doc_id", _SPLIT3_QUOTAS, seed="split3"
    ).select("doc_id", "source", "rk", "split")


# temperature-scaled mixture: one SHARED token budget split across sources
# proportionally to (source size)^alpha with alpha = 1/2 — the T5/multilingual
# mixing rule that up-weights small sources relative to proportional mixing
_TEMP_BUDGET_TOTAL = 60_000


@register(
    "sample_mixture_temperature",
    oracle=f"""
    WITH {_budget_positions_sql("temp")},
    st AS (
      SELECT source, SUM(btot) AS stot
      FROM bt GROUP BY source HAVING SUM(btot) > 0
    ),
    w AS (
      SELECT source, stot,
             CAST(floor(sqrt(CAST(stot AS DOUBLE))) AS BIGINT) AS wt
      FROM st
    ),
    wb AS (
      SELECT source, stot, wt,
             CAST(({_TEMP_BUDGET_TOTAL} * wt)
                  // (SELECT SUM(wt) FROM w) AS BIGINT) AS budget
      FROM w
    ),
    wn AS (
      SELECT source, stot, budget,
             CAST((budget + stot - 1) // stot AS BIGINT) AS n_ep
      FROM wb WHERE budget > 0
    ),
    ex AS (
      SELECT l1.doc_id, l1.source, l1.tok,
             o.boff + l1.cum_in AS pos_in_epoch,
             wn.stot, wn.budget, ep.epoch
      FROM l1
      JOIN off o ON l1.source = o.source AND l1.bkt = o.bkt
      JOIN wn ON l1.source = wn.source
      CROSS JOIN LATERAL (
        SELECT unnest(range(0, wn.n_ep)) AS epoch
      ) ep
    )
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch,
           CAST(tok AS BIGINT) AS tok,
           CAST(epoch * stot + pos_in_epoch AS BIGINT) AS cum
    FROM ex
    WHERE epoch * stot + pos_in_epoch - tok < budget
    """,
    doc="TEMPERATURE-SCALED data-mixture sampling (round 12 — the "
    "completion of sample_mixture_epochs' weighted mixing, VERDICT r11 "
    "ask #6): instead of name-derived integer weights, each source's "
    "share of ONE global token budget is proportional to "
    "(source tokens)^alpha with alpha = 1/2 — the T5/Llama multilingual "
    "mixing rule that up-samples small high-quality sources relative to "
    "proportional (alpha=1) mixing and flattens toward uniform as alpha "
    "falls. alpha = 1/2 specifically because sqrt is IEEE-754 "
    "CORRECTLY-ROUNDED in both engines (general pow is not), so "
    "wt = floor(sqrt(stot)) is bit-identical in Spark and DuckDB and "
    "everything after it — budget = (TOTAL x wt) div sum(wt), "
    "n_ep = ceil-div(budget, stot), per-epoch keep gate — is pure "
    "BIGINT arithmetic: the whole temperature mixture stays "
    "exact-oracle-checkable. Reuses the shared two-level cumulative sum "
    "(per-(source, hash-bucket) window + broadcast bucket offsets — no "
    "whole-source window serialization at 100 TB) and the deterministic "
    "epoch-cycling upsampler (bounded explode, never a join). Sources "
    "whose integer budget share rounds to zero are excluded exactly as "
    "zero-token sources are (a budget cannot consume them).",
)
def sample_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    positions, bt = _budget_positions(d, "temp")
    st = (
        bt.groupBy("source")
        .agg(F.sum("btot").alias("stot"))
        .where(F.col("stot") > 0)
    )
    w = st.select(
        "source",
        "stot",
        F.floor(F.sqrt(F.col("stot").cast("double"))).cast("bigint").alias("wt"),
    )
    wsum = w.agg(F.sum("wt").alias("wsum"))
    wb = (
        w.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            "stot",
            F.expr(f"({_TEMP_BUDGET_TOTAL} * wt) div wsum").alias("budget"),
        )
        .where(F.col("budget") > 0)
        .withColumn("n_ep", F.expr("(budget + stot - 1) div stot"))
    )
    joined = positions.join(F.broadcast(wb), "source")
    ex = joined.select(
        "doc_id",
        "source",
        "tok",
        (F.col("boff") + F.col("cum_in")).alias("pos_in_epoch"),
        "stot",
        "budget",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("n_ep") - 1)
        ).alias("epoch"),
    )
    cum = F.col("epoch") * F.col("stot") + F.col("pos_in_epoch")
    return ex.where(cum - F.col("tok") < F.col("budget")).select(
        "doc_id",
        "source",
        F.col("epoch").cast("bigint").alias("epoch"),
        F.col("tok").cast("bigint").alias("tok"),
        cum.cast("bigint").alias("cum"),
    )


# ---------------------------------------------------------------------------
# Deterministic shuffle-and-shard: the WRITE side of a training-data
# pipeline. A 100 TB corpus is consumed as fixed shards in a fixed order;
# both must be reproducible across runs and cluster sizes, with no global
# sort and no coordination — so shard assignment AND intra-shard order are
# pure functions of the key (md5), like the hash gates above.

N_SHARDS = 8


def shard_assignment(key: Column, n_shards: int = N_SHARDS) -> Column:
    """Stable shard id in [0, n_shards): integer value of the md5 hex
    prefix mod n_shards. Uniform, deterministic, computable per-row at the
    scan (a shard writer is `df.where(shard == i)` — pushdown-friendly,
    or one `partitionBy(shard)` write for all shards)."""
    prefix = F.substring(F.md5(key.cast("string")), 1, 4)
    return (F.conv(prefix, 16, 10).cast("bigint") % n_shards).alias("shard")


# combinable-fingerprint modulus: per-row hashes are < 1e9, so a shard of
# up to ~9e9 rows sums below 2^63 — no overflow at any realistic shard size
FP_MOD = 1_000_000_007
_FP_MOD = FP_MOD  # back-compat alias


def fingerprint_hash(key: Column) -> Column:
    """Per-row combinable fingerprint term: md5-derived 32-bit value mod
    FP_MOD. SUM over a group is the group's manifest fingerprint —
    order-independent, O(1) aggregation state, identical in DuckDB via
    ``fingerprint_hash_sql``. Strength note: this is a CHECKSUM for
    detecting accidental drift (re-runs, engine divergence, dropped or
    duplicated rows — random collision ~1e-9 per comparison), not a
    cryptographic commitment: the sum is linearly malleable, so an
    adversarial substitution of id sets with equal fp sums passes. Audits
    that must resist adversaries need an ordered hash chain instead."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("fp|"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % FP_MOD
    )


def fingerprint_hash_sql(key_sql: str) -> str:
    """DuckDB twin of ``fingerprint_hash`` for oracle strings."""
    return (
        f"('0x' || substr(md5('fp|' || CAST({key_sql} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {FP_MOD}"
    )


@register(
    "shard_manifest",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
               % {N_SHARDS} AS shard,
             {fingerprint_hash_sql('doc_id')} AS fp,
             len(list_filter(string_split(trim(text), ' '), x -> x <> ''))
               AS tok
      FROM documents
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           CAST(SUM(fp) AS BIGINT) AS manifest_fp
    FROM t GROUP BY shard
    """,
    doc="deterministic shuffle-and-shard manifest: every doc lands in a "
    f"stable shard (md5-prefix mod {N_SHARDS}) with a stable intra-shard "
    "position (md5 order — the 'global shuffle' of training-data prep, "
    "reproducible on any cluster size with ONE shuffle and no global "
    "sort); output is each shard's doc count, token mass, and an "
    "order-independent COMBINABLE fingerprint (sum of per-id md5-derived "
    "hashes — the intra-shard order is itself a pure function of the id "
    "multiset, so the multiset fingerprint witnesses the ordered "
    "manifest while the aggregation state stays O(1) per shard; a "
    "collect-and-concatenate md5 chain would hold the whole shard's ids "
    "in one agg buffer). Two runs — or two engines — writing the same "
    "corpus audit against each other on the fingerprint (a drift "
    "CHECKSUM, not a cryptographic commitment — see fingerprint_hash).",
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = fingerprint_hash(F.col("doc_id"))
    t = d.select(
        "doc_id",
        shard_assignment(F.col("doc_id")),
        fp.alias("fp"),
        F.size(ws_tokens(F.col("text"))).alias("tok"),
    )
    return t.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").cast("bigint").alias("n_tokens"),
        F.sum("fp").cast("bigint").alias("manifest_fp"),
    )
