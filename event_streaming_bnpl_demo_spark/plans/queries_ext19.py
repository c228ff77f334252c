"""ext19 pack: lifecycle accounting, survival analysis, and LM-quality
corpus gating — five queries in terrain the catalog measures from no
other angle:

- ``events_growth_accounting`` — the monthly growth-accounting
  identity (new / retained / resurrected / churned) every consumer
  product team tracks; pure integer counts.
- ``events_active_days_hist`` — the L28-style engagement histogram
  (per month: how many users were active on exactly d distinct days),
  the distribution behind the DAU/MAU point estimate
  ``events_stickiness`` already reports.
- ``agg_survival_km`` — the Kaplan-Meier estimator over inter-order
  gaps with right-censoring at the corpus horizon: at-risk/event
  counts are exact integers; the survival curve is the one
  deliberately-transcendental column (exp-sum-ln in BOTH engines,
  ROUND 6).
- ``llm_perplexity_filter`` — per-document cross-entropy under the
  corpus's own add-one-smoothed bigram LM: THE classic LM-quality
  gate for training-data curation (the model-free cousin of
  perplexity filtering), composing the same bigram statistics
  ``llm_bigram_lift`` ranks.
- ``llm_zipf_slope`` — per-source Zipf exponent: OLS slope of
  ln(freq) on ln(rank) over each source's top-100 tokens — natural
  text tracks slope ≈ -1, so the slope is a cheap synthetic-vs-human
  discriminator for corpus intake.

Determinism doctrine: integer counts everywhere; the only doubles are
(a) single divisions of agreed integers, (b) ln/exp of agreed integers
ROUNDed, computed by the *same formula* in both engines so the residual
is libm ulp-noise far below the rounding cut.

Reference parity: the reference's analytics surface is two SQL strings
over its MySQL projection (main.go:214,:241); this pack belongs to the
SURVEY.md §2.2 capability superset for the 100 TB tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# events_growth_accounting


_GROWTH_ORACLE = """
WITH act AS (
  SELECT DISTINCT user_id,
         CAST(date_part('year', ts) * 12 + date_part('month', ts) - 1
              AS BIGINT) AS midx
  FROM events
), gmax AS (
  SELECT MAX(midx) AS max_midx FROM act
), flags AS (
  SELECT user_id, midx,
         MIN(midx) OVER (PARTITION BY user_id)   AS first_midx,
         LAG(midx) OVER (PARTITION BY user_id ORDER BY midx)  AS prev_midx,
         LEAD(midx) OVER (PARTITION BY user_id ORDER BY midx) AS next_midx
  FROM act
), classed AS (
  SELECT midx,
         SUM(CASE WHEN midx = first_midx THEN 1 ELSE 0 END) AS n_new,
         SUM(CASE WHEN midx <> first_midx AND prev_midx = midx - 1
                  THEN 1 ELSE 0 END) AS n_retained,
         SUM(CASE WHEN midx <> first_midx
                  AND (prev_midx IS NULL OR prev_midx < midx - 1)
                  THEN 1 ELSE 0 END) AS n_resurrected
  FROM flags GROUP BY midx
), churn AS (
  SELECT f.midx + 1 AS midx, COUNT(*) AS n_churned
  FROM flags f, gmax g
  WHERE (f.next_midx IS NULL OR f.next_midx > f.midx + 1)
    AND f.midx + 1 <= g.max_midx
  GROUP BY f.midx + 1
)
SELECT lpad(CAST(m.midx // 12 AS VARCHAR), 4, '0') || '-' ||
       lpad(CAST(m.midx % 12 + 1 AS VARCHAR), 2, '0') AS month,
       CAST(COALESCE(c.n_new, 0) AS BIGINT)         AS n_new,
       CAST(COALESCE(c.n_retained, 0) AS BIGINT)    AS n_retained,
       CAST(COALESCE(c.n_resurrected, 0) AS BIGINT) AS n_resurrected,
       CAST(COALESCE(ch.n_churned, 0) AS BIGINT)    AS n_churned
FROM (SELECT midx FROM classed UNION SELECT midx FROM churn) m
LEFT JOIN classed c ON m.midx = c.midx
LEFT JOIN churn  ch ON m.midx = ch.midx
"""


@register("events_growth_accounting", oracle=_GROWTH_ORACLE,
          tags=("events", "window", "retention"))
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting: every active (user, month) is exactly
    one of new (first-ever month), retained (also active the previous
    month), or resurrected (returning after a gap); churned(m) counts
    users active in m-1 but not m, attributed to the month the loss is
    observed (bounded by the corpus horizon so the open final month
    never emits phantom churn). The identity
    ``active(m) = new + retained + resurrected`` and
    ``retained(m) = active(m-1) - churned(m)`` both hold by
    construction — this is the audit-grade version of the dashboard.

    Scale: the event log is scanned ONCE — it collapses to distinct
    (user, month-index) in one exchange, the lag/lead/min flags ride a
    single window pass over that partitioning, and the flagged table is
    localCheckpointed because four consumers (class counts, churn, the
    month domain, the horizon) read it: the distinct user-month table
    is the minimal sufficient state of the computation, and at 100 TB
    materializing it (|users| x |months| rows, ~tens of GB per billion
    users) beats re-scanning the full log once per consumer. The
    horizon is derived from the checkpointed flags, never from a
    second log scan.
    """
    ev = load_table(spark, sf_dir, "events")
    act = (ev.select(
        "user_id",
        (F.year("ts") * 12 + F.month("ts") - 1).cast("bigint").alias("midx"))
        .distinct())
    return _growth_from_act(act)


def _growth_from_act(act: DataFrame) -> DataFrame:
    """Growth-accounting classification over the minimal sufficient
    state: the distinct (user_id, midx) activity set. Shared by the
    batch query and the continuously-maintained view — the streamed
    twin maintains exactly this set, so sharing the classifier by code
    makes "incremental == batch" a property of the state merge alone.
    """
    w = Window.partitionBy("user_id").orderBy("midx")
    flags = act.select(
        "midx",
        F.min("midx").over(Window.partitionBy("user_id")).alias("first_midx"),
        F.lag("midx").over(w).alias("prev_midx"),
        F.lead("midx").over(w).alias("next_midx")
    ).localCheckpoint(eager=True)
    horizon = flags.agg(F.max("midx").alias("max_midx"))
    classed = flags.groupBy("midx").agg(
        F.sum(F.when(F.col("midx") == F.col("first_midx"), 1)
               .otherwise(0)).alias("n_new"),
        F.sum(F.when((F.col("midx") != F.col("first_midx"))
                     & (F.col("prev_midx") == F.col("midx") - 1), 1)
               .otherwise(0)).alias("n_retained"),
        F.sum(F.when((F.col("midx") != F.col("first_midx"))
                     & (F.col("prev_midx").isNull()
                        | (F.col("prev_midx") < F.col("midx") - 1)), 1)
               .otherwise(0)).alias("n_resurrected"))
    churn = (flags.crossJoin(F.broadcast(horizon))
             .filter((F.col("next_midx").isNull()
                      | (F.col("next_midx") > F.col("midx") + 1))
                     & (F.col("midx") + 1 <= F.col("max_midx")))
             .groupBy((F.col("midx") + 1).alias("midx"))
             .agg(F.count(F.lit(1)).alias("n_churned")))
    months = (classed.select("midx")
              .union(churn.select("midx")).distinct())
    out = (months
           .join(classed, "midx", "left")
           .join(churn, "midx", "left"))
    return out.select(
        F.concat(
            F.lpad((F.col("midx") / 12).cast("bigint").cast("string"),
                   4, "0"),
            F.lit("-"),
            F.lpad((F.col("midx") % 12 + 1).cast("string"), 2, "0"),
        ).alias("month"),
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        F.coalesce("n_retained", F.lit(0)).cast("bigint")
         .alias("n_retained"),
        F.coalesce("n_resurrected", F.lit(0)).cast("bigint")
         .alias("n_resurrected"),
        F.coalesce("n_churned", F.lit(0)).cast("bigint")
         .alias("n_churned"))


# ---------------------------------------------------------------------------
# events_active_days_hist


_L28_ORACLE = """
WITH peruser AS (
  SELECT strftime(date_trunc('month', ts), '%Y-%m') AS month, user_id,
         COUNT(DISTINCT CAST(ts AS DATE)) AS days_active
  FROM events GROUP BY 1, 2
)
SELECT month, days_active, COUNT(*) AS n_users
FROM peruser GROUP BY month, days_active
"""


@register("events_active_days_hist", oracle=_L28_ORACLE,
          tags=("events", "agg"))
def events_active_days_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L28-style engagement distribution: per calendar month, how many
    users were active on exactly d distinct days — the full histogram
    behind the DAU/MAU point estimate (``events_stickiness``), which is
    what actually distinguishes a habit product from a spiky one.

    Scale: distinct (month, user, day) then two shrinking aggregates on
    the same keys — one exchange over the collapsed triple, never the
    raw log twice.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (ev.select(
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        "user_id",
        F.to_date("ts").alias("day"))
        .distinct()
        .groupBy("month", "user_id")
        .agg(F.count(F.lit(1)).alias("days_active")))
    return (per_user.groupBy("month", "days_active")
            .agg(F.count(F.lit(1)).alias("n_users")))


# ---------------------------------------------------------------------------
# agg_survival_km


_KM_ORACLE = """
WITH horizon AS (
  SELECT MAX(o_orderdate) AS hmax FROM orders
), seq AS (
  SELECT o_custkey, o_orderdate,
         LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS nxt
  FROM orders
), durs AS (
  SELECT CASE WHEN nxt IS NULL
              THEN date_diff('day', o_orderdate, (SELECT hmax FROM horizon))
              ELSE date_diff('day', o_orderdate, nxt) END AS dur,
         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS observed
  FROM seq
), per_t AS (
  SELECT dur, COUNT(*) AS n_all, SUM(observed) AS n_event
  FROM durs GROUP BY dur
), risk AS (
  SELECT dur, n_all, n_event,
         SUM(n_all) OVER (ORDER BY dur
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_all AS n_before
  FROM per_t
), tot AS (
  SELECT SUM(n_all) AS n_total FROM per_t
)
SELECT CAST(r.dur AS BIGINT) AS dur_days,
       CAST(t.n_total - r.n_before AS BIGINT) AS n_risk,
       CAST(r.n_event AS BIGINT) AS n_event,
       ROUND(EXP(SUM(LN(1.0 - CAST(r.n_event AS DOUBLE)
                             / (t.n_total - r.n_before)))
                 OVER (ORDER BY r.dur
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             6) AS survival
FROM risk r, tot t
WHERE r.n_event > 0
  AND r.n_event < t.n_total - r.n_before
"""


@register("agg_survival_km", oracle=_KM_ORACLE,
          tags=("agg", "stats", "window"))
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival over customer inter-order gaps, with the
    final open gap right-censored at the corpus horizon — "what
    fraction of customers have NOT reordered within t days", the
    churn-risk curve computed the way the statistics is actually
    defined (censored spells leave the at-risk set without counting as
    events). ``n_risk``/``n_event`` are exact integers; the survival
    column is exp-sum-ln of their ratios (the SAME formula in both
    engines, so the ROUND(6) residual is libm ulp-noise), and rows
    where the estimator degenerates (every at-risk spell dies at t:
    survival hits exactly 0 and ln(0) explodes) are excluded the
    standard way — the curve is reported at event times with survivors.

    Scale: the fact is scanned twice, each time pruned to single
    columns — once for the horizon max (broadcast single row), once
    for the lag-window gap derivation; the per-duration KM table
    (calendar-bounded, a few thousand rows at any corpus size) is
    localCheckpointed because two consumers read it (the grand total
    and the risk/survival windows), and the cumulative product runs
    over THAT tiny table in a single-partition window — the classic
    "aggregate first, window over the reduced domain" shape every
    ts_* operator here uses.
    """
    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("hmax"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select("o_custkey", "o_orderdate",
                   F.lead("o_orderdate").over(w).alias("nxt"))
    durs = (seq.crossJoin(F.broadcast(horizon))
            .select(
                F.when(F.col("nxt").isNull(),
                       F.datediff("hmax", "o_orderdate"))
                 .otherwise(F.datediff("nxt", "o_orderdate")).alias("dur"),
                F.when(F.col("nxt").isNull(), 0).otherwise(1)
                 .alias("observed")))
    return _km_from_durs(durs)


def _km_from_durs(durs: DataFrame) -> DataFrame:
    """Kaplan-Meier table from a (dur, observed) spell DataFrame —
    factored so law tests can feed synthetic censoring patterns (with
    no censoring, KM must equal the plain empirical survival function
    ``survivors / total``)."""
    per_t = durs.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum("observed").alias("n_event")).localCheckpoint(eager=True)
    wt = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
    total = per_t.agg(F.sum("n_all").alias("n_total"))
    risk = (per_t.crossJoin(F.broadcast(total))
            .withColumn("n_before", F.sum("n_all").over(wt) - F.col("n_all"))
            .withColumn("n_risk", F.col("n_total") - F.col("n_before")))
    return (risk
            .withColumn(
                "survival",
                F.round(F.exp(F.sum(
                    F.log(1.0 - F.col("n_event").cast("double")
                          / F.col("n_risk"))).over(wt)), 6))
            .filter((F.col("n_event") > 0)
                    & (F.col("n_event") < F.col("n_risk")))
            .select(F.col("dur").cast("bigint").alias("dur_days"),
                    F.col("n_risk").cast("bigint").alias("n_risk"),
                    F.col("n_event").cast("bigint").alias("n_event"),
                    "survival"))


# ---------------------------------------------------------------------------
# llm_perplexity_filter


_PPL_THRESHOLD = 7.5  # avg neg-log-prob; uniform-random corpus sits ~ln(V)


_PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), bigrams AS (
  SELECT doc_id, t[i] AS x, t[i + 1] AS y
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
  WHERE len(t) >= 2
), c2 AS (
  SELECT x, y, COUNT(*) AS cxy FROM bigrams GROUP BY x, y
), c1 AS (
  SELECT x, SUM(cxy) AS cx FROM c2 GROUP BY x
), vocab AS (
  -- the LM's vocabulary: tokens observed in bigram positions (derived
  -- from the bigram table, same definition in both engines)
  SELECT COUNT(DISTINCT tok) AS v
  FROM (SELECT x AS tok FROM c2 UNION SELECT y AS tok FROM c2)
)
SELECT b.doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(AVG(-LN((c2.cxy + 1.0) / (c1.cx + vocab.v))), 4) AS score,
       CASE WHEN AVG(-LN((c2.cxy + 1.0) / (c1.cx + vocab.v)))
                 <= {_PPL_THRESHOLD} THEN 1 ELSE 0 END AS keep
FROM bigrams b
JOIN c2 ON b.x = c2.x AND b.y = c2.y
JOIN c1 ON b.x = c1.x
CROSS JOIN vocab
GROUP BY b.doc_id
"""


@register("llm_perplexity_filter", oracle=_PPL_ORACLE,
          tags=("llm", "text", "quality"))
def llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-style quality gate: score every document by its
    average negative log-probability under the corpus's own add-one-
    smoothed bigram model — the model-free version of the perplexity
    filtering every LLM data pipeline runs before training (boilerplate
    and templated text score low = predictable; lorem-garbage scores
    high). The keep flag applies a fixed threshold; the score column is
    what a calibration pass would quantile.

    Scale: the corpus is scanned twice — once to build the bigram-count
    table c2 (the LM itself), once for the per-document bigram stream
    it scores. c2 is localCheckpointed (distinct-bigram-bounded, far
    below token mass) because everything else DERIVES from it with no
    further corpus scans: the left-context counts are a re-aggregation
    (c1 = sum of c2 over y) and the vocabulary is the distinct-token
    count over c2's two key columns — the same definitions the oracle
    uses, so the smoothing denominator agrees exactly. The scoring join
    is an equi-join on (x, y) that AQE can skew-split if a stop-bigram
    dominates. ln on agreed integers, ROUND(4), same formula both
    engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = (toks.filter(F.size("t") >= 2)
               .select("doc_id", F.expr(
                   "explode(transform(sequence(0, size(t) - 2),"
                   " i -> struct(t[i] AS x, t[i + 1] AS y)))").alias("b"))
               .select("doc_id", "b.x", "b.y"))
    c2 = (bigrams.groupBy("x", "y").agg(F.count(F.lit(1)).alias("cxy"))
          .localCheckpoint(eager=True))
    # left-context count rides c2 as a window SUM over the checkpointed
    # LM rows (r12) instead of a separate c1 aggregate + second join:
    # the old shape pushed the FULL bigram stream through two probe
    # passes (c2 on (x,y), then c1 on (x)); the window costs one pass
    # over the distinct-bigram table (per-x partitions bounded by
    # vocabulary fan-out) and the scoring join probes once. Per-row
    # (cxy, cx) values are identical, so the per-occurrence average —
    # and the oracle hash — are untouched.
    c2 = c2.withColumn("cx", F.sum("cxy").over(Window.partitionBy("x")))
    vocab = (c2.select(F.col("x").alias("tok"))
             .union(c2.select(F.col("y").alias("tok")))
             .agg(F.countDistinct("tok").alias("v")))
    neg_ln = -F.log((F.col("cxy") + 1.0) / (F.col("cx") + F.col("v")))
    return (bigrams
            .join(c2, ["x", "y"])
            .crossJoin(F.broadcast(vocab))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.avg(neg_ln), 4).alias("score"),
                 F.when(F.avg(neg_ln) <= _PPL_THRESHOLD, 1).otherwise(0)
                  .alias("keep")))


# ---------------------------------------------------------------------------
# llm_zipf_slope


_ZIPF_TOP = 100


_ZIPF_ORACLE = f"""
WITH freq AS (
  SELECT source, tok, COUNT(*) AS c
  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS tok
        FROM documents)
  GROUP BY source, tok
), ranked AS (
  SELECT source, c,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY c DESC, tok ASC) AS r
  FROM freq
), pts AS (
  SELECT source, LN(CAST(r AS DOUBLE)) AS lx, LN(CAST(c AS DOUBLE)) AS ly
  FROM ranked WHERE r <= {_ZIPF_TOP}
)
SELECT source,
       COUNT(*) AS n_points,
       ROUND((COUNT(*) * SUM(lx * ly) - SUM(lx) * SUM(ly))
             / (COUNT(*) * SUM(lx * lx) - SUM(lx) * SUM(lx)), 4)
         AS zipf_slope
FROM pts GROUP BY source
"""


@register("llm_zipf_slope", oracle=_ZIPF_ORACLE,
          tags=("llm", "text", "stats"))
def llm_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf exponent: OLS slope of ln(frequency) on ln(rank)
    over the source's top-{_ZIPF_TOP} tokens. Natural language tracks
    slope ≈ -1 (Zipf's law); uniform-synthetic text flattens toward 0 —
    a one-number intake discriminator for "does this source look like
    human text", the distributional cousin of ``llm_text_quality``'s
    per-document heuristics.

    Scale: token frequency is one explode+groupBy; the top-100 rank cut
    is a bounded per-source window (WindowGroupLimit prunes per
    partition before the full sort); the regression folds 100 points
    per source in closed form — identical normal-equation shape to
    ``agg_linear_trend``, with ln on agreed integers (deterministic
    rank tiebreak: count DESC, token ASC) making the ROUND(4) safe.
    """
    d = load_table(spark, sf_dir, "documents")
    freq = (d.select("source", F.explode(F.split("text", " ")).alias("tok"))
            .groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("source").orderBy(F.desc("c"), F.asc("tok"))
    pts = (freq.withColumn("r", F.row_number().over(w))
           .filter(F.col("r") <= _ZIPF_TOP)
           .select("source",
                   F.log(F.col("r").cast("double")).alias("lx"),
                   F.log(F.col("c").cast("double")).alias("ly")))
    n = F.count(F.lit(1))
    return (pts.groupBy("source")
            .agg(n.alias("n_points"),
                 F.round((n * F.sum(F.col("lx") * F.col("ly"))
                          - F.sum("lx") * F.sum("ly"))
                         / (n * F.sum(F.col("lx") * F.col("lx"))
                            - F.sum("lx") * F.sum("lx")), 4)
                  .alias("zipf_slope")))


# ---------------------------------------------------------------------------
# mv_stream_growth_accounting


@register("mv_stream_growth_accounting", oracle=_GROWTH_ORACLE,
          tags=("mv", "stream", "events", "retention"))
def mv_stream_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained growth accounting: the event feed drains
    as four micro-batches; each ``foreachBatch`` writes its batch's
    DISTINCT (user, month-index) pairs as a state partial, and the view
    recomputes the new/retained/resurrected/churned classification from
    the set-union of partials — the SAME classifier, by code, as the
    batch query (``_growth_from_act``), so incremental == batch reduces
    to the state merge being a set union (idempotent, commutative,
    associative: replayed batches and shuffled arrival orders cannot
    change the view). The oracle is the batch growth accounting over
    ALL events, verbatim.

    Scale: per-batch state is the batch's distinct user-month pairs —
    duplicates collapse inside the batch before anything is written,
    re-activity across batches collapses in the union's distinct. The
    classification pass runs over the state set (|users| x |months|),
    never over raw history; a 100 TB deployment stores the state
    partitioned by month and reclassifies only users whose state
    changed.
    """
    from .queries_ext import (_scratch, drain_partials, source_fingerprint,
                              staged_stream)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (F.year("ts") * 12 + F.month("ts") - 1).cast("bigint").alias("midx"))
    partials = drain_partials(
        staged_stream(spark, ev, "growthstream", sf_dir, 4),
        _scratch(f"growthstream_{source_fingerprint(sf_dir)}"),
        lambda batch: {
            "state": batch.select("user_id", "midx").distinct()})["state"]
    act = partials.select("user_id", "midx").distinct()
    return _growth_from_act(act)
