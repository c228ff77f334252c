"""ext23 pack: classical seasonal decomposition and the continuously-
maintained rule gate —

- ``ts_seasonal_decompose`` — additive trend/seasonal/residual
  decomposition of daily revenue (centered 7-row moving-average trend,
  day-of-week seasonal means), the classical decomposition every
  anomaly triage starts from (``ts_dow_seasonal`` reports the seasonal
  table; this returns the full per-day decomposition). All arithmetic
  is INTEGER micro-units end-to-end — the engine-portable version of a
  statistic normally drowned in float division.
- ``mv_stream_rule_engine`` — the streaming twin of ``dq_rule_engine``:
  per-rule violation counters are additive monoids, so the streaming
  view folds per-batch partial counts and never re-scans history — the
  always-on quality gate a 100 TB ingest runs on every micro-batch.

Reference parity: none of this exists in the reference (615-LoC Go
CQRS demo); SURVEY.md §2.2 capability-superset tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .catalog import register

_CENTS = "CAST(FLOOR({col} * 100 + 0.5) AS BIGINT)"


# ---------------------------------------------------------------------------
# ts_seasonal_decompose


#: Monday-anchored day-of-week, engine-portable (dayofweek() numbering
#: differs between engines; a datediff-mod-7 from a known Monday does
#: not). 1995-01-02 is a Monday.
_DOW_SPARK = "PMOD(DATEDIFF(d, DATE '1995-01-02'), 7)"
_DOW_DUCK = "(date_diff('day', DATE '1995-01-02', d) % 7 + 7) % 7"

_DECOMP_ORACLE = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         SUM({_CENTS.format(col='o_totalprice')}) AS x
  FROM orders GROUP BY 1
), w AS (
  SELECT d, x,
         SUM(x) OVER (ORDER BY d
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
         COUNT(*) OVER (ORDER BY d
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
  FROM daily
), t AS (
  SELECT d, x, (s7 * 1000000) // 7 AS trend_micro,
         x * 1000000 - (s7 * 1000000) // 7 AS detr_micro,
         {_DOW_DUCK} AS dow
  FROM w WHERE c7 = 7
), s AS (
  SELECT dow, SUM(detr_micro) // COUNT(*) AS seasonal_micro
  FROM t GROUP BY dow
)
SELECT t.d, CAST(t.x AS BIGINT) AS cents,
       CAST(t.trend_micro AS BIGINT) AS trend_micro,
       CAST(s.seasonal_micro AS BIGINT) AS seasonal_micro,
       CAST(t.detr_micro - s.seasonal_micro AS BIGINT) AS resid_micro
FROM t JOIN s ON t.dow = s.dow
"""


@register("ts_seasonal_decompose", oracle=_DECOMP_ORACLE,
          tags=("ts", "stats", "seasonal"))
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of daily revenue:
    ``x = trend + seasonal + residual`` with a centered 7-ROW
    moving-average trend (defined only where the full window exists),
    Monday-anchored day-of-week seasonal means of the detrended series,
    and the residual that anomaly detectors actually score. The MA is
    row-indexed, not calendar-indexed — on a series with gaps the
    window spans the 7 nearest OBSERVED days (both engines identically;
    the daily spine here is 2399 of 2405 days).

    Numeric doctrine: integer micro-units end-to-end. trend =
    ``(7-day sum x 1e6) DIV 7`` (exact truncating division — probed
    identical to DuckDB ``//`` on negatives), seasonal = truncating
    mean of integer detrended values, residual a pure difference — the
    whole decomposition is hash-exact with zero float operations.

    Scale: one fact pass to the calendar-bounded daily table; windows
    and the dow join all run on |days| rows. The micro-unit products
    stay under 2^63 while daily revenue cents < 9.2e12 — past that,
    swap the 1e6 scale into DECIMAL(38) partials.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("d"))
             .agg(F.sum(F.expr(_CENTS.format(col="o_totalprice")))
                  .alias("x")))
    w = daily.selectExpr(
        "d", "x",
        "SUM(x) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
        " AS s7",
        "COUNT(*) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"
        " AS c7")
    # t feeds both the seasonal means and the final join: materialize
    # the (tiny, |days|-row) table once or the whole fact-scan + window
    # chain executes twice
    t = (w.filter("c7 = 7")
         .selectExpr("d", "x",
                     "(s7 * 1000000) DIV 7 AS trend_micro",
                     "x * 1000000 - (s7 * 1000000) DIV 7 AS detr_micro",
                     f"{_DOW_SPARK} AS dow")
         .localCheckpoint(eager=True))
    s = t.groupBy("dow").agg(
        F.expr("SUM(detr_micro) DIV COUNT(*)").alias("seasonal_micro"))
    return (t.join(F.broadcast(s), "dow")
            .select("d",
                    F.col("x").cast("bigint").alias("cents"),
                    F.col("trend_micro").cast("bigint").alias("trend_micro"),
                    F.col("seasonal_micro").cast("bigint")
                    .alias("seasonal_micro"),
                    (F.col("detr_micro") - F.col("seasonal_micro"))
                    .cast("bigint").alias("resid_micro")))


# ---------------------------------------------------------------------------
# mv_stream_rule_engine


#: (rule_id, predicate over the event feed) — violation counters are
#: additive, so the streamed view is a pure monoid fold.
_STREAM_RULES: tuple[tuple[str, str], ...] = (
    ("value_nonneg", "value >= 0"),
    ("value_cap_300", "value <= 300"),
    ("type_domain",
     "event_type IN ('click', 'view', 'purchase', 'signup')"),
    ("ts_before_cutoff", "ts < TIMESTAMP '2024-01-29 00:00:00'"),
)

_STREAM_RULE_UNION = "\nUNION ALL\n".join(
    f"SELECT '{rid}' AS rule_id, COUNT(*) AS n_checked,\n"
    f"       SUM(CASE WHEN {pred} THEN 0 ELSE 1 END) AS n_violations\n"
    f"FROM events" for rid, pred in _STREAM_RULES)

_STREAM_RULE_ORACLE = f"""
WITH per_rule AS (
{_STREAM_RULE_UNION}
)
SELECT rule_id, CAST(n_checked AS BIGINT) AS n_checked,
       CAST(n_violations AS BIGINT) AS n_violations,
       ROUND(CAST(n_violations AS DOUBLE) / n_checked, 6) AS violation_rate
FROM per_rule
"""


@register("mv_stream_rule_engine", oracle=_STREAM_RULE_ORACLE,
          tags=("mv", "stream", "dq", "rules"))
def mv_stream_rule_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained rule gate: the event feed drains as four
    micro-batches; each ``foreachBatch`` evaluates ALL rules in its one
    batch scan and writes per-rule (checked, violations) partial
    counters; the live view is their SUM — counters are additive
    monoids, so maintenance cost is O(batch), never O(history), and the
    view equals the batch ``dq_rule_engine`` shape over the full feed
    (which is exactly what the oracle recomputes).

    Scale: per-batch state is |rules| rows regardless of batch size.
    """
    from .queries_ext import (_scratch, drain_partials, source_fingerprint,
                              staged_stream)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "ts")
    checks = F.array(*[
        F.struct(F.lit(rid).alias("rule_id"),
                 F.when(F.expr(pred), F.lit(0)).otherwise(F.lit(1))
                 .alias("viol"))
        for rid, pred in _STREAM_RULES])

    def fold(batch: DataFrame) -> dict[str, DataFrame]:
        return {"state": batch
                .select(F.explode(checks).alias("c"))
                .groupBy("c.rule_id")
                .agg(F.count(F.lit(1)).alias("n_checked"),
                     F.sum("c.viol").alias("n_violations"))}

    partials = drain_partials(
        staged_stream(spark, ev, "rulestream", sf_dir, 4),
        _scratch(f"rulestream_v1_{source_fingerprint(sf_dir)}"),
        fold)["state"]
    return (partials.groupBy("rule_id")
            .agg(F.sum("n_checked").alias("n_checked"),
                 F.sum("n_violations").alias("n_violations"))
            .select("rule_id",
                    F.col("n_checked").cast("bigint").alias("n_checked"),
                    F.col("n_violations").cast("bigint")
                    .alias("n_violations"),
                    F.round(F.col("n_violations").cast("double")
                            / F.col("n_checked"), 6)
                    .alias("violation_rate")))
