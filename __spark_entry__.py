"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Every query aliases computed columns identically on both sides; float
aggregates whose partial-combine order is nondeterministic are rounded on
BOTH sides so the value-hash is stable.  Every registered entry has an
oracle, and every module-level ``q*`` function is either registered or
called by a registered entry (tests/test_entry_queries.py checks both)."""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from forex_feature_generator_spark.engine import windows as WIN
from forex_feature_generator_spark.ops import dedup as D
from forex_feature_generator_spark.ops import lm as LM
from forex_feature_generator_spark.ops.cache import pin
from forex_feature_generator_spark.ops import multimodal as MM
from forex_feature_generator_spark.ops import similarity as SIM
from forex_feature_generator_spark.ops import text as TXT

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str, name: str,
          floor: bool = False) -> DataFrame:
    """Parquet scan, optionally with a scale-adaptive PARALLELISM FLOOR
    (guide §6 input splits / §2.5 input skew). A single-row-group parquet
    file is ONE scan split, so every downstream per-row expression —
    shingle HOFs, BPE replace chains, regex scrubs — otherwise runs on one
    core no matter the master (r7 profile: the whole sf0.1 shingle stream
    was a single 3.4 s task on local[32]). With floor=True, when the file
    cannot yield at least defaultParallelism splits, redistribute by a
    deterministic hash of the lead column (hash repartition skips
    round-robin's sort-before-repartition pass).

    floor is OPT-IN per call site because the exchange it adds only pays
    for itself when substantial narrow per-row work sits between the scan
    and the first wide operator. The r7 per-query A/B (floor vs plain
    scan, median of 3 at sf0.1, local[32]) splits cleanly:
      * per-row-heavy pipelines win big — q33 3.46->0.73, q45 3.65->0.59,
        q44 8.45->2.86, q55 4.85->1.28, q62 4.03->1.53, q15 10.96->5.11,
        q43 2.10->0.68, q13 2.17->0.96;
      * shuffle-first queries (windows/aggs that exchange on their own key
        immediately, samplers, media decode batching) pay it for nothing —
        q07 0.92->2.22, q10 1.94->3.56, q49 0.91->1.23, q52 0.51->0.89.
    On a real multi-terabyte table the scan already has >= cores splits
    and the branch never fires either way: one os.stat, no job, no extra
    exchange."""
    import os as _os
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    if not floor:
        return df
    try:
        size = _os.path.getsize(path)
    except OSError:
        size = 0
    try:
        max_split = int(str(spark.conf.get(
            "spark.sql.files.maxPartitionBytes")).rstrip("b"))
    except (TypeError, ValueError):
        max_split = 128 << 20
    p = spark.sparkContext.defaultParallelism
    if size >= (32 << 10) and -(-size // max_split) < p:
        df = df.repartition(p, F.col(df.columns[0]))
    return df


def _parquet_num_rows(sf_dir: str, name: str) -> int:
    """Row count from parquet FOOTER metadata — driver-side, no Spark job,
    O(#files) footer reads (the 100 TB answer is the same: footers or the
    table catalog, never a count() scan). Feeds size gates like
    q10_norm_binning's exact-vs-approx quantile switch without an eager job
    at plan time."""
    import glob
    import os

    import pyarrow.parquet as pq
    path = f"{sf_dir}/{name}.parquet"
    files = ([path] if os.path.isfile(path) else
             glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


# ---------------------------------------------------------------------------
# entry: flagship smoke query (sf0.001): the engine's window-operator chain
# over the events stream — sessionize + rolling + lag/lead + backfill + as-of.
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    sf_dir = "/root/testdata/sf0.001"
    ev = _load(spark, sf_dir, "events")
    df = WIN.sessionize(ev, "ts", 1800.0, ["user_id"])
    df = df.withColumn("seq", F.col("event_id"))
    df = WIN.rolling(df, "value", ["user_id"], "seq", 20, stats=("mean", "max"))
    df = WIN.lag_lead_deltas(df, "value", ["user_id"], "seq", lags=(1,), leads=(1,))
    quotes = (ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("minute"))
              .agg(F.round(F.avg("value"), 6).alias("ref_value"))
              .withColumn("minute_end", F.col("minute") + F.expr("interval 1 minute")))
    df = WIN.asof_join_backward(df, quotes, ["event_type"], "ts", "minute_end",
                                ["ref_value"])
    return df.select("event_id", "user_id", "event_type", "session_id",
                     "value_rmean20", "value_rmax20", "value_lag1_delta",
                     "value_lead1_delta", "ref_value")


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def q01_tumbling_ohlc(spark, sf_dir):
    """Tumbling 1-minute OHLC bars + up/down tick volume per event_type
    (SURVEY §2.3: BarAggregator re-expression over the events table)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    ev = (ev
          .withColumn("up_t", (prev.isNotNull() & (F.col("value") > prev)).cast("int"))
          .withColumn("down_t", (prev.isNotNull() & (F.col("value") < prev)).cast("int"))
          .withColumn("bucket_ts", F.date_trunc("minute", "ts")))
    key = F.struct("ts", "event_id")
    return (ev.groupBy("event_type", "bucket_ts")
            .agg(F.min_by("value", key).alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max_by("value", key).alias("close"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.sum("up_t").alias("up_ticks"),
                 F.sum("down_t").alias("down_ticks")))


SQL_Q01 = """
WITH t AS (
  SELECT event_type, ts, event_id, value,
         lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev,
         date_trunc('minute', ts) AS bucket_ts
  FROM events)
SELECT event_type, bucket_ts,
       first(value ORDER BY ts, event_id) AS open,
       max(value) AS high,
       min(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       count(*) AS n_events,
       sum(CASE WHEN prev IS NOT NULL AND value > prev THEN 1 ELSE 0 END)::BIGINT AS up_ticks,
       sum(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END)::BIGINT AS down_ticks
FROM t GROUP BY event_type, bucket_ts
"""


def q02_data_quality(spark, sf_dir):
    """Data-quality scan (Program.cs:131-177): per-entity value stats +
    time-ordering violation count."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    ev = ev.withColumn("viol",
                       (F.lag("ts").over(w) > F.col("ts")).cast("int"))
    return (ev.groupBy("event_type")
            .agg(F.round(F.avg("value"), 6).alias("avg_value"),
                 F.min("value").alias("min_value"),
                 F.max("value").alias("max_value"),
                 F.count(F.lit(1)).alias("n_rows"),
                 F.coalesce(F.sum("viol"), F.lit(0)).alias("ts_violations")))


SQL_Q02 = """
WITH t AS (
  SELECT event_type, value,
         CASE WHEN lag(ts) OVER (PARTITION BY event_type ORDER BY event_id) > ts
              THEN 1 ELSE 0 END AS viol
  FROM events)
SELECT event_type, round(avg(value), 6) AS avg_value,
       min(value) AS min_value, max(value) AS max_value,
       count(*) AS n_rows, coalesce(sum(viol), 0)::BIGINT AS ts_violations
FROM t GROUP BY event_type
"""


def q03_lag_lead(spark, sf_dir):
    """Per-user lag/lead deltas (SURVEY §2.9 lag/lead)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        (F.col("value") - F.lag("value").over(w)).alias("lag1_delta"),
        (F.lead("value").over(w) - F.col("value")).alias("lead1_delta"),
        F.lag("value", 5).over(w).alias("value_lag5"))


SQL_Q03 = """
SELECT event_id, user_id,
       value - lag(value)  OVER w AS lag1_delta,
       lead(value) OVER w - value AS lead1_delta,
       lag(value, 5) OVER w AS value_lag5
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q04_rolling(spark, sf_dir):
    """Trailing 20-row rolling mean/min/max/stddev per event_type
    (RollingWindow<T> -> rowsBetween frames)."""
    ev = _load(spark, sf_dir, "events")
    w = (Window.partitionBy("event_type").orderBy("ts", "event_id")
         .rowsBetween(-19, 0))
    std = F.stddev_samp("value").over(w)
    return ev.select(
        "event_id", "event_type",
        F.round(F.avg("value").over(w), 6).alias("rmean20"),
        F.min("value").over(w).alias("rmin20"),
        F.max("value").over(w).alias("rmax20"),
        F.round(F.when(~F.isnan(std), std), 6).alias("rstd20"))


SQL_Q04 = """
SELECT event_id, event_type,
       round(avg(value) OVER w, 6) AS rmean20,
       min(value) OVER w AS rmin20,
       max(value) OVER w AS rmax20,
       round(stddev_samp(value) OVER w, 6) AS rstd20
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
"""


def q05_sessionize(spark, sf_dir):
    """Gap-based sessionization (north rule; 30-minute inactivity gap)."""
    ev = _load(spark, sf_dir, "events")
    return (WIN.sessionize(ev, "ts", 1800.0, ["user_id"])
            .select("event_id", "user_id", "session_id"))


SQL_Q05 = """
WITH t AS (
  SELECT event_id, user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts))
SELECT event_id, user_id,
       sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT - 1 AS session_id
FROM t
"""


SQL_Q06 = """
WITH t AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 7 = 0 THEN value END AS sparse
  FROM events)
SELECT event_id, user_id,
       last_value(sparse IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
FROM t
"""


def q07_asof_join(spark, sf_dir):
    """Sorted-merge backward as-of join (SURVEY §2.4: the M5->M1 join shape):
    each event joins the latest COMPLETED minute-aggregate of its type."""
    ev = _load(spark, sf_dir, "events")
    quotes = (ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("minute"))
              .agg(F.round(F.avg("value"), 6).alias("ref_value"))
              .withColumn("minute_end", F.col("minute") + F.expr("interval 1 minute")))
    return (WIN.asof_join_backward(ev, quotes, ["event_type"], "ts", "minute_end",
                                   ["ref_value"])
            .select("event_id", "event_type", "ref_value"))


SQL_Q07 = """
WITH quotes AS (
  SELECT event_type, date_trunc('minute', ts) AS minute,
         round(avg(value), 6) AS ref_value,
         date_trunc('minute', ts) + INTERVAL 1 MINUTE AS minute_end
  FROM events GROUP BY event_type, date_trunc('minute', ts))
SELECT e.event_id, e.event_type, q.ref_value
FROM events e
ASOF LEFT JOIN quotes q
  ON e.event_type = q.event_type AND e.ts >= q.minute_end
"""


def q08_warmup_filter(spark, sf_dir):
    """Warm-up row_number filter (Program.cs:194,267)."""
    ev = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (ev.withColumn("rn", F.row_number().over(w).cast("long"))
            .filter(F.col("rn") > 20)
            .select("event_id", "user_id", "rn"))


SQL_Q08 = """
SELECT event_id, user_id, rn FROM (
  SELECT event_id, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn > 20
"""


def q09_topk(spark, sf_dir):
    """Top-10 users by total value (sort + limit)."""
    ev = _load(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.round(F.sum("value"), 4).alias("total"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("total").desc(), F.col("user_id").asc())
            .limit(10))


SQL_Q09 = """
SELECT user_id, round(sum(value), 4) AS total, count(*) AS n
FROM events GROUP BY user_id
ORDER BY total DESC, user_id ASC LIMIT 10
"""


SQL_Q10 = """
WITH s AS (SELECT avg(l_extendedprice) AS mp, stddev_samp(l_extendedprice) AS sp,
                  avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq
           FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round((l_extendedprice - s.mp) / s.sp, 6) AS z_price,
       round((l_quantity - s.mq) / s.sq, 6) AS z_qty
FROM lineitem, s
"""


def q11_forward_window(spark, sf_dir):
    """Forward-looking label window (Program.cs:260-263 shape): max value in
    the next 10 events minus the current value."""
    ev = _load(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(1, 10))
    return ev.select(
        "event_id", "user_id",
        F.round(F.max("value").over(w) - F.col("value"), 6).alias("future_gain"))


SQL_Q11 = """
SELECT event_id, user_id,
       round(max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 1 FOLLOWING AND 10 FOLLOWING) - value,
             6) AS future_gain
FROM events
"""


def q12_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary (aggregate coverage)."""
    li = _load(spark, sf_dir, "lineitem")
    f = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
    return (f.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                               * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


SQL_Q12 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_extendedprice), 6) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q13_feature_stats(spark, sf_dir):
    """FeatureStatisticsCollector shape: count/mean/stddev/min/max + exact
    interpolated quartiles per group.

    One call of normalize.quantiles_frame with by=[l_returnflag] and the
    five moments as its aggs: a per-group row_number window, then one
    groupBy computes the moments and the rank-pick (F.percentile's
    interpolation, same values). The single-buffer percentile aggregate's
    per-map value->count hashmaps cost 10.5 s at sf1 on this 583k-distinct
    column; the rank-pick took q13 from 9.7 s to 4.3 s there. Above the
    size gate the quartiles come from approx_percentile instead."""
    from forex_feature_generator_spark.engine.normalize import quantiles_frame
    li = _load(spark, sf_dir, "lineitem", floor=True)
    v = "l_extendedprice"
    g = quantiles_frame(
        li, v, [0.25, 0.5, 0.75], _parquet_num_rows(sf_dir, "lineitem"),
        by=["l_returnflag"],
        aggs=[F.count(F.lit(1)).alias("cnt"),
              F.round(F.avg(v), 4).alias("mean"),
              F.round(F.stddev_samp(v), 4).alias("stddev"),
              F.min(v).alias("min_v"), F.max(v).alias("max_v")])
    return g.select("l_returnflag", "cnt", "mean", "stddev", "min_v", "max_v",
                    *[F.round(F.col("cuts")[i], 4).alias(name)
                      for i, name in enumerate(["q1", "median", "q3"])])


SQL_Q13 = """
SELECT l_returnflag, count(*) AS cnt,
       round(avg(l_extendedprice), 4) AS mean,
       round(stddev_samp(l_extendedprice), 4) AS stddev,
       min(l_extendedprice) AS min_v, max(l_extendedprice) AS max_v,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS q1,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS q3
FROM lineitem GROUP BY l_returnflag
"""


def q14_dedup_exact(spark, sf_dir):
    """Exact dedup at three granularities as one entry: whole-document
    hash-groupBy (mode='doc') ⊕ passage-level dedup over consecutive
    20-word segments (mode='passage' — the RefinedWeb/C4 'line dedup'
    analog; repeated boilerplate spans are the n_dupes >= 2 rows) ⊕ the
    actual CLEANING step (mode='clean' — each doc rebuilt keeping only
    corpus-wide first-occurrence passages; hash-verified against the
    oracle's reconstruction). Unified columns per mode:
      doc:     (text_hash, kept_id,       pos=-1,     n_dupes)
      passage: (passage_hash→text_hash, kept_id, pos, n_dupes)
      clean:   (md5(clean_text)→text_hash, doc_id→kept_id,
                n_kept→pos, n_removed→n_dupes)"""
    docs = _load(spark, sf_dir, "documents")
    doc = (D.exact_dedup(docs)
           .select(F.lit("doc").alias("mode"), "text_hash", "kept_id",
                   F.lit(-1).cast("long").alias("pos"), "n_dupes"))
    # r7: passage + clean modes consume ONE pinned passage stream (the
    # shingles_df pattern) — each previously re-ran the normalize+split+
    # explode corpus pass
    ps = pin(D.passage_stream(docs, passage_words=20))
    psg = (D.passage_dedup(docs, passage_words=20, passages_df=ps)
           .select(F.lit("passage").alias("mode"),
                   F.col("passage_hash").alias("text_hash"), "kept_id",
                   F.col("pos").cast("long").alias("pos"), "n_dupes"))
    cln = (D.remove_repeated_passages(docs, passage_words=20,
                                      passages_df=ps)
           .select(F.lit("clean").alias("mode"),
                   F.md5("clean_text").alias("text_hash"),
                   F.col("doc_id").alias("kept_id"),
                   F.col("n_kept").alias("pos"),
                   F.col("n_removed").alias("n_dupes")))
    return doc.unionByName(psg).unionByName(cln)


SQL_Q14 = """
WITH norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS t
  FROM documents),
doc AS (
  SELECT 'doc' AS mode, md5(t) AS text_hash,
         min(doc_id) AS kept_id, -1::BIGINT AS pos, count(*) AS n_dupes
  FROM norm GROUP BY 2),
w AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm WHERE t <> ''),
seg AS (
  SELECT doc_id, i - 1 AS pos,
         array_to_string(ws[(i - 1) * 20 + 1 : (i - 1) * 20 + 20], ' ') AS p
  FROM w, unnest(range(1, cast(ceil(len(ws) / 20.0) AS BIGINT) + 1)) AS u(i)),
first_occ AS (
  SELECT md5(p) AS text_hash,
         min(struct_pack(id := doc_id, pos := pos)) AS fo,
         count(*) AS n_dupes
  FROM seg GROUP BY 1),
clean AS (
  SELECT s.doc_id,
         coalesce(string_agg(s.p, ' ' ORDER BY s.pos)
                  FILTER (WHERE s.doc_id = f.fo.id AND s.pos = f.fo.pos),
                  '') AS clean_text,
         count(*) FILTER (WHERE s.doc_id = f.fo.id AND s.pos = f.fo.pos)
           AS n_kept,
         count(*) FILTER (WHERE NOT (s.doc_id = f.fo.id AND s.pos = f.fo.pos))
           AS n_removed
  FROM seg s JOIN first_occ f ON md5(s.p) = f.text_hash
  GROUP BY s.doc_id)
SELECT mode, text_hash, kept_id, pos, n_dupes FROM doc
UNION ALL
SELECT 'passage' AS mode, text_hash, fo.id AS kept_id,
       fo.pos AS pos, n_dupes
FROM first_occ
UNION ALL
SELECT 'clean' AS mode, md5(clean_text) AS text_hash, doc_id AS kept_id,
       n_kept AS pos, n_removed AS n_dupes
FROM clean
"""


SQL_Q15 = """
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
sh AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, greatest(len(ws) - 2, 0) + 1),
           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS shingle
  FROM w),
sz AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sz sa ON sa.id = inter.id_a
JOIN sz sb ON sb.id = inter.id_b
WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.08
"""


def _hex2int_sql(expr: str, n: int = 8) -> str:
    """SQL for: n-hex-char string -> bigint (matches Spark conv(x,16,10));
    n <= 15 keeps the value inside a signed int64."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', {expr}[{i + 1}:{i + 1}]) - 1)::BIGINT"
        f" * {16 ** (n - 1 - i)}::BIGINT" for i in range(n))
    return f"({terms})"


def _sql_q16() -> str:
    from forex_feature_generator_spark.ops.dedup import MERSENNE_P, minhash_params
    params = minhash_params(16)
    h = f"({_hex2int_sql('md5(s)[1:8]')} % {MERSENNE_P}::BIGINT)"
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> ({a}::BIGINT * {h} + {b}::BIGINT) % {MERSENNE_P}::BIGINT)) AS m{i}"
        for i, (a, b) in enumerate(params))
    sig_list = ", ".join(f"m{i}" for i in range(16))
    # bands of 2 hashes: md5 over the comma-joined band values
    band_rows = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, md5(concat_ws(',', m{2 * bi}::VARCHAR, m{2 * bi + 1}::VARCHAR)) AS bhash, [{sig_list}] AS sig FROM sigs"
        for bi in range(8))
    return f"""
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
shs AS (
  SELECT id, list_distinct(list_transform(
           range(1, greatest(len(ws) - 2, 0) + 1),
           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
  FROM w),
sigs AS (SELECT id, {mins} FROM shs),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT x.id AS id_a, y.id AS id_b, x.sig AS sig_a, y.sig AS sig_b
  FROM banded x JOIN banded y
    ON x.band = y.band AND x.bhash = y.bhash AND x.id < y.id)
SELECT id_a, id_b,
       round(len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) / 16.0, 6) AS est_jaccard
FROM cand
WHERE len(list_filter(range(1, 17), i -> sig_a[i] = sig_b[i])) / 16.0 >= 0.05
"""


def q17_simhash(spark, sf_dir):
    """SimHash near-dup pairs (60-bit md5-prefix token hashes, 15-bit band
    blocking) — full signature parity with the DuckDB oracle below."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    return D.simhash_pairs(docs, max_hamming=14)


def _sql_q17() -> str:
    """DuckDB mirror of ops.dedup.simhash_pairs: identical 60-bit md5 token
    hash, per-bit majority vote, 4x15-bit band blocking, Hamming filter."""
    from forex_feature_generator_spark.ops.dedup import (SIMHASH_BAND_BITS,
                                                         SIMHASH_BITS)
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(SIMHASH_BITS))
    sig = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0::BIGINT END)"
        for i in range(SIMHASH_BITS))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    return f"""
WITH w AS (
  SELECT doc_id AS id,
         list_distinct(string_split(
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS words
  FROM documents),
tok AS (SELECT id, unnest(words) AS t FROM w),
h AS (SELECT id, {_hex2int_sql("md5(t)[1:15]", 15)} AS h FROM tok),
votes AS (SELECT id, {votes} FROM h GROUP BY id),
sigs AS (SELECT id, ({sig}) AS sig FROM votes),
banded AS (
  SELECT id, sig, band, (sig >> (band * {SIMHASH_BAND_BITS})) & {mask} AS bh
  FROM sigs, unnest([0, 1, 2, 3]) AS u(band)),
cand AS (
  SELECT DISTINCT x.id AS id_a, x.sig AS h_a, y.id AS id_b, y.sig AS h_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh
                             AND x.id < y.id)
SELECT id_a, id_b, bit_count(xor(h_a, h_b))::INTEGER AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= 14
"""


def q18_ann_cosine(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the first 10 query vectors
    (broadcast query side; exact baseline for the LSH scale path)."""
    emb = _load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk(emb, queries, k=5)


SQL_Q18 = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_dot_product(qv, cv)
           / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cosine
  FROM c, q WHERE c.neighbor_id <> q.query_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


CLF_BUCKETS = 256   # hashed bag-of-words width for the q19 'clf' mode
CLF_EPOCHS = 6      # full-batch GD epochs (each = 1 bounded shuffle + B-row collect)
CLF_LR = 1.0


def q19_text_quality(spark, sf_dir):
    """Text quality scoring, two modes in one entry.

    mode='heuristic': length/stopword/punctuation/uppercase ratios.
    mode='clf': the GPT-3/WebText-style TRAINED quality classifier
    (ops/classifier.py) — full-batch logistic regression over hashed
    bag-of-words (256 buckets, 6 epochs, lr=1.0), positives = "doc is in
    the reference corpus" (stand-in label: lang == 'en'), then every doc
    scored with the trained weights. Training is distributed GD: one
    broadcast weight join + two partial-aggregated shuffles per epoch,
    nothing corpus-sized at the driver. The DuckDB oracle replays the
    EXACT epoch loop with a recursive CTE over the same md5-bucketed
    features, so the driver hash-checks trained-model scores end to end."""
    from forex_feature_generator_spark.ops import classifier as CLF
    docs = _load(spark, sf_dir, "documents", floor=True)
    heur = (TXT.quality_score(TXT.token_counts(docs))
            .select(F.lit("heuristic").alias("mode"), "doc_id",
                    "n_ws_tokens", "n_bpe_tokens", "n_words",
                    "punct_ratio", "stop_ratio", "avg_word_len", "quality"))
    labeled = docs.withColumn("__is_ref", (F.col("lang") == "en").cast("int"))
    w, b = CLF.train_quality_classifier(labeled, "__is_ref",
                                        n_buckets=CLF_BUCKETS,
                                        epochs=CLF_EPOCHS, lr=CLF_LR)
    nl = F.lit(None)
    clf = (CLF.classifier_score(docs, w, b)
           .select(F.lit("clf").alias("mode"), "doc_id",
                   nl.cast("long").alias("n_ws_tokens"),
                   nl.cast("long").alias("n_bpe_tokens"),
                   nl.cast("long").alias("n_words"),
                   nl.cast("double").alias("punct_ratio"),
                   nl.cast("double").alias("stop_ratio"),
                   nl.cast("double").alias("avg_word_len"),
                   F.col("quality_prob").alias("quality")))
    return heur.unionByName(clf)


_STOP_EN = "['the','and','of','to','in','is','that','for','with','on']"
SQL_Q19 = f"""
WITH RECURSIVE t AS (
  SELECT doc_id, text,
         len(string_split_regex(trim(text), '\\s+')) AS n_ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_c
  FROM documents),
r AS (
  SELECT doc_id, n_ws_tokens, n_bpe_tokens, len(words)::BIGINT AS n_words,
         punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
         len(list_filter(words, w -> list_contains({_STOP_EN}, w))) * 1.0
           / greatest(len(words), 1) AS stop_ratio,
         n_chars * 1.0 / greatest(len(words), 1) AS avg_word_len,
         upper_c * 1.0 / greatest(n_chars, 1) AS upper_ratio,
         least(1.0, len(words) / 20.0) AS length_score
  FROM t),
-- clf mode: replay ops/classifier.py's distributed full-batch GD exactly.
-- feats = the same md5-prefix hashed bag-of-words Spark builds; the
-- recursive CTE wt carries (bkt, w) x 256 plus the bias replicated per
-- row, and each recursion step IS one epoch: per-doc sigmoid margins
-- from the previous weights, residuals vs the (lang='en') labels,
-- per-bucket gradients, mean-normalized update. Docs with no tokens
-- contribute nothing to gradients (Spark's margin->label join is inner)
-- but DO count in the 1/n normalizer (labels.count()).
feats AS (
  SELECT doc_id AS id,
         ('0x' || substring(md5(w), 1, 8))::BIGINT % {CLF_BUCKETS} AS bkt,
         count(*)::DOUBLE AS cnt
  FROM (SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g')), ' ')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1, 2),
labels AS (SELECT doc_id AS id, (lang = 'en')::INT::DOUBLE AS y FROM documents),
wt(iter, bkt, w, bias) AS (
  SELECT 0, rg.range::BIGINT, 0.0::DOUBLE, 0.0::DOUBLE FROM range({CLF_BUCKETS}) rg
  UNION ALL
  SELECT wt.iter + 1, wt.bkt,
         wt.w - {CLF_LR} * COALESCE(g.grad, 0) / (SELECT count(*) FROM documents),
         wt.bias - {CLF_LR} * (
            SELECT sum(p.p - p.y) FROM (
              SELECT 1/(1+exp(-(m.lin + m.bias))) AS p, l.y
              FROM (SELECT f2.id, sum(f2.cnt * w2.w) AS lin,
                           any_value(w2.bias) AS bias
                    FROM feats f2 JOIN wt w2 ON f2.bkt = w2.bkt
                    GROUP BY f2.id) m JOIN labels l ON m.id = l.id) p
         ) / (SELECT count(*) FROM documents)
  FROM wt LEFT JOIN (
     SELECT f.bkt, sum(f.cnt * (p.p - p.y)) AS grad
     FROM feats f JOIN (
        SELECT m.id, 1/(1+exp(-(m.lin + m.bias))) AS p, l.y
        FROM (SELECT f2.id, sum(f2.cnt * w2.w) AS lin,
                     any_value(w2.bias) AS bias
              FROM feats f2 JOIN wt w2 ON f2.bkt = w2.bkt
              GROUP BY f2.id) m JOIN labels l ON m.id = l.id) p
     ON f.id = p.id GROUP BY f.bkt) g ON wt.bkt = g.bkt
  WHERE wt.iter < {CLF_EPOCHS}),
final_w AS (SELECT bkt, w, bias FROM wt WHERE iter = {CLF_EPOCHS}),
lin AS (SELECT f.id, sum(f.cnt * fw.w) AS lin
        FROM feats f JOIN final_w fw ON f.bkt = fw.bkt GROUP BY f.id),
clf AS (
  SELECT d.doc_id,
         COALESCE(
           round(1/(1+exp(-(l.lin + (SELECT any_value(bias) FROM final_w)))), 6),
           round(1/(1+exp(-(SELECT any_value(bias) FROM final_w))), 6)) AS quality
  FROM documents d LEFT JOIN lin l ON d.doc_id = l.id)
SELECT 'heuristic' AS mode, doc_id, n_ws_tokens, n_bpe_tokens, n_words,
       round(punct_ratio, 6) AS punct_ratio,
       round(stop_ratio, 6) AS stop_ratio,
       round(avg_word_len, 6) AS avg_word_len,
       round(length_score * 0.3 + least(1.0, stop_ratio * 5.0) * 0.3
             + (1 - least(1.0, punct_ratio * 5.0)) * 0.2
             + (1 - least(1.0, upper_ratio * 5.0)) * 0.2, 6) AS quality
FROM r
UNION ALL
SELECT 'clf' AS mode, doc_id, NULL::BIGINT AS n_ws_tokens,
       NULL::BIGINT AS n_bpe_tokens, NULL::BIGINT AS n_words,
       NULL::DOUBLE AS punct_ratio, NULL::DOUBLE AS stop_ratio,
       NULL::DOUBLE AS avg_word_len, quality
FROM clf
"""


def q20_langid(spark, sf_dir):
    """Stopword-voting language ID vs the table's lang column."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    out = TXT.detect_language(docs)
    return out.select("doc_id", "lang", "lang_pred",
                      (F.col("lang") == F.col("lang_pred")).cast("int").alias("agree"))


def _votes_sql(lang: str) -> str:
    words = TXT.STOPWORDS[lang]
    arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter(words, w -> list_contains({arr}, w)))"


SQL_Q20 = f"""
WITH t AS (
  SELECT doc_id, lang,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words
  FROM documents),
v AS (
  SELECT doc_id, lang,
         {_votes_sql('de')} AS v_de, {_votes_sql('en')} AS v_en,
         {_votes_sql('es')} AS v_es, {_votes_sql('fr')} AS v_fr
  FROM t)
SELECT doc_id, lang,
       CASE WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'und'
            WHEN v_de >= v_en AND v_de >= v_es AND v_de >= v_fr THEN 'de'
            WHEN v_en >= v_es AND v_en >= v_fr THEN 'en'
            WHEN v_es >= v_fr THEN 'es'
            ELSE 'fr' END AS lang_pred,
       CASE WHEN lang = (CASE WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'und'
            WHEN v_de >= v_en AND v_de >= v_es AND v_de >= v_fr THEN 'de'
            WHEN v_en >= v_es AND v_en >= v_fr THEN 'en'
            WHEN v_es >= v_fr THEN 'es'
            ELSE 'fr' END) THEN 1 ELSE 0 END AS agree
FROM v
"""


def q21_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 of normalized text + polynomial rolling
    hash of the word sequence."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    return (TXT.fingerprint(docs)
            .select("doc_id", "md5_fingerprint", "rolling_fingerprint"))


SQL_Q21 = f"""
WITH t AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents)
SELECT doc_id, md5(norm) AS md5_fingerprint,
       -- list_reduce seeds with the first element; identical to the Spark
       -- fold from 0 because (0*31 + h0) % p == h0
       list_reduce(
         list_transform(string_split(norm, ' '),
                        w -> {_hex2int_sql("md5(w)[1:8]")}),
         (acc, h) -> (acc * 31::BIGINT + h) % {(1 << 55) - 55}::BIGINT
       ) AS rolling_fingerprint
FROM t
"""


def q22_multimodal_meta(spark, sf_dir):
    """Multimodal binary-column plumbing: byte length + sha256 of the binary
    content (documents adapted as opaque assets)."""
    docs = _load(spark, sf_dir, "documents")
    assets = MM.documents_as_assets(docs)
    return assets.select(
        "asset_id", "modality",
        F.octet_length("content").cast("long").alias("n_bytes"),
        F.sha2("content", 256).alias("sha"))


SQL_Q22 = """
SELECT doc_id::VARCHAR AS asset_id, 'image' AS modality,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha
FROM documents
"""


def q23_multimodal_decode(spark, sf_dir):
    """Arrow-batched media-decode plumbing (mapInPandas). The decode stub is
    a pure function of the content bytes (sha256-keyed), so the DuckDB oracle
    reproduces it exactly; the all-null video/audio fields (n_frames,
    sample_rate) are projected out here to keep both engines' dtypes aligned
    (full schema covered by tests/test_ops.py)."""
    docs = _load(spark, sf_dir, "documents")
    return (MM.decode_assets(MM.documents_as_assets(docs))
            .select("asset_id", "modality", "n_bytes", "sha256",
                    "width", "height"))


def _sql_q23() -> str:
    """DuckDB mirror of ops.multimodal._fake_decode for image assets: the
    width/height derive from the first two bytes of the sha256 digest."""
    b0 = _hex2int_sql("sha256(text)[1:2]", 2)
    b1 = _hex2int_sql("sha256(text)[3:4]", 2)
    return f"""
SELECT doc_id::VARCHAR AS asset_id, 'image' AS modality,
       octet_length(encode(text))::BIGINT AS n_bytes,
       sha256(text) AS sha256,
       (64 + {b0} % 192)::INTEGER AS width,
       (64 + {b1} % 192)::INTEGER AS height
FROM documents
"""


def q24_decayed_mean(spark, sf_dir):
    """Bounded exponential-decay trailing mean (EMA-style stat) via JVM
    higher-order array functions over a 20-row window."""
    ev = _load(spark, sf_dir, "events")
    ev = ev.withColumn("seq", F.col("event_id"))
    out = WIN.decayed_mean(ev, "value", ["event_type"], "seq", 20, decay=0.9)
    return out.select("event_id", "event_type",
                      F.round("value_ema20", 6).alias("ema20"))


SQL_Q24 = """
WITH t AS (
  SELECT event_id, event_type,
         list(value) OVER (PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
  FROM events)
SELECT event_id, event_type,
       round(
         list_sum(list_transform(range(1, len(vals) + 1),
                  i -> vals[i] * 0.9 ** (len(vals) - i)))
         / list_sum(list_transform(range(1, len(vals) + 1),
                  i -> 0.9 ** (len(vals) - i))), 6) AS ema20
FROM t
"""


SQL_Q25 = """
WITH s AS (SELECT min(l_extendedprice) AS mn, max(l_extendedprice) AS mx FROM lineitem)
SELECT l_orderkey, l_linenumber,
       round(2 * (l_extendedprice - s.mn) / (s.mx - s.mn) - 1, 6) AS mm_price
FROM lineitem, s
"""


def q26_embedding_stats(spark, sf_dir):
    """Array-column stats: L2 norm / mean / dim of each embedding (JVM
    higher-order functions; the similarity-search building block)."""
    emb = _load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ssq = F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, b: a + b)
    sm = F.aggregate(v, F.lit(0.0), lambda a, b: a + b)
    return emb.select(
        "vec_id", F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(ssq), 6).alias("l2_norm"),
        F.round(sm / F.size("embedding"), 6).alias("mean_val"))


SQL_Q26 = """
SELECT vec_id, len(embedding)::BIGINT AS dim,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm,
       round(list_sum(embedding::DOUBLE[]) / len(embedding), 6) AS mean_val
FROM embeddings
"""


def q28_embedding_dedup(spark, sf_dir):
    """Embedding near-dup pairs via banded hyperplane-LSH candidates + exact
    cosine rerank (the 100 TB path: bucket self-join, no cartesian product,
    no corpus broadcast). Low threshold so the random synthetic vectors yield
    a non-trivial set; the oracle mirrors the same candidate generation
    (plane literals shared), and recall vs the brute-force baseline is
    covered by tests/test_ops.py."""
    emb = _load(spark, sf_dir, "embeddings")
    return SIM.embedding_near_dups_lsh(emb, dim=64, threshold=0.35,
                                       n_planes=16, n_bands=4)


def _sql_q28() -> str:
    """DuckDB mirror of embedding_near_dups_lsh: identical hyperplane
    literals -> identical signatures -> identical candidate set -> exact
    rerank on both sides."""
    from forex_feature_generator_spark.ops.similarity import hyperplanes
    planes = hyperplanes(64, 16)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(ev, [{','.join(repr(x) for x in p)}]::DOUBLE[]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
sigs AS (SELECT vec_id, ({sig_terms})::BIGINT AS sig FROM v),
banded AS (
  SELECT vec_id, band, (sig >> (band * 4)) & 15 AS bh
  FROM sigs, unnest([0, 1, 2, 3]) AS t(band)),
cand AS (
  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
  FROM banded x JOIN banded y ON x.band = y.band AND x.bh = y.bh
                             AND x.vec_id < y.vec_id)
SELECT id_a, id_b,
       round(list_dot_product(a.ev, b.ev)
             / (sqrt(list_dot_product(a.ev, a.ev))
                * sqrt(list_dot_product(b.ev, b.ev))), 6) AS cosine
FROM cand JOIN v a ON a.vec_id = cand.id_a
          JOIN v b ON b.vec_id = cand.id_b
WHERE list_dot_product(a.ev, b.ev)
      / (sqrt(list_dot_product(a.ev, a.ev))
         * sqrt(list_dot_product(b.ev, b.ev))) >= 0.35
"""


def q27_join_agg(spark, sf_dir):
    """Broadcast equi-join + aggregation: revenue per nation (customer x
    orders x nation, small dims broadcast)."""
    orders = _load(spark, sf_dir, "orders")
    cust = _load(spark, sf_dir, "customer")
    nation = _load(spark, sf_dir, "nation")
    return (orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count(F.lit(1)).alias("n_orders")))


SQL_Q27 = """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q29_ann_lsh(spark, sf_dir):
    """Approximate top-k ANN via hyperplane-LSH bands + exact rerank (the
    scale path behind q18's exact baseline); the oracle mirrors the same
    plane literals, so candidate sets and ranks match exactly."""
    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return SIM.lsh_topk(emb, queries_df, dim=64, k=5, n_planes=16, n_bands=4)


def _sql_q29() -> str:
    from forex_feature_generator_spark.ops.similarity import hyperplanes
    planes = hyperplanes(64, 16)
    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(ev, [{','.join(repr(x) for x in p)}]::DOUBLE[]) > 0"
        f" THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes))
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
sigs AS (SELECT vec_id, ({sig_terms})::BIGINT AS sig FROM v),
banded AS (
  SELECT vec_id, band, (sig >> (band * 4)) & 15 AS bh
  FROM sigs, unnest([0, 1, 2, 3]) AS t(band)),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM banded c JOIN banded q ON c.band = q.band AND c.bh = q.bh
  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(a.ev, b.ev)
           / (sqrt(list_dot_product(a.ev, a.ev))
              * sqrt(list_dot_product(b.ev, b.ev))) AS cosine
  FROM cand JOIN v a ON a.vec_id = cand.query_id
            JOIN v b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


def q30_hash_split(spark, sf_dir):
    """Stable train/val/test split by hashed doc id (ops/sampling.py):
    adding rows never reassigns old ones — the incremental-pipeline
    property."""
    from forex_feature_generator_spark.ops import sampling as SMP
    docs = _load(spark, sf_dir, "documents")
    return SMP.hash_split(docs).select("doc_id", "split")


def _sql_hash(seed: int = 42) -> str:
    h15 = _hex2int_sql(f"md5('{seed}:' || doc_id::VARCHAR)[1:15]", 15)
    return f"({h15} % 1000000)"


SQL_Q30 = f"""
SELECT doc_id,
       CASE WHEN {_sql_hash()} < 900000 THEN 'train'
            WHEN {_sql_hash()} < 950000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q31_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic downsampling (keep 50% of 'en', 25% of
    'de', drop the rest) — reproducible Bernoulli-by-hash per language."""
    from forex_feature_generator_spark.ops import sampling as SMP
    docs = _load(spark, sf_dir, "documents")
    return (SMP.stratified_sample(docs, "lang", {"en": 0.5, "de": 0.25})
            .select("doc_id", "lang"))


SQL_Q31 = f"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'en' AND {_sql_hash()} < 500000)
   OR (lang = 'de' AND {_sql_hash()} < 250000)
"""


def q32_pii_scrub(spark, sf_dir):
    """Email/URL redaction + counts; the cleaned text is hashed so the
    oracle verifies the full transform without shipping wide strings."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    return (TXT.pii_scrub(docs)
            .select("doc_id", "n_emails", "n_urls",
                    F.md5("text_clean").alias("clean_md5")))


SQL_Q32 = f"""
WITH s AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{TXT.EMAIL_RE}'))::BIGINT AS n_emails,
         regexp_replace(text, '{TXT.EMAIL_RE}', '<EMAIL>', 'g') AS t1
  FROM documents)
SELECT doc_id, n_emails,
       len(regexp_extract_all(t1, '{TXT.URL_RE}'))::BIGINT AS n_urls,
       md5(regexp_replace(t1, '{TXT.URL_RE}', '<URL>', 'g')) AS clean_md5
FROM s
"""


def q33_top_ngrams(spark, sf_dir):
    """Corpus top-20 word 3-grams (vocabulary/statistics pass): one
    partial-aggregated count shuffle + deterministic total tie-break."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    return TXT.top_ngrams(docs, n=3, k=20)


SQL_Q33 = """
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
sh AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, greatest(len(ws) - 2, 0) + 1),
           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS shingle
  FROM w)
SELECT shingle, count(*) AS n_docs
FROM sh GROUP BY shingle
ORDER BY n_docs DESC, shingle ASC LIMIT 20
"""


def q34_pack_sequences(spark, sf_dir):
    """Concatenation-split packing plan for fixed-length training sequences
    (engine/tokens.py::pack_sequences over the documents table, n_chars as
    the length): pack_id/pack_offset from one window cumsum per source."""
    from forex_feature_generator_spark.engine.tokens import pack_sequences
    docs = _load(spark, sf_dir, "documents")
    return (pack_sequences(docs, seq_len=4096, tok_col="n_chars",
                           order_col="doc_id", group_cols=["source"])
            .select("doc_id", "source", "pack_id", "pack_offset"))


SQL_Q34 = """
WITH t AS (
  SELECT doc_id, source,
         coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM documents)
SELECT doc_id, source, (off // 4096)::BIGINT AS pack_id,
       (off % 4096)::BIGINT AS pack_offset
FROM t
"""


def q35_asof_strict(spark, sf_dir):
    """STRICT backward as-of join (right_ts < left_ts): the variant the
    leakage-sensitive paths use — an aggregate timestamped exactly at the
    event must NOT be visible to it."""
    ev = _load(spark, sf_dir, "events")
    quotes = (ev.groupBy("event_type", F.date_trunc("minute", "ts").alias("minute"))
              .agg(F.round(F.avg("value"), 6).alias("ref_value"))
              .withColumn("minute_end", F.col("minute") + F.expr("interval 1 minute")))
    return (WIN.asof_join_backward(ev, quotes, ["event_type"], "ts",
                                   "minute_end", ["ref_value"], strict=True)
            .select("event_id", "event_type", "ref_value"))


SQL_Q35 = """
WITH quotes AS (
  SELECT event_type, date_trunc('minute', ts) AS minute,
         round(avg(value), 6) AS ref_value,
         date_trunc('minute', ts) + INTERVAL 1 MINUTE AS minute_end
  FROM events GROUP BY event_type, date_trunc('minute', ts))
SELECT e.event_id, e.event_type, q.ref_value
FROM events e
ASOF LEFT JOIN quotes q
  ON e.event_type = q.event_type AND e.ts > q.minute_end
"""


SQL_Q36 = """
WITH t AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_id % 7 = 0 THEN value END AS sparse
  FROM events)
SELECT event_id, user_id,
       first_value(sparse IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfilled
FROM t
"""


SQL_Q42 = """
WITH c AS (
  SELECT list_transform(
           quantile_cont(l_extendedprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
           x -> round(x, 4)) AS cuts
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
       len(list_filter(c.cuts, x -> l_extendedprice >= x))::INTEGER AS price_decile
FROM lineitem, c
"""


def q43_bpe_encode(spark, sf_dir):
    """Real BPE tokenization against the frozen merge table (ops/bpe.py):
    token count + the full id sequence (csv-joined for a stable cross-engine
    hash). The merge table is constant-folded into a chain of JVM `replace`
    expressions — no UDF, no shuffle; the oracle runs the IDENTICAL replace
    chain in DuckDB."""
    from forex_feature_generator_spark.ops import bpe as BPE
    docs = _load(spark, sf_dir, "documents", floor=True)
    enc = BPE.bpe_encode(docs)
    return enc.select("doc_id", "n_bpe_tokens",
                      F.array_join("token_ids", ",").alias("ids_csv"))


def _sql_q43() -> str:
    from forex_feature_generator_spark.ops.bpe import MERGES, VOCAB
    s = "s0"
    for a, b in MERGES:
        s = f"replace({s}, ',{a},,{b},', ',{a}{b},')"
    case = "CASE x " + " ".join(
        f"WHEN '{sym}' THEN {i}" for sym, i in VOCAB.items()) + " END"
    return f"""
WITH n0 AS (
  SELECT doc_id,
         replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ', '_') AS t
  FROM documents),
w AS (SELECT doc_id, regexp_replace(t, '(.)', ',\\1,', 'g') AS s0 FROM n0),
m AS (SELECT doc_id, {s} AS s FROM w)
SELECT doc_id,
       (CASE WHEN length(s) = 0 THEN 0
             ELSE len(string_split(substr(s, 2, length(s) - 2), ',,'))
        END)::BIGINT AS n_bpe_tokens,
       CASE WHEN length(s) = 0 THEN ''
            ELSE array_to_string(
                   list_transform(
                     string_split(substr(s, 2, length(s) - 2), ',,'),
                     x -> {case}), ',')
       END AS ids_csv
FROM m
"""


def q41_session_window(spark, sf_dir):
    """Gap-based session AGGREGATION via F.session_window (the batch form of
    the streaming sessionizer): one row per session with start / end
    (last event + gap) / event count."""
    ev = _load(spark, sf_dir, "events")
    return (ev.groupBy("user_id",
                       F.session_window(F.col("ts").cast("timestamp"),
                                        "30 minutes").alias("sw"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id",
                    F.col("sw.start").alias("session_start"),
                    F.col("sw.end").alias("session_end"),
                    "n_events"))


SQL_Q41 = """
WITH t AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
s AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM t)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def q40_multimodal_resize(spark, sf_dir):
    """Aspect-fit resize plumbing over binary assets (mapInPandas; pixel
    work stubbed as a pure function of the bytes — source dims from the
    deterministic decode, resized key = sha256(hex ++ ':WxH') — so the full
    transform is SQL-mirrorable)."""
    docs = _load(spark, sf_dir, "documents")
    return MM.resize_assets(MM.documents_as_assets(docs))


def _sql_q40() -> str:
    b0 = _hex2int_sql("sh[1:2]", 2)
    b1 = _hex2int_sql("sh[3:4]", 2)
    return f"""
WITH t AS (
  SELECT doc_id::VARCHAR AS asset_id, 'image' AS modality, sha256(text) AS sh
  FROM documents),
d AS (SELECT asset_id, modality, sh,
             (64 + {b0} % 192) AS w, (64 + {b1} % 192) AS h FROM t),
r AS (SELECT asset_id, modality, sh, w, h,
             greatest(1, floor(w * least(64.0 / w, 64.0 / h, 1.0)))::INTEGER AS ow,
             greatest(1, floor(h * least(64.0 / w, 64.0 / h, 1.0)))::INTEGER AS oh
      FROM d)
SELECT asset_id, modality, w::INTEGER AS src_width, h::INTEGER AS src_height,
       ow AS width, oh AS height,
       sha256(sh || ':' || ow::VARCHAR || 'x' || oh::VARCHAR) AS resized_sha256
FROM r
"""


def q39_repetition(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate-word fraction and
    most-frequent 2-/3-gram concentration per document."""
    docs = _load(spark, sf_dir, "documents")
    return TXT.repetition_stats(docs)


SQL_Q39 = """
WITH w AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
g2 AS (
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(ws) - 1, 0) + 1),
           i -> concat_ws(' ', ws[i], ws[i+1]))) AS g
  FROM w),
g3 AS (
  SELECT doc_id, unnest(list_transform(
           range(1, greatest(len(ws) - 2, 0) + 1),
           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS g
  FROM w),
t2 AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top2 FROM
       (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id),
t3 AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top3 FROM
       (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g) GROUP BY doc_id)
SELECT w.doc_id, len(ws)::BIGINT AS n_words,
       round((len(ws) - len(list_distinct(ws))) * 1.0 / greatest(len(ws), 1), 6)
         AS dup_word_frac,
       round(coalesce(t2.top2, 0.0), 6) AS top2_frac,
       round(coalesce(t3.top3, 0.0), 6) AS top3_frac
FROM w LEFT JOIN t2 ON t2.doc_id = w.doc_id
       LEFT JOIN t3 ON t3.doc_id = w.doc_id
"""


def q38_dedup_clusters(spark, sf_dir):
    """Connected-components clustering over the MinHash near-dup pairs
    (iterative min-label propagation; the dedup 'keep one per cluster'
    building block). Oracle: recursive-CTE transitive closure over the same
    pair set."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.05)
    return D.dedup_clusters(pairs)


def _sql_q38() -> str:
    pairs_sql = _sql_q16().strip().rstrip()
    # MATERIALIZED: without it DuckDB re-runs the MinHash pair SQL inside
    # every recursion step (this oracle, and q44's, took ~35 s, now ~9 s)
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
     WHERE e.dst <> r.src)
SELECT src AS id, least(src, min(dst)) AS comp
FROM reach GROUP BY src
"""


def q44_dedup_keep_best(spark, sf_dir):
    """Dedup RETENTION: after near-dup clustering, keep one representative
    per component — the longest doc (n_chars, id-asc tiebreak); unclustered
    docs are their own singletons. argmax via max_by on a (score, -id)
    struct: one partial-agg groupBy, no per-component sort/window."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    pairs = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.05)
    clusters = D.dedup_clusters(pairs)
    return D.dedup_keep_best(docs, clusters, score_col="n_chars")


def _sql_q44() -> str:
    return f"""
WITH alldocs AS (
  SELECT d.doc_id, d.n_chars, coalesce(c.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN ({_sql_q38()}) c ON c.id = d.doc_id),
r AS (
  SELECT comp, doc_id, n_chars,
         row_number() OVER (PARTITION BY comp
                            ORDER BY n_chars DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY comp) AS n_members,
         max(n_chars) OVER (PARTITION BY comp) AS best_score
  FROM alldocs)
SELECT comp, doc_id AS keeper_id, n_members, best_score
FROM r WHERE rn = 1
"""


def q45_decontaminate(spark, sf_dir):
    """Benchmark decontamination: fraction of each doc's distinct word
    3-grams that appear in a benchmark set (here: every 97th doc plays the
    benchmark); docs >= 0.8 overlap are flagged. The benchmark shingle set
    is broadcast — the corpus is scanned once, never self-joined."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    benchmark = docs.filter(F.col("doc_id") % 97 == 0)
    return TXT.contamination(docs, benchmark, n=3, threshold=0.8)


SQL_Q45 = """
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
sh AS (
  SELECT id, unnest(list_distinct(list_transform(
           range(1, greatest(len(ws) - 2, 0) + 1),
           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])))) AS shingle
  FROM w),
bs AS (SELECT DISTINCT shingle FROM sh WHERE id % 97 = 0),
cnt AS (
  SELECT sh.id, count(*) AS n_shingles, count(bs.shingle) AS n_hits
  FROM sh LEFT JOIN bs ON sh.shingle = bs.shingle
  GROUP BY sh.id)
SELECT d.doc_id,
       coalesce(n_shingles, 0) AS n_shingles,
       coalesce(n_hits, 0) AS n_hits,
       round(coalesce(n_hits, 0) * 1.0
             / greatest(coalesce(n_shingles, 0), 1), 6) AS contamination,
       coalesce(n_hits, 0) * 1.0
         / greatest(coalesce(n_shingles, 0), 1) >= 0.8 AS contaminated
FROM documents d LEFT JOIN cnt ON cnt.id = d.doc_id
"""


def q46_bigram_lm(spark, sf_dir):
    """Self-trained bigram-LM perplexity scoring (the KenLM-style quality
    filter): top-24 vocab (count desc, word asc), add-0.5 smoothing,
    P(w2|w1)=(C(w1 w2)+a)/(C(w1)+a(V+1)); per doc the bigram cross-entropy
    (nats) and perplexity. Vocab+unigrams broadcast; the bigram count table
    is joined BY KEY (never broadcast/collected) — see ops/lm.py."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    return LM.bigram_lm_scores(docs, vocab_size=24, alpha=0.5)


SQL_Q46 = """
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
tok AS (SELECT id, unnest(ws) AS wd FROM w),
vocab AS (
  SELECT wd FROM (SELECT wd, count(*) AS c FROM tok GROUP BY wd)
  ORDER BY c DESC, wd ASC LIMIT 24),
toku AS (
  SELECT id, CASE WHEN v.wd IS NOT NULL THEN t.wd ELSE '<unk>' END AS wm
  FROM tok t LEFT JOIN vocab v ON v.wd = t.wd),
uni AS (SELECT wm, count(*) AS cu FROM toku GROUP BY wm),
bg0 AS (
  SELECT id, unnest(list_transform(range(1, len(ws)),
                                   i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
  FROM w),
bgm AS (
  SELECT id,
         CASE WHEN v1.wd IS NOT NULL THEN b.w1 ELSE '<unk>' END AS w1m,
         CASE WHEN v2.wd IS NOT NULL THEN b.w2 ELSE '<unk>' END AS w2m
  FROM bg0 LEFT JOIN vocab v1 ON v1.wd = b.w1
           LEFT JOIN vocab v2 ON v2.wd = b.w2),
bi AS (SELECT w1m, w2m, count(*) AS cb FROM bgm GROUP BY w1m, w2m),
sc AS (
  SELECT id, ln((cb + 0.5) / (cu + 0.5 * 25)) AS logp
  FROM bgm JOIN bi USING (w1m, w2m) JOIN uni ON uni.wm = bgm.w1m),
agg AS (SELECT id, count(*) AS n_bigrams, -avg(logp) AS ce FROM sc GROUP BY id)
SELECT d.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
       round(a.ce, 6) AS cross_entropy,
       round(exp(a.ce), 6) AS perplexity
FROM documents d LEFT JOIN agg a ON a.id = d.doc_id
"""


def q60_corpus_rollup(spark, sf_dir):
    """Corpus report card via ROLLUP(source, lang): doc counts, token mass,
    char mass and mean doc length at every aggregation level (per
    source x lang, per source, grand total) in ONE pass — Spark's
    grouping-sets aggregation (partial-aggregated like any groupBy; the
    rollup adds G+1 grouping combinations map-side, no extra scan).
    Rollup levels are disambiguated by `grouping()` flags (grp_source /
    grp_lang = 1 on the rolled-up axis) — a literal 'ALL' lang value in
    real data can no longer collide with the total rows; the coalesced
    'ALL' labels stay for readability only."""
    docs = _load(spark, sf_dir, "documents")
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (docs.withColumn("__tok", toks)
            .rollup("source", "lang")
            .agg(F.grouping("source").cast("int").alias("grp_source"),
                 F.grouping("lang").cast("int").alias("grp_lang"),
                 F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__tok").cast("long").alias("n_tokens"),
                 F.sum("n_chars").cast("long").alias("n_chars"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"))
            .select(F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
                    F.coalesce(F.col("lang"), F.lit("ALL")).alias("lang"),
                    "grp_source", "grp_lang",
                    "n_docs", "n_tokens", "n_chars", "avg_chars"))


SQL_Q60 = """
SELECT coalesce(source, 'ALL') AS source,
       coalesce(lang, 'ALL') AS lang,
       grouping(source)::INT AS grp_source,
       grouping(lang)::INT AS grp_lang,
       count(*) AS n_docs,
       sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_tokens,
       sum(n_chars)::BIGINT AS n_chars,
       round(avg(n_chars), 6) AS avg_chars
FROM documents
GROUP BY ROLLUP(source, lang)
"""


def q59_ccnet_buckets(spark, sf_dir):
    """CCNet-style per-language perplexity terciles (Wenzek et al. 2020):
    head/middle/tail buckets from the self-trained bigram LM, ntile window
    partitioned by language — see ops/lm.py::ccnet_buckets."""
    docs = _load(spark, sf_dir, "documents")
    return LM.ccnet_buckets(docs)


SQL_Q59 = """
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
tok AS (SELECT id, unnest(ws) AS wd FROM w),
vocab AS (
  SELECT wd FROM (SELECT wd, count(*) AS c FROM tok GROUP BY wd)
  ORDER BY c DESC, wd ASC LIMIT 24),
uni AS (
  SELECT wm, count(*) AS cu FROM (
    SELECT CASE WHEN v.wd IS NOT NULL THEN t.wd ELSE '<unk>' END AS wm
    FROM tok t LEFT JOIN vocab v ON v.wd = t.wd) GROUP BY wm),
bg0 AS (
  SELECT id, unnest(list_transform(range(1, len(ws)),
                                   i -> {'w1': ws[i], 'w2': ws[i+1]})) AS b
  FROM w),
bgm AS (
  SELECT id,
         CASE WHEN v1.wd IS NOT NULL THEN b.w1 ELSE '<unk>' END AS w1m,
         CASE WHEN v2.wd IS NOT NULL THEN b.w2 ELSE '<unk>' END AS w2m
  FROM bg0 LEFT JOIN vocab v1 ON v1.wd = b.w1
           LEFT JOIN vocab v2 ON v2.wd = b.w2),
bi AS (SELECT w1m, w2m, count(*) AS cb FROM bgm GROUP BY w1m, w2m),
sc AS (
  SELECT id, ln((cb + 0.5) / (cu + 0.5 * 25)) AS logp
  FROM bgm JOIN bi USING (w1m, w2m) JOIN uni ON uni.wm = bgm.w1m),
agg AS (SELECT id, count(*) AS n_bigrams, exp(-avg(logp)) AS ppl
        FROM sc GROUP BY id),
ranked AS (
  SELECT d.doc_id, d.lang, round(a.ppl, 6) AS perplexity,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY round(a.ppl, 6) ASC, d.doc_id ASC) AS t
  FROM documents d JOIN agg a ON a.id = d.doc_id
  WHERE a.n_bigrams > 0)
SELECT doc_id, lang, perplexity,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
FROM ranked
"""


def q47_dup_spans(spark, sf_dir):
    """Exact duplicated-span coverage at 8-gram granularity (the suffix-
    array exact-substring-dedup approximation): per doc, the fraction of
    word positions covered by an n-gram occurring >=2 times corpus-wide.
    One count shuffle on the md5 key + one join back; interval-union
    arithmetic in pure integer array expressions — see ops/dedup.py."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    return D.dup_span_coverage(docs, n=8)


SQL_Q47 = """
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
g0 AS (
  SELECT id, len(ws) AS n_words,
         unnest(list_transform(range(1, greatest(len(ws) - 8 + 2, 1)),
                               i -> {'pos': i, 'gh': md5(array_to_string(ws[i:i+7], ' '))})) AS g
  FROM w),
grams AS (SELECT id, g.pos AS pos, g.gh AS gh FROM g0),
cnt AS (SELECT gh, count(*) AS c FROM grams GROUP BY gh),
per AS (
  SELECT grams.id, count(*) AS n_spans,
         list_sort(list(pos) FILTER (WHERE c >= 2)) AS S
  FROM grams JOIN cnt USING (gh) GROUP BY grams.id),
cov AS (
  SELECT id, n_spans, coalesce(len(S), 0) AS n_dup_spans,
         CASE WHEN coalesce(len(S), 0) = 0 THEN 0
              ELSE 8 + coalesce(list_sum(list_transform(
                     range(2, len(S) + 1), i -> least(8, S[i] - S[i-1]))), 0)
         END AS covered_words
  FROM per)
SELECT w.id AS doc_id, w.n_words::BIGINT AS n_words,
       coalesce(cov.n_spans, 0)::BIGINT AS n_spans,
       coalesce(cov.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(cov.covered_words, 0)::BIGINT AS covered_words,
       round(coalesce(cov.covered_words, 0) * 1.0
             / greatest(w.n_words, 1), 6) AS dup_coverage
FROM (SELECT id, len(ws) AS n_words FROM w) w
LEFT JOIN cov ON cov.id = w.id
"""


def q48_tfidf_topk(spark, sf_dir):
    """Term scoring / retrieval, two modes in one entry.

    mode='tfidf': per-doc top-3 distinctive terms by smoothed tf-idf
    (sklearn smooth_idf formula), deterministic term-asc tiebreak; the df
    table is joined BY KEY (vocab-sized, never collected), the top-k
    window partitions by doc — ops/text.py::tfidf_topk.
    mode='bm25': Okapi BM25 retrieval-based selection — docs with
    doc_id < 5 act as queries over the whole corpus (self excluded),
    top-5 by BM25 with k1=1.2, b=0.75; posting-list equi-join on term,
    never a corpus scan per query — ops/text.py::bm25_topk. bm25 rows
    reuse the schema as (doc_id=query, term=retrieved id, tfidf=score)."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    # r7: both modes consume ONE pinned (id, w, tf) counts frame — the
    # shingles_df handoff pattern; each mode re-ran the tokenize+count
    # shuffle before (guide §2.4)
    words = F.split(D.normalize_text(F.col("text")), " ")
    tf_shared = pin(docs
                    .select(F.col("doc_id").alias("id"),
                            F.explode(words).alias("w"))
                    .groupBy("id", "w")
                    .agg(F.count(F.lit(1)).alias("tf")))
    tfidf = (TXT.tfidf_topk(docs, k=3, tf_df=tf_shared)
             .select(F.lit("tfidf").alias("mode"), "doc_id", "term",
                     "tf", "df", "tfidf", "rank"))
    bm = (TXT.bm25_topk(docs, docs.filter(F.col("doc_id") < 5), k=5,
                        tf_df=tf_shared)
          .select(F.lit("bm25").alias("mode"),
                  F.col("query_id").alias("doc_id"),
                  F.col("doc_id").cast("string").alias("term"),
                  F.lit(None).cast("long").alias("tf"),
                  F.lit(None).cast("long").alias("df"),
                  F.col("score").alias("tfidf"),
                  "rank"))
    return tfidf.unionByName(bm)


SQL_Q48 = """
WITH w AS (
  SELECT doc_id AS id,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
tok AS (SELECT id, unnest(ws) AS wd FROM w),
tf AS (SELECT id, wd, count(*) AS tf FROM tok GROUP BY id, wd),
nw AS (SELECT id, sum(tf) AS n_words FROM tf GROUP BY id),
dfx AS (SELECT wd, count(*) AS df FROM tf GROUP BY wd),
nn AS (SELECT count(*) AS n FROM documents),
sc AS (
  SELECT tf.id, tf.wd, tf.tf, dfx.df,
         (tf.tf * 1.0 / nw.n_words) * (ln((nn.n + 1.0) / (dfx.df + 1.0)) + 1.0) AS tfidf
  FROM tf JOIN dfx USING (wd) JOIN nw USING (id) CROSS JOIN nn),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, wd ASC) AS rank
  FROM sc),
-- bm25 mode: same tokenize, empty terms dropped; N/avgdl over docs with
-- >= 1 token (zero-token docs cannot match anyway)
btf AS (SELECT id, wd, count(*)::DOUBLE AS tf FROM tok
        WHERE wd <> '' GROUP BY id, wd),
bdl AS (SELECT id, sum(tf) AS dl FROM btf GROUP BY id),
bdf AS (SELECT wd, count(*)::DOUBLE AS df FROM btf GROUP BY wd),
bg AS (SELECT count(DISTINCT id)::DOUBLE AS n,
              sum(tf) / count(DISTINCT id) AS avgdl FROM btf),
qt AS (SELECT DISTINCT id AS query_id, wd FROM tok
       WHERE id < 5 AND wd <> ''),
bsc AS (
  SELECT qt.query_id, btf.id,
         sum(ln(1.0 + (bg.n - bdf.df + 0.5) / (bdf.df + 0.5))
             * (btf.tf * (1.2 + 1.0)
                / (btf.tf + 1.2 * (1.0 - 0.75 + 0.75 * bdl.dl / bg.avgdl)))) AS score
  FROM qt JOIN btf USING (wd) JOIN bdf USING (wd) JOIN bdl ON bdl.id = btf.id
       CROSS JOIN bg
  WHERE btf.id <> qt.query_id
  GROUP BY qt.query_id, btf.id),
brk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, id ASC) AS rank
  FROM bsc)
SELECT 'tfidf' AS mode, id AS doc_id, wd AS term, tf::BIGINT AS tf,
       df::BIGINT AS df, round(tfidf, 6) AS tfidf, rank::INT AS rank
FROM rk WHERE rank <= 3
UNION ALL
SELECT 'bm25' AS mode, query_id AS doc_id, id::VARCHAR AS term,
       NULL::BIGINT AS tf, NULL::BIGINT AS df,
       round(score, 6) AS tfidf, rank::INT AS rank
FROM brk WHERE rank <= 5
"""


TOKEN_BUDGET = 12_000    # ~44% of the corpus' ws tokens at sf0.01


def q49_token_budget(spark, sf_dir):
    """Token-budget corpus curation: quality-ordered (quality desc, doc_id
    asc) running token total; selected while cum <= budget. The cumsum is
    distributed — range-repartition + partition-local windows + a P-row
    offsets table, no global single-partition sort — see
    ops/sampling.py::select_token_budget."""
    from forex_feature_generator_spark.ops import sampling as SMP
    docs = _load(spark, sf_dir, "documents")
    scored = TXT.quality_score(TXT.token_counts(docs))
    pri = scored.select("doc_id",
                        F.col("quality").alias("priority"),
                        F.col("n_ws_tokens").alias("n_tokens"))
    out = SMP.select_token_budget(pri, budget=TOKEN_BUDGET,
                                  tokens_col="n_tokens",
                                  priority_col="priority")
    return out.select("doc_id", "priority", "n_tokens",
                      "cum_tokens", "selected")


SQL_Q49 = f"""
WITH t AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS words,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_c
  FROM documents),
r AS (
  SELECT doc_id, n_tokens,
         punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
         len(list_filter(words, w -> list_contains({_STOP_EN}, w))) * 1.0
           / greatest(len(words), 1) AS stop_ratio,
         upper_c * 1.0 / greatest(n_chars, 1) AS upper_ratio,
         least(1.0, len(words) / 20.0) AS length_score
  FROM t),
q AS (
  SELECT doc_id, n_tokens,
         round(length_score * 0.3 + least(1.0, stop_ratio * 5.0) * 0.3
               + (1 - least(1.0, punct_ratio * 5.0)) * 0.2
               + (1 - least(1.0, upper_ratio * 5.0)) * 0.2, 6) AS priority
  FROM r),
o AS (
  SELECT doc_id, priority, n_tokens,
         sum(n_tokens) OVER (ORDER BY priority DESC, doc_id ASC) AS cum_tokens
  FROM q)
SELECT doc_id, priority, n_tokens::BIGINT AS n_tokens,
       cum_tokens::BIGINT AS cum_tokens,
       cum_tokens <= {TOKEN_BUDGET} AS selected
FROM o
"""


def q50_mixture_weights(spark, sf_dir):
    """Static domain-mixture reweighting over (source, lang): token share
    of corpus + the uniform-target reweight factor. One G-row groupBy, a
    1-row totals broadcast — see ops/sampling.py::mixture_weights."""
    from forex_feature_generator_spark.ops import sampling as SMP
    docs = _load(spark, sf_dir, "documents")
    toks = TXT.token_counts(docs).select("source", "lang", "n_ws_tokens")
    return SMP.mixture_weights(toks, ["source", "lang"],
                               tokens_col="n_ws_tokens")


SQL_Q50 = """
WITH t AS (
  SELECT source, lang,
         len(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents),
g AS (
  SELECT source, lang, count(*) AS n_docs, sum(n)::BIGINT AS n_tokens
  FROM t GROUP BY source, lang),
tot AS (SELECT sum(n_tokens) AS tot, count(*) AS grp FROM g)
SELECT source, lang, n_docs, n_tokens,
       round(n_tokens * 1.0 / tot, 6) AS token_share,
       round((1.0 / grp) / (n_tokens * 1.0 / tot), 6) AS weight
FROM g CROSS JOIN tot
"""


def q51_semdedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): hash-
    sampled quantizer cells bound the pairwise candidate work, within-cell
    cosine >= t marks near-dups, lowest id kept — see
    ops/similarity.py::semantic_dedup. The oracle mirrors the identical
    deterministic quantizer + pair rule."""
    emb = _load(spark, sf_dir, "embeddings", floor=True)
    return (SIM.semantic_dedup(emb, threshold=0.35, n_cells=16)
            .select("vec_id", F.col("cell").cast("long").alias("cell"),
                    "is_dup"))


SQL_Q51 = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
picked AS (
  SELECT md5(vec_id::VARCHAR) AS h, vec_id AS cid, ev
  FROM v ORDER BY h, cid LIMIT 16),
cents AS (SELECT row_number() OVER (ORDER BY h, cid) AS cell, ev AS cv
          FROM picked),
assign AS (
  SELECT vec_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.ev, c.cv) DESC,
                                       c.cell ASC) AS cr
    FROM v, cents c) WHERE cr <= 1),
dups AS (
  SELECT DISTINCT a.vec_id
  FROM assign a JOIN assign b ON a.cell = b.cell AND b.vec_id < a.vec_id
       JOIN v va ON va.vec_id = a.vec_id
       JOIN v vb ON vb.vec_id = b.vec_id
  WHERE round(list_dot_product(va.ev, vb.ev)
              / (sqrt(list_dot_product(va.ev, va.ev))
                 * sqrt(list_dot_product(vb.ev, vb.ev))), 6) >= 0.35)
SELECT a.vec_id, a.cell, (d.vec_id IS NOT NULL) AS is_dup
FROM assign a LEFT JOIN dups d ON a.vec_id = d.vec_id
"""


def q52_unigram_kl(spark, sf_dir):
    """Per-source unigram-distribution drift: KL(P_source || P_corpus) over
    word frequencies + vocab size + token mass — the corpus-QA scan that
    catches a source whose token distribution shifted between snapshots.
    One explode + (source, word) partial-agg shuffle; word totals joined BY
    KEY (vocab-sized, never broadcast) — see ops/text.py::unigram_kl."""
    docs = _load(spark, sf_dir, "documents")
    return TXT.unigram_kl(docs)


SQL_Q52 = """
WITH w AS (
  SELECT source AS grp,
         unnest(string_split(trim(regexp_replace(lower(text),
                '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
  FROM documents),
wf AS (SELECT grp, w, count(*) AS n_gw FROM w WHERE w <> '' GROUP BY grp, w),
gt AS (SELECT grp, sum(n_gw)::BIGINT AS n_g FROM wf GROUP BY grp),
wt AS (SELECT w, sum(n_gw)::BIGINT AS n_w FROM wf GROUP BY w),
tot AS (SELECT sum(n_gw)::BIGINT AS n_c FROM wf)
SELECT grp AS group_key,
       round(sum((n_gw / n_g::DOUBLE)
                 * ln((n_gw / n_g::DOUBLE) / (n_w / n_c::DOUBLE))), 6) AS kl,
       count(*) AS vocab,
       max(n_g) AS n_words
FROM wf JOIN gt USING (grp) JOIN wt USING (w), tot
GROUP BY grp
"""


def q53_shard_assign(spark, sf_dir):
    """Deterministic global shuffle + shard/position assignment for training
    export: (shard, pos) a pure function of hash(id) — reproducible, order-
    insensitive, per-shard-bounded ranking (no global sort) — see
    ops/sampling.py::shard_assign."""
    from forex_feature_generator_spark.ops import sampling as SMP
    docs = _load(spark, sf_dir, "documents")
    return SMP.shard_assign(docs, 8).select("doc_id", "shard", "pos")


SQL_Q53 = f"""
SELECT doc_id,
       ({_sql_hash()} % 8)::INTEGER AS shard,
       (row_number() OVER (PARTITION BY ({_sql_hash()} % 8)
                           ORDER BY {_sql_hash()} ASC, doc_id ASC)
        - 1)::BIGINT AS pos
FROM documents
"""


def q56_chunk_sequences(spark, sf_dir):
    """Token-array restructuring, two discriminated modes over the same BPE
    sequences: context-length chunking (engine/tokens.py::chunk_sequences —
    the complement of q34's packing; <=40-token windows, 8-token overlap)
    ⊕ fill-in-the-middle PSM rewriting (engine/tokens.py::fim_transform —
    hash-gated 50% of docs re-emitted as [PRE]prefix[SUF]suffix[MID]middle;
    chunk_idx carries the applied flag). Both are pure per-row explode /
    slice / concat projections — no shuffle, no UDF."""
    from forex_feature_generator_spark.engine import tokens as etok
    from forex_feature_generator_spark.ops import bpe as BPE
    docs = _load(spark, sf_dir, "documents", floor=True)
    # r7: same keep_cols join-removal as q54 (see there)
    seqs = (BPE.bpe_encode(docs, keep_cols=("source",))
            .select("doc_id", F.col("token_ids").alias("tokens"),
                    F.col("n_bpe_tokens").cast("int").alias("n_tok"),
                    "source"))
    ch = etok.chunk_sequences(seqs, max_len=40, overlap=8)
    chunks = ch.select(
        F.lit("chunk").alias("mode"), "doc_id", "source",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join("chunk_tokens", ",").alias("chunk_csv"),
        F.col("chunk_len").cast("long").alias("chunk_len"))
    fim = etok.fim_transform(seqs).select(
        F.lit("fim").alias("mode"), "doc_id", "source",
        F.col("fim_applied").cast("long").alias("chunk_idx"),
        F.array_join("fim_tokens", ",").alias("chunk_csv"),
        F.col("fim_len").alias("chunk_len"))
    return chunks.unionByName(fim)


def _sql_q56() -> str:
    from forex_feature_generator_spark.ops.bpe import MERGES, VOCAB
    s = "s0"
    for a, b in MERGES:
        s = f"replace({s}, ',{a},,{b},', ',{a}{b},')"
    case = "CASE x " + " ".join(
        f"WHEN '{sym}' THEN {i}" for sym, i in VOCAB.items()) + " END"
    return f"""
WITH n0 AS (
  SELECT doc_id,
         replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ', '_') AS t
  FROM documents),
w0 AS (SELECT doc_id, regexp_replace(t, '(.)', ',\\1,', 'g') AS s0 FROM n0),
m AS (SELECT doc_id, {s} AS s FROM w0),
seqs AS (
  SELECT m.doc_id, d.source,
         list_transform(string_split(substr(s, 2, length(s) - 2), ',,'),
                        x -> {case}) AS ids
  FROM m JOIN documents d USING (doc_id)),
ch AS (
  SELECT doc_id, source, ids,
         unnest(range(greatest(ceil((len(ids) - 8) / 32.0)::INTEGER, 1)))
           AS chunk_idx
  FROM seqs WHERE len(ids) > 0),
f1 AS (
  SELECT doc_id, source, ids, len(ids) AS n,
         ({_hex2int_sql("md5('101:' || doc_id::VARCHAR)", 15)} % 1000000
          < 500000 AND len(ids) >= 4) AS applied,
         1 + ({_hex2int_sql("md5('102:' || doc_id::VARCHAR)", 15)} % 1000000)
             % greatest(len(ids) - 2, 1) AS p1
  FROM seqs),
f2 AS (
  SELECT doc_id, source, ids, n, applied, p1,
         p1 + 1 + ({_hex2int_sql("md5('103:' || doc_id::VARCHAR)", 15)}
                   % 1000000) % greatest(n - 1 - p1, 1) AS p2
  FROM f1)
SELECT 'chunk' AS mode, doc_id, source, chunk_idx::BIGINT AS chunk_idx,
       array_to_string(list_slice(ids, chunk_idx * 32 + 1,
                                  chunk_idx * 32 + 40), ',') AS chunk_csv,
       len(list_slice(ids, chunk_idx * 32 + 1,
                      chunk_idx * 32 + 40))::BIGINT AS chunk_len
FROM ch
UNION ALL
SELECT 'fim' AS mode, doc_id, source, applied::BIGINT AS chunk_idx,
       array_to_string(CASE WHEN applied THEN flatten(
           [[-1], list_slice(ids, 1, p1), [-3], list_slice(ids, p2 + 1, n),
            [-2], list_slice(ids, p1 + 1, p2)]) ELSE ids END, ',')
         AS chunk_csv,
       (CASE WHEN applied THEN n + 3 ELSE n END)::BIGINT AS chunk_len
FROM f2
"""


def q57_fixed_size_sample(spark, sf_dir):
    """Exactly-k-per-stratum deterministic sampling (fixed-SIZE eval-set
    carving, vs q31's fixed-RATE): hash-ordered top-25 per lang; the
    per-stratum window bounds every sort task by the stratum size."""
    from forex_feature_generator_spark.ops import sampling as SMP
    docs = _load(spark, sf_dir, "documents")
    return (SMP.fixed_size_sample(docs, "lang", k=25)
            .select("doc_id", "lang"))


SQL_Q57 = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_sql_hash()} ASC, doc_id ASC) AS rk
  FROM documents) WHERE rk <= 25
"""


def q58_gopher_rules(spark, sf_dir):
    """Gopher-style hard rule filter (Rae et al. 2021 heuristics): keep/drop
    verdict + failure-reasons bitmask (word count, mean word length, symbol
    ratio, stopword fraction, duplicate-word fraction) — the rules VERDICT
    complementing q19's soft score. Pure projection, no shuffle."""
    docs = _load(spark, sf_dir, "documents")
    return TXT.gopher_rules(docs, min_words=20)


SQL_Q58 = f"""
WITH t AS (
  SELECT doc_id, text,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ',
                                          'g')), ' ') AS words,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS punct
  FROM documents),
r AS (
  SELECT doc_id, len(words)::BIGINT AS n_words,
         (length(norm) - (len(words) - 1)) * 1.0
           / greatest(len(words), 1) AS mean_word_len,
         punct * 1.0 / greatest(len(words), 1) AS symbol_ratio,
         len(list_filter(words, w -> list_contains({_STOP_EN}, w))) * 1.0
           / greatest(len(words), 1) AS stop_frac,
         1.0 - len(list_distinct(words)) * 1.0
           / greatest(len(words), 1) AS dup_frac
  FROM t)
SELECT doc_id, n_words,
       round(mean_word_len, 6) AS mean_word_len,
       round(dup_frac, 6) AS dup_word_frac,
       ((CASE WHEN n_words < 20 OR n_words > 100000 THEN 1 ELSE 0 END)
        + (CASE WHEN mean_word_len < 3 OR mean_word_len > 10 THEN 2 ELSE 0 END)
        + (CASE WHEN symbol_ratio > 0.1 THEN 4 ELSE 0 END)
        + (CASE WHEN stop_frac < 0.02 THEN 8 ELSE 0 END)
        + (CASE WHEN dup_frac > 0.5 THEN 16 ELSE 0 END))::INTEGER AS reasons,
       ((CASE WHEN n_words < 20 OR n_words > 100000 THEN 1 ELSE 0 END)
        + (CASE WHEN mean_word_len < 3 OR mean_word_len > 10 THEN 2 ELSE 0 END)
        + (CASE WHEN symbol_ratio > 0.1 THEN 4 ELSE 0 END)
        + (CASE WHEN stop_frac < 0.02 THEN 8 ELSE 0 END)
        + (CASE WHEN dup_frac > 0.5 THEN 16 ELSE 0 END)) = 0 AS keep
FROM r
"""


def q55_incremental_dedup(spark, sf_dir):
    """Incremental-crawl dedup at two strengths as one entry. mode='exact'
    (ops/dedup.py::incremental_dedup): docs with doc_id < 250 stand in for
    the already-ingested corpus (its hash table), docs >= 250 are the new
    batch; seen-hash membership is a left-anti join BY KEY (never
    broadcast — the seen set is corpus-sized at 100 TB), then the batch
    exact-dedups keep-min-id. mode='near'
    (ops/dedup.py::incremental_near_dedup): the same batch flagged against
    the seen corpus by MinHash-LSH band collision + estimated-Jaccard
    rerank — a KEY join of banded signatures, no corpus broadcast, no
    batch x corpus product."""
    from forex_feature_generator_spark.ops import dedup as DD
    docs = _load(spark, sf_dir, "documents", floor=True)
    seen_docs = docs.filter(F.col("doc_id") < 250)
    new_docs = docs.filter(F.col("doc_id") >= 250)
    seen = DD.exact_dedup(seen_docs)
    exact = (DD.incremental_dedup(new_docs, seen)
             .select(F.lit("exact").alias("mode"),
                     F.col("text_hash").alias("key"),
                     F.col("kept_id").alias("ref_id"),
                     F.col("n_batch_dupes").alias("n"),
                     F.lit(-1.0).alias("score")))
    near = (DD.incremental_near_dedup(new_docs, seen_docs, num_hashes=16,
                                      bands=8, threshold=0.05)
            .select(F.lit("near").alias("mode"),
                    F.col("doc_id").cast("string").alias("key"),
                    F.col("best_match_id").alias("ref_id"),
                    F.col("n_seen_matches").alias("n"),
                    F.col("best_est_jaccard").alias("score")))
    return exact.unionByName(near)


def _sql_q55() -> str:
    from forex_feature_generator_spark.ops.dedup import MERSENNE_P, minhash_params
    params = minhash_params(16)
    h = f"({_hex2int_sql('md5(s)[1:8]')} % {MERSENNE_P}::BIGINT)"
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> ({a}::BIGINT * {h} + {b}::BIGINT) % {MERSENNE_P}::BIGINT)) AS m{i}"
        for i, (a, b) in enumerate(params))
    sig_list = ", ".join(f"m{i}" for i in range(16))
    band_rows = " UNION ALL ".join(
        f"SELECT id, {bi} AS band, md5(concat_ws(',', m{2 * bi}::VARCHAR, m{2 * bi + 1}::VARCHAR)) AS bhash, [{sig_list}] AS sig FROM sigs"
        for bi in range(8))
    return f"""
WITH seen AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
         AS text_hash
  FROM documents WHERE doc_id < 250),
batch AS (
  SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
         AS text_hash, doc_id
  FROM documents WHERE doc_id >= 250),
w AS (
  SELECT doc_id AS id, doc_id >= 250 AS is_new,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
shs AS (
  SELECT id, is_new, list_distinct(list_transform(
           range(1, greatest(len(ws) - 2, 0) + 1),
           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))) AS sh
  FROM w),
sigs AS (SELECT id, is_new, {mins} FROM shs),
banded0 AS ({band_rows.replace("SELECT id,", "SELECT id, is_new,")}),
cand AS (
  SELECT DISTINCT x.id AS new_id, y.id AS seen_id, x.sig AS sig_n, y.sig AS sig_s
  FROM banded0 x JOIN banded0 y
    ON x.band = y.band AND x.bhash = y.bhash AND x.is_new AND NOT y.is_new),
est AS (
  SELECT new_id, seen_id,
         len(list_filter(range(1, 17), i -> sig_n[i] = sig_s[i])) / 16.0 AS est
  FROM cand
  WHERE len(list_filter(range(1, 17), i -> sig_n[i] = sig_s[i])) / 16.0 >= 0.05),
near AS (
  SELECT new_id, count(*) AS n_seen_matches,
         (min(struct_pack(neg_est := -est, sid := seen_id))).sid AS best_match_id,
         round(max(est), 6) AS best_est_jaccard
  FROM est GROUP BY new_id)
SELECT 'exact' AS mode, b.text_hash AS key, min(b.doc_id) AS ref_id,
       count(*) AS n, (-1.0)::DOUBLE AS score
FROM batch b ANTI JOIN seen s ON b.text_hash = s.text_hash
GROUP BY b.text_hash
UNION ALL
SELECT 'near' AS mode, new_id::VARCHAR AS key, best_match_id AS ref_id,
       n_seen_matches AS n, best_est_jaccard AS score
FROM near
"""


def q54_token_sequences(spark, sf_dir):
    """The north-rule shape end-to-end on the hard-oracle gate: documents ->
    real BPE -> the input_hint sequence table (doc_id, tokens:array<int>,
    n_tok, source) -> engine.tokens.window_features (per-source derived
    series + lag/lead deltas, trailing rolling mean/std, decayed mean,
    sparse backfill) with the tokens array passed through BYTE-IDENTICAL
    (csv-joined for the cross-engine hash). One shuffle on source feeds
    every window; the oracle mirrors the identical BPE chain + window
    frames in SQL."""
    from forex_feature_generator_spark.engine import tokens as etok
    from forex_feature_generator_spark.ops import bpe as BPE
    docs = _load(spark, sf_dir, "documents", floor=True)
    # r7: `source` rides the per-row encode projection (keep_cols) — the r6
    # shape re-joined the corpus on doc_id just to fetch it back (guide
    # §2.4: an equi-join of a projection to its own input is a removable
    # shuffle of both sides).
    seqs = (BPE.bpe_encode(docs, keep_cols=("source",))
            .select("doc_id", F.col("token_ids").alias("tokens"),
                    F.col("n_bpe_tokens").cast("int").alias("n_tok"),
                    "source"))
    out = etok.window_features(seqs)
    return out.select(
        "doc_id", "source",
        F.array_join("tokens", ",").alias("tokens_csv"),
        F.col("n_tok").cast("long").alias("n_tok"),
        "close",
        "close_lag1_delta", "close_lead1_delta",
        F.round("close_rmean20", 6).alias("close_rmean20"),
        F.round("close_rstd20", 6).alias("close_rstd20"),
        F.round("tick_volume_rmean20", 6).alias("volume_rmean20"),
        F.round("close_ema20", 6).alias("close_ema20"),
        "close_backfilled")


def _sql_q54() -> str:
    from forex_feature_generator_spark.ops.bpe import MERGES, VOCAB
    s = "s0"
    for a, b in MERGES:
        s = f"replace({s}, ',{a},,{b},', ',{a}{b},')"
    case = "CASE x " + " ".join(
        f"WHEN '{sym}' THEN {i}" for sym, i in VOCAB.items()) + " END"
    return f"""
WITH n0 AS (
  SELECT doc_id,
         replace(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                 ' ', '_') AS t
  FROM documents),
w0 AS (SELECT doc_id, regexp_replace(t, '(.)', ',\\1,', 'g') AS s0 FROM n0),
m AS (SELECT doc_id, {s} AS s FROM w0),
seqs AS (
  SELECT m.doc_id, d.source,
         list_transform(string_split(substr(s, 2, length(s) - 2), ',,'),
                        x -> {case}) AS ids
  FROM m JOIN documents d USING (doc_id)),
ser AS (
  SELECT doc_id, source, ids,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS seq,
         ids[-1]::DOUBLE AS close,
         len(ids)::BIGINT AS n_tok
  FROM seqs),
feat AS (
  SELECT doc_id, source, seq, close, n_tok,
         array_to_string(ids, ',') AS tokens_csv,
         close - lag(close, 1) OVER w AS close_lag1_delta,
         lead(close, 1) OVER w - close AS close_lead1_delta,
         round(avg(close) OVER wr, 6) AS close_rmean20,
         round(coalesce(stddev_samp(close) OVER wr, 0), 6) AS close_rstd20,
         round(avg(n_tok) OVER wr, 6) AS volume_rmean20,
         list(close) OVER wr AS vals,
         CASE WHEN seq % 7 = 0 THEN close END AS close_sparse
  FROM ser
  WINDOW w AS (PARTITION BY source ORDER BY seq),
         wr AS (PARTITION BY source ORDER BY seq
                ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
SELECT doc_id, source, tokens_csv, n_tok, close,
       close_lag1_delta, close_lead1_delta, close_rmean20, close_rstd20,
       volume_rmean20,
       round(
         list_sum(list_transform(range(1, len(vals) + 1),
                  i -> vals[i] * 0.9 ** (len(vals) - i)))
         / list_sum(list_transform(range(1, len(vals) + 1),
                  i -> 0.9 ** (len(vals) - i))), 6) AS close_ema20,
       last_value(close_sparse IGNORE NULLS)
         OVER (PARTITION BY source ORDER BY seq
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS close_backfilled
FROM feat
"""


SQL_Q37 = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
picked AS (
  SELECT md5(vec_id::VARCHAR) AS h, vec_id AS cid, ev
  FROM v ORDER BY h, cid LIMIT 16),
cents AS (SELECT row_number() OVER (ORDER BY h, cid) AS cell, ev AS cv
          FROM picked),
assign_c AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.ev, c.cv) DESC,
                                       c.cell ASC) AS cr
    FROM v, cents c) WHERE cr <= 1),
assign_q AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.ev, c.cv) DESC,
                                       c.cell ASC) AS cr
    FROM v, cents c WHERE v.vec_id < 10) WHERE cr <= 2),
cand AS (
  SELECT DISTINCT q.query_id, n.neighbor_id
  FROM assign_q q JOIN assign_c n USING (cell)
  WHERE n.neighbor_id <> q.query_id),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(a.ev, b.ev)
           / (sqrt(list_dot_product(a.ev, a.ev))
              * sqrt(list_dot_product(b.ev, b.ev))) AS cosine
  FROM cand JOIN v a ON a.vec_id = cand.query_id
            JOIN v b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# Consolidated driver entries (round 5).
#
# The per-round driver records correctness rows for AT MOST 50 queries()
# entries (evidence: round 3 registered 50 and got 50 rows; round 4
# registered 60 and CORRECTNESS_r04.json contains exactly the first 50 in
# insertion order). Registering more silently ships operators with no
# driver-level correctness evidence, so related operators are consolidated
# into single entries below — every underlying operator still runs and is
# still hash-gated (unions carry a `method`/`mode` discriminator; joins key
# on the natural PK). The per-operator oracles above (the SQL_Q* constants
# and _sql_q* functions) are the parts the composite oracles embed; a
# per-operator entry function stays only while a composite entry calls it.
# ---------------------------------------------------------------------------


def q06_fill(spark, sf_dir):
    """Forward + backward fill of the same sparse column in one entry; its
    oracle joins SQL_Q06 (forward) and SQL_Q36 (backward) on event_id.
    Both fills share one window partitioning (user_id, ordered by ts), so
    they evaluate in a SINGLE Window node over one exchange+sort — the r6
    shape ran two separate windowed scans and glued them back with a
    sort-merge join on the event PK (guide §2.4: same-keyed operations
    share one exchange)."""
    ev = _load(spark, sf_dir, "events")
    sparse = F.when(F.col("event_id") % 7 == 0, F.col("value"))
    wf = (Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(Window.unboundedPreceding, 0))
    wb = (Window.partitionBy("user_id").orderBy("ts")
          .rowsBetween(0, Window.unboundedFollowing))
    return ev.select(
        "event_id", "user_id",
        F.last(sparse, ignorenulls=True).over(wf).alias("filled"),
        F.first(sparse, ignorenulls=True).over(wb).alias("bfilled"))


def _sql_q06_fill() -> str:
    return f"""
SELECT f.event_id, f.user_id, f.filled, b.bfilled
FROM ({SQL_Q06}) f JOIN ({SQL_Q36}) b ON f.event_id = b.event_id
"""


def q07_asof_modes(spark, sf_dir):
    """Backward as-of join in BOTH modes (<= and strict <) as one entry
    (q07_asof_join ⊕ q35_asof_strict, union + mode discriminator)."""
    back = q07_asof_join(spark, sf_dir).withColumn("mode", F.lit("backward"))
    strict = q35_asof_strict(spark, sf_dir).withColumn("mode", F.lit("strict"))
    return back.unionByName(strict)


def _sql_q07_modes() -> str:
    return f"""
SELECT 'backward' AS mode, * FROM ({SQL_Q07})
UNION ALL
SELECT 'strict' AS mode, * FROM ({SQL_Q35})
"""


def q10_norm_binning(spark, sf_dir):
    """Lineitem normalization suite: broadcast z-score (q10) ⊕ min-max
    (q25) ⊕ decile binning (q42) in ONE pass.

    r7 changes (results identical, verified exact vs the oracle at
    sf0.001/sf0.01):
      * the three separate stat jobs (avg/std, min/max, percentile — each
        a full lineitem scan) merge into ONE combined agg plus a separate
        cuts frame;
      * the decile cutpoints come from normalize.quantiles_frame with
        by=() — one global row_number window + rank-pick with
        F.percentile's exact interpolation (approx_percentile above the
        size gate) — instead of the single-buffer percentile agg whose
        per-map value->count hashmaps degrade superlinearly on this
        583k-distinct column (2.03 s -> cuts frame 1.63 s at sf0.1; the
        sf1 driver run spent ~45 s of q10's 60 s there);
      * the PK re-join is kept (the PK is NOT unique and the join's k^3
        per-key combination multiset is the declared result — a groupBy+
        collect_list+triple-explode reproduction A/B'd SLOWER, 4.6 s vs
        3.0 s), but each join side is now a narrow projection of ONE
        shared scan+broadcast frame instead of an independent scan+agg
        pipeline (guide §2.3: project before the exchange)."""
    from forex_feature_generator_spark.engine.normalize import quantiles_frame
    li = _load(spark, sf_dir, "lineitem")
    qs = [i / 10 for i in range(1, 10)]
    n = _parquet_num_rows(sf_dir, "lineitem")   # footer metadata, no job
    keys = ["l_orderkey", "l_linenumber"]
    stats = li.agg(
        F.avg("l_extendedprice").alias("mp"),
        F.stddev_samp("l_extendedprice").alias("sp"),
        F.avg("l_quantity").alias("mq"),
        F.stddev_samp("l_quantity").alias("sq"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"))
    cutsf = (quantiles_frame(li, "l_extendedprice", qs, n)
             .select(F.transform("cuts",
                                 lambda c: F.round(c, 4)).alias("cuts")))
    j = li.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(cutsf))
    # r7: ONE keys-hash repartition shared by all three join sides (guide
    # §2.4 "two operations keyed the same way can share one exchange"):
    # z/mm/qb previously each paid their own pre-SMJ exchange of the
    # 600k-row frame; deriving them from a common repartitioned parent
    # turns those into one reused exchange + per-side sorts
    # (3.01 s -> 2.08 s at sf0.1, same-session A/B median of 3).
    jr = j.repartition(spark.sparkContext.defaultParallelism, *keys)
    dec = F.size(F.filter(F.col("cuts"),
                          lambda c: F.col("l_extendedprice") >= c))
    z = jr.select(
        *keys,
        F.round((F.col("l_extendedprice") - F.col("mp")) / F.col("sp"),
                6).alias("z_price"),
        F.round((F.col("l_quantity") - F.col("mq")) / F.col("sq"),
                6).alias("z_qty"))
    mm = jr.select(*keys,
                   F.round(2 * (F.col("l_extendedprice") - F.col("mn"))
                           / (F.col("mx") - F.col("mn")) - 1,
                           6).alias("mm_price"))
    qb = jr.select(*keys, dec.cast("int").alias("price_decile"))
    return z.join(mm, keys).join(qb, keys)


def _sql_q10_norm() -> str:
    return f"""
SELECT z.l_orderkey, z.l_linenumber, z.z_price, z.z_qty,
       m.mm_price, q.price_decile
FROM ({SQL_Q10}) z
JOIN ({SQL_Q25}) m ON m.l_orderkey = z.l_orderkey
                  AND m.l_linenumber = z.l_linenumber
JOIN ({SQL_Q42}) q ON q.l_orderkey = z.l_orderkey
                  AND q.l_linenumber = z.l_linenumber
"""


def q15_pair_similarity(spark, sf_dir):
    """Every pairwise near-dup candidate generator as one entry: exact
    n-gram Jaccard (q15) ⊕ MinHash estimate (q16) ⊕ SimHash hamming (q17)
    ⊕ embedding cosine (q28); union + method discriminator, scores unified
    to double.

    The exact-Jaccard and MinHash branches consume ONE pinned `shingles()`
    frame (the normalize+split+explode stream is the shared upstream;
    without the handoff each generator re-derived it from the parquet
    scan — the round-5 multi-evaluation class, this time across ops)."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    sh = pin(D.shingles(docs))

    def tag(df, method, score_col):
        return df.select(F.lit(method).alias("method"),
                         "id_a", "id_b",
                         F.col(score_col).cast("double").alias("score"))
    return (tag(D.ngram_jaccard_pairs(docs, threshold=0.08, shingles_df=sh),
                "jaccard", "jaccard")
            .unionByName(tag(D.minhash_lsh_pairs(docs, num_hashes=16,
                                                 bands=8, threshold=0.05,
                                                 shingles_df=sh),
                             "minhash", "est_jaccard"))
            .unionByName(tag(q17_simhash(spark, sf_dir), "simhash",
                             "hamming"))
            .unionByName(tag(q28_embedding_dedup(spark, sf_dir), "embedding",
                             "cosine")))


def _sql_q15_pairs() -> str:
    return f"""
SELECT 'jaccard' AS method, id_a, id_b, jaccard::DOUBLE AS score
FROM ({SQL_Q15})
UNION ALL
SELECT 'minhash' AS method, id_a, id_b, est_jaccard::DOUBLE AS score
FROM ({_sql_q16()})
UNION ALL
SELECT 'simhash' AS method, id_a, id_b, hamming::DOUBLE AS score
FROM ({_sql_q17()})
UNION ALL
SELECT 'embedding' AS method, id_a, id_b, cosine::DOUBLE AS score
FROM ({_sql_q28()})
"""


def q18_ann_methods(spark, sf_dir):
    """ANN top-k: exact brute-force baseline (q18) ⊕ LSH (q29) ⊕ IVF over
    the hash-sampled quantizer (q37) ⊕ IVF over a Lloyd-REFINED quantizer
    (mode 'ivfk' — ops/similarity.py::kmeans_centroids, the FAISS-style
    IVF training step: 3 rounds of assign/mean/normalize, one broadcast
    pass + one (cell,dim)-bounded shuffle per round; the DuckDB oracle
    replays the identical refinement with a recursive CTE)."""
    def tag(df, method):
        return df.select(F.lit(method).alias("method"), "query_id",
                         "neighbor_id", "rank", "cosine")
    emb = _load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    # r7: ONE pinned hash-sampled quantizer feeds both the plain-IVF mode
    # and the Lloyd seed — the entry previously built it twice (two
    # distributed TakeOrdered jobs over the corpus)
    hc = SIM.hash_centroids(emb, 16)
    ivf = SIM.ivf_topk(emb, queries_df, k=5, n_cells=16, n_probe=2,
                       centroids=hc)
    ivfk = SIM.ivf_topk(emb, queries_df, k=5, n_cells=16, n_probe=2,
                        centroids=SIM.kmeans_centroids(
                            emb, 16, iters=3, seed_centroids=hc))
    return (tag(q18_ann_cosine(spark, sf_dir), "brute")
            .unionByName(tag(q29_ann_lsh(spark, sf_dir), "lsh"))
            .unionByName(tag(ivf, "ivf"))
            .unionByName(tag(ivfk, "ivfk")))


SQL_Q37K = """
WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
picked AS (
  SELECT md5(vec_id::VARCHAR) AS h, vec_id AS cid, ev
  FROM v ORDER BY h, cid LIMIT 16),
dims AS (SELECT unnest(range(1, (SELECT max(len(ev)) FROM v) + 1)) AS d),
-- Lloyd refinement replayed exactly: each recursion step assigns every
-- vector to its max-dot cell vs the PREVIOUS centroids (ties -> lowest
-- cell), takes per-dimension means rounded to 9 (matching Spark's
-- per-round rounding), L2-normalizes, and keeps the old centroid for
-- emptied or zero-norm cells.
km(iter, cell, cv) AS (
  SELECT 0, row_number() OVER (ORDER BY h, cid), ev FROM picked
  UNION ALL
  SELECT km.iter + 1, km.cell, COALESCE(m.cvn, km.cv)
  FROM km LEFT JOIN (
    SELECT cell,
           CASE WHEN sqrt(list_dot_product(cv0, cv0)) > 0 THEN
             list_transform(cv0,
                            x -> round(x / sqrt(list_dot_product(cv0, cv0)), 9))
           END AS cvn
    FROM (
      SELECT cell, list(mr ORDER BY d) AS cv0
      FROM (
        SELECT a.cell, dims.d, round(avg(a.ev[dims.d]), 9) AS mr
        FROM (
          SELECT ev, cell FROM (
            SELECT v.ev, km2.cell,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY list_dot_product(v.ev, km2.cv) DESC,
                                km2.cell ASC) AS cr
            FROM v, km km2) WHERE cr = 1) a, dims
        GROUP BY a.cell, dims.d)
      GROUP BY cell)
  ) m ON m.cell = km.cell
  WHERE km.iter < 3),
cents AS (SELECT cell, cv FROM km WHERE iter = 3),
assign_c AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.ev, c.cv) DESC,
                                       c.cell ASC) AS cr
    FROM v, cents c) WHERE cr <= 1),
assign_q AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT v.vec_id, c.cell,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_dot_product(v.ev, c.cv) DESC,
                                       c.cell ASC) AS cr
    FROM v, cents c WHERE v.vec_id < 10) WHERE cr <= 2),
cand AS (
  SELECT DISTINCT q.query_id, n.neighbor_id
  FROM assign_q q JOIN assign_c n USING (cell)
  WHERE n.neighbor_id <> q.query_id),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(a.ev, b.ev)
           / (sqrt(list_dot_product(a.ev, a.ev))
              * sqrt(list_dot_product(b.ev, b.ev))) AS cosine
  FROM cand JOIN v a ON a.vec_id = cand.query_id
            JOIN v b ON b.vec_id = cand.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored)
SELECT query_id, neighbor_id, rank, round(cosine, 6) AS cosine
FROM ranked WHERE rank <= 5
"""


def _sql_q18_ann() -> str:
    return f"""
SELECT 'brute' AS method, * FROM ({SQL_Q18})
UNION ALL
SELECT 'lsh' AS method, * FROM ({_sql_q29()})
UNION ALL
SELECT 'ivf' AS method, * FROM ({SQL_Q37})
UNION ALL
SELECT 'ivfk' AS method, * FROM ({SQL_Q37K})
"""


def q21_doc_signals(spark, sf_dir):
    """Per-doc identity/PII signals: md5 + rolling fingerprints (q21) ⊕
    PII scrub counts (q32), joined on doc_id."""
    fp = q21_fingerprint(spark, sf_dir)
    pii = q32_pii_scrub(spark, sf_dir)
    return fp.join(pii, "doc_id")


def _sql_q21_signals() -> str:
    return f"""
SELECT a.doc_id, a.md5_fingerprint, a.rolling_fingerprint,
       b.n_emails, b.n_urls, b.clean_md5
FROM ({SQL_Q21}) a JOIN ({SQL_Q32}) b ON b.doc_id = a.doc_id
"""


def q22_multimodal(spark, sf_dir):
    """Multimodal metadata scan (q22) ⊕ stub-decode probe (q23) joined on
    asset_id (q40's resize pipeline stays its own entry)."""
    meta = q22_multimodal_meta(spark, sf_dir).select("asset_id", "sha")
    dec = q23_multimodal_decode(spark, sf_dir)
    return (dec.join(meta, "asset_id")
            .select("asset_id", "modality", "n_bytes", "sha", "sha256",
                    "width", "height"))


def _sql_q22_multimodal() -> str:
    return f"""
SELECT d.asset_id, d.modality, d.n_bytes, m.sha, d.sha256, d.width, d.height
FROM ({_sql_q23()}) d JOIN ({SQL_Q22}) m ON m.asset_id = d.asset_id
"""


def q31_samplers(spark, sf_dir):
    """Data-selection samplers, five discriminated methods: proportional
    stratified (q31) ⊕ exactly-k per stratum (q57) ⊕ DSIR importance
    selection (hashed-unigram LLR vs the src0 target domain, top-100 of
    the pool — ops/sampling.py::dsir_select) ⊕ per-domain contribution cap
    (8000 chars per source, longest-first — ops/sampling.py::domain_cap)
    ⊕ Efraimidis-Spirakis weighted sampling without replacement (k=50,
    n_chars weights — ops/sampling.py::weighted_sample)."""
    from forex_feature_generator_spark.ops import sampling as SMP

    def tag(df, method):
        return df.select(F.lit(method).alias("method"), "doc_id", "lang")
    docs = _load(spark, sf_dir, "documents")
    dsir = SMP.dsir_select(docs.filter(F.col("source") != "src0"),
                           docs.filter(F.col("source") == "src0"), k=100)
    capped = SMP.domain_cap(docs, cap=8000).filter("selected")
    return (tag(q31_stratified_sample(spark, sf_dir), "stratified")
            .unionByName(tag(q57_fixed_size_sample(spark, sf_dir),
                             "fixed_k"))
            .unionByName(tag(dsir, "dsir"))
            .unionByName(tag(capped, "domain_cap"))
            .unionByName(tag(SMP.weighted_sample(docs, k=50), "weighted")))


def _sql_q31_samplers() -> str:
    bkt = f"({_hex2int_sql('md5(w)', 8)} % 4096)"
    words = ("SELECT doc_id, source, unnest(string_split(trim("
             "regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) "
             "AS w FROM documents")
    return f"""
WITH wd AS ({words}),
bk AS (SELECT doc_id, source, {bkt} AS bkt FROM wd WHERE w <> ''),
tc AS (SELECT bkt, count(*)::DOUBLE AS tc FROM bk
       WHERE source = 'src0' GROUP BY bkt),
rc AS (SELECT bkt, count(*)::DOUBLE AS rc FROM bk
       WHERE source <> 'src0' GROUP BY bkt),
tot AS (SELECT (SELECT sum(tc) FROM tc) AS t, (SELECT sum(rc) FROM rc) AS r),
scored AS (
  SELECT p.doc_id,
         round(sum(ln((coalesce(tc.tc, 0) + 1.0) / (tot.t + 4096.0))
                 - ln((rc.rc + 1.0) / (tot.r + 4096.0))), 6) AS s
  FROM bk p LEFT JOIN tc ON tc.bkt = p.bkt JOIN rc ON rc.bkt = p.bkt
       CROSS JOIN tot
  WHERE p.source <> 'src0' GROUP BY p.doc_id),
topk AS (SELECT doc_id FROM scored ORDER BY s DESC, doc_id ASC LIMIT 100),
capped AS (
  SELECT doc_id, lang,
         sum(n_chars) OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
  FROM documents)
SELECT 'stratified' AS method, doc_id, lang FROM ({SQL_Q31})
UNION ALL
SELECT 'fixed_k' AS method, doc_id, lang FROM ({SQL_Q57})
UNION ALL
SELECT 'dsir' AS method, d.doc_id, d.lang
FROM documents d JOIN topk ON topk.doc_id = d.doc_id
UNION ALL
SELECT 'domain_cap' AS method, doc_id, lang FROM capped WHERE cum <= 8000
UNION ALL
SELECT 'weighted' AS method, doc_id, lang FROM (
  SELECT doc_id, lang,
         ln(({_sql_hash()} + 0.5) / 1000000.0) / n_chars AS es_key
  FROM documents ORDER BY es_key DESC, doc_id ASC LIMIT 50)
"""


def q61_length_profile(spark, sf_dir):
    """Per-source sequence-length profile (count / token mass / mean /
    p10-p50-p90) through the shared exact-vs-sketch quantile gate — see
    ops/text.py::length_profile."""
    docs = _load(spark, sf_dir, "documents")
    return TXT.length_profile(docs, group_col="source")


SQL_Q61 = """
WITH t AS (
  SELECT source AS group_key,
         len(string_split_regex(trim(text), '\\s+'))::DOUBLE AS n_tok
  FROM documents)
SELECT group_key, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
       round(avg(n_tok), 6) AS mean_tok,
       round(quantile_cont(n_tok, 0.1), 6) AS p10,
       round(quantile_cont(n_tok, 0.5), 6) AS p50,
       round(quantile_cont(n_tok, 0.9), 6) AS p90
FROM t GROUP BY group_key
"""


def q62_source_leakage(spark, sf_dir):
    """Cross-shard n-gram leakage matrix (train/train sibling of benchmark
    decontamination): shared distinct 5-gram counts + overlap fraction for
    every source pair — see ops/text.py::cross_source_leakage."""
    docs = _load(spark, sf_dir, "documents", floor=True)
    return TXT.cross_source_leakage(docs, n=5)


SQL_Q62 = """
WITH w AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
  FROM documents),
sh AS (
  SELECT DISTINCT source,
         unnest(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2], ws[i+3], ws[i+4]))) AS s
  FROM w),
tot AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
p AS (
  SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
  GROUP BY 1, 2)
SELECT p.source_a, p.source_b, p.n_shared,
       ta.n_sh AS n_sh_a, tb.n_sh AS n_sh_b,
       round(p.n_shared * 1.0 / least(ta.n_sh, tb.n_sh), 6) AS leakage
FROM p JOIN tot ta ON ta.source = p.source_a
       JOIN tot tb ON tb.source = p.source_b
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # <= 50 entries by design: the driver records correctness rows for at
    # most 50 (see the consolidation note above) — related operators are
    # folded into single discriminated entries so EVERY operator lands a
    # driver-oracle row each round.
    return {
        "q01_tumbling_ohlc": q01_tumbling_ohlc,
        "q02_data_quality": q02_data_quality,
        "q03_lag_lead": q03_lag_lead,
        "q04_rolling": q04_rolling,
        "q05_sessionize": q05_sessionize,
        "q06_fill": q06_fill,
        "q07_asof_modes": q07_asof_modes,
        "q08_warmup_filter": q08_warmup_filter,
        "q09_topk": q09_topk,
        "q10_norm_binning": q10_norm_binning,
        "q11_forward_window": q11_forward_window,
        "q12_tpch_q1": q12_tpch_q1,
        "q13_feature_stats": q13_feature_stats,
        "q14_dedup_exact": q14_dedup_exact,
        "q15_pair_similarity": q15_pair_similarity,
        "q18_ann_methods": q18_ann_methods,
        "q19_text_quality": q19_text_quality,
        "q20_langid": q20_langid,
        "q21_doc_signals": q21_doc_signals,
        "q22_multimodal": q22_multimodal,
        "q24_decayed_mean": q24_decayed_mean,
        "q26_embedding_stats": q26_embedding_stats,
        "q27_join_agg": q27_join_agg,
        "q30_hash_split": q30_hash_split,
        "q31_samplers": q31_samplers,
        "q33_top_ngrams": q33_top_ngrams,
        "q34_pack_sequences": q34_pack_sequences,
        "q38_dedup_clusters": q38_dedup_clusters,
        "q39_repetition": q39_repetition,
        "q40_multimodal_resize": q40_multimodal_resize,
        "q41_session_window": q41_session_window,
        "q43_bpe_encode": q43_bpe_encode,
        "q44_dedup_keep_best": q44_dedup_keep_best,
        "q45_decontaminate": q45_decontaminate,
        "q46_bigram_lm": q46_bigram_lm,
        "q47_dup_spans": q47_dup_spans,
        "q48_tfidf_topk": q48_tfidf_topk,
        "q49_token_budget": q49_token_budget,
        "q50_mixture_weights": q50_mixture_weights,
        "q51_semdedup": q51_semdedup,
        "q52_unigram_kl": q52_unigram_kl,
        "q53_shard_assign": q53_shard_assign,
        "q54_token_sequences": q54_token_sequences,
        "q55_incremental_dedup": q55_incremental_dedup,
        "q56_chunk_sequences": q56_chunk_sequences,
        "q58_gopher_rules": q58_gopher_rules,
        "q59_ccnet_buckets": q59_ccnet_buckets,
        "q60_corpus_rollup": q60_corpus_rollup,
        "q61_length_profile": q61_length_profile,
        "q62_source_leakage": q62_source_leakage,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q01_tumbling_ohlc": SQL_Q01,
        "q02_data_quality": SQL_Q02,
        "q03_lag_lead": SQL_Q03,
        "q04_rolling": SQL_Q04,
        "q05_sessionize": SQL_Q05,
        "q06_fill": _sql_q06_fill(),
        "q07_asof_modes": _sql_q07_modes(),
        "q08_warmup_filter": SQL_Q08,
        "q09_topk": SQL_Q09,
        "q10_norm_binning": _sql_q10_norm(),
        "q11_forward_window": SQL_Q11,
        "q12_tpch_q1": SQL_Q12,
        "q13_feature_stats": SQL_Q13,
        "q14_dedup_exact": SQL_Q14,
        "q15_pair_similarity": _sql_q15_pairs(),
        "q18_ann_methods": _sql_q18_ann(),
        "q19_text_quality": SQL_Q19,
        "q20_langid": SQL_Q20,
        "q21_doc_signals": _sql_q21_signals(),
        "q22_multimodal": _sql_q22_multimodal(),
        "q24_decayed_mean": SQL_Q24,
        "q26_embedding_stats": SQL_Q26,
        "q27_join_agg": SQL_Q27,
        "q30_hash_split": SQL_Q30,
        "q31_samplers": _sql_q31_samplers(),
        "q33_top_ngrams": SQL_Q33,
        "q34_pack_sequences": SQL_Q34,
        "q38_dedup_clusters": _sql_q38(),
        "q39_repetition": SQL_Q39,
        "q40_multimodal_resize": _sql_q40(),
        "q41_session_window": SQL_Q41,
        "q43_bpe_encode": _sql_q43(),
        "q44_dedup_keep_best": _sql_q44(),
        "q45_decontaminate": SQL_Q45,
        "q46_bigram_lm": SQL_Q46,
        "q47_dup_spans": SQL_Q47,
        "q48_tfidf_topk": SQL_Q48,
        "q49_token_budget": SQL_Q49,
        "q50_mixture_weights": SQL_Q50,
        "q51_semdedup": SQL_Q51,
        "q52_unigram_kl": SQL_Q52,
        "q53_shard_assign": SQL_Q53,
        "q54_token_sequences": _sql_q54(),
        "q55_incremental_dedup": _sql_q55(),
        "q56_chunk_sequences": _sql_q56(),
        "q58_gopher_rules": SQL_Q58,
        "q59_ccnet_buckets": SQL_Q59,
        "q60_corpus_rollup": SQL_Q60,
        "q61_length_profile": SQL_Q61,
        "q62_source_leakage": SQL_Q62,
    }
