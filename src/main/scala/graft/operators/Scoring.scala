package graft.operators

import graft.Q
import graft.io.Tables
import graft.retrieval.Score
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The scoring / ranking / learning-aggregation pack — the Spark
  * expression of the reference's core retrieval math:
  *  - R2 recency exponential decay (reference: alma/retrieval/scoring.py:271-293,
  *    half-life 30 days, injected as-of timestamp — never wall clock);
  *  - R1 4-factor composite score with normalized weights
  *    (scoring.py:15-37, 96-121; defaults 0.4/0.3/0.2/0.1);
  *    both built from [[graft.retrieval.Score]], the facade's definition;
  *  - R4/F6 threshold + deterministic top-k (scoring.py:295-310);
  *  - R11 feedback aggregation `(used+up-ignored-down)/total`
  *    (alma/types.py:382-420) and R10 feedback-blended re-rank with
  *    weight 0.15 (alma/retrieval/feedback.py:138-230);
  *  - A1/A2 heuristic and anti-pattern promotion aggregations
  *    (alma/learning/protocols.py:163-279);
  *  - A8 IR metric aggregations Recall@K / Precision@K / MRR
  *    (benchmarks/longmemeval/metrics.py:63-265).
  *
  * Everything is a single column expression or a groupBy aggregate —
  * map-side combinable, no driver loops, no wall-clock reads.
  */
object Scoring {

  /** Injected "now" for all decay math (SURVEY §7.4: determinism). */
  val AsOf = "2024-03-01 00:00:00"

  /** [[AsOf]] as epoch micros. */
  private[operators] def asOfUs: Column = unix_micros(to_timestamp(lit(AsOf)))

  // R2: pure recency decay per event.
  private def decayScores(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), round(Score.recency(col("ts"), asOfUs), 6).as("recency"))
      .orderBy("event_id")

  private val decaySql =
    """WITH e AS (SELECT event_id, ts::TIMESTAMP AS ts FROM events)
      |SELECT event_id,
      |  round(pow(0.5, ((epoch_us(TIMESTAMP '2024-03-01 00:00:00') - epoch_us(ts))::DOUBLE / 86400000000.0) / 30.0), 6) AS recency
      |FROM e ORDER BY event_id""".stripMargin

  /** The 4-factor score over events (shared by the composite and
    * re-rank queries), built from [[Score]]: sim proxy: value scaled;
    * success: the outcome rule over "purchase succeeded"
    * (scoring.py:139-151); confidence: metadata k scaled.
    */
  private[operators] def scored(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).withColumn("success", col("event_type") === "purchase")
    val sim = least(col("value") / lit(200.0), lit(1.0))
    val rec = Score.recency(col("ts"), asOfUs)
    val succ = Score.Outcomes.success
    val conf = least(get_json_object(col("props"), "$.k").cast("double") / lit(100.0), lit(1.0))
    e.select(
      col("event_id"), col("user_id"), col("event_type"),
      round(sim, 6).as("sim"),
      round(rec, 6).as("recency"),
      round(succ, 6).as("success"),
      round(conf, 6).as("confidence"),
      round(Score.composite(Score.DefaultWeights, sim, rec, succ, conf), 6).as("score"))
  }

  private[operators] val scoredSql =
    """SELECT event_id, user_id, event_type,
      |  round(least(value / 200.0, 1.0), 6) AS sim,
      |  round(pow(0.5, ((epoch_us(TIMESTAMP '2024-03-01 00:00:00') - epoch_us(ts::TIMESTAMP))::DOUBLE / 86400000000.0) / 30.0), 6) AS recency,
      |  CASE WHEN event_type = 'purchase' THEN 1.0::DOUBLE ELSE 0.3::DOUBLE END AS success,
      |  round(least(CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0, 1.0), 6) AS confidence,
      |  round(0.4 * least(value / 200.0, 1.0)
      |      + 0.3 * pow(0.5, ((epoch_us(TIMESTAMP '2024-03-01 00:00:00') - epoch_us(ts::TIMESTAMP))::DOUBLE / 86400000000.0) / 30.0)
      |      + 0.2 * (CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.3 END)
      |      + 0.1 * least(CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0, 1.0), 6) AS score
      |FROM events""".stripMargin

  // R1+R4+F6: composite score → threshold ≥ 0.2 → deterministic top-100.
  private def compositeScore(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .filter(col("score") >= 0.2)
      .orderBy(col("score").desc, col("event_id"))
      .limit(100)

  private val compositeScoreSql =
    s"""WITH scored AS ($scoredSql)
       |SELECT * FROM scored WHERE score >= 0.2
       |ORDER BY score DESC, event_id LIMIT 100""".stripMargin

  /** R11 feedback aggregation: pivot signal counts per user; signals map
    * click→used, purchase→up, view→ignored, error→down.
    */
  private def feedbackAgg(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val n = (t: String) => sum(when(col("event_type") === t, 1L).otherwise(0L))
    val total = col("n_used") + col("n_up") + col("n_ignored") + col("n_down")
    e.groupBy("user_id")
      .agg(
        n("click").as("n_used"), n("purchase").as("n_up"),
        n("view").as("n_ignored"), n("error").as("n_down"))
      .withColumn("feedback_score",
        when(total === 0, lit(0.0)).otherwise(
          round((col("n_used") + col("n_up") - col("n_ignored") - col("n_down")).cast("double") / total, 6)))
      .orderBy("user_id")
  }

  private val feedbackAggSql =
    """SELECT user_id, n_used, n_up, n_ignored, n_down,
      |  CASE WHEN (n_used + n_up + n_ignored + n_down) = 0 THEN 0.0::DOUBLE
      |       ELSE round((n_used + n_up - n_ignored - n_down)::DOUBLE / (n_used + n_up + n_ignored + n_down), 6)
      |  END AS feedback_score
      |FROM (
      |  SELECT user_id,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_used,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_up,
      |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_ignored,
      |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_down
      |  FROM events GROUP BY user_id) t
      |ORDER BY user_id""".stripMargin

  // R10+J4: feedback re-rank — left-join scored items to the (small)
  // per-user feedback summary (broadcast side) and blend with w=0.15.
  private def feedbackRerank(s: SparkSession, dir: String): DataFrame = {
    val fb = feedbackAgg(s, dir).select("user_id", "feedback_score")
    scored(s, dir)
      .join(broadcast(fb), Seq("user_id"), "left")
      .withColumn("final_score",
        round(Score.feedbackBlend(col("score"), coalesce(col("feedback_score"), lit(0.0))), 6))
      .select("event_id", "user_id", "score", "feedback_score", "final_score")
      .orderBy(col("final_score").desc, col("event_id"))
      .limit(50)
  }

  private val feedbackRerankSql =
    s"""WITH scored AS ($scoredSql),
       |fb AS (
       |  SELECT user_id,
       |    CASE WHEN (n_used + n_up + n_ignored + n_down) = 0 THEN 0.0::DOUBLE
       |         ELSE round((n_used + n_up - n_ignored - n_down)::DOUBLE / (n_used + n_up + n_ignored + n_down), 6)
       |    END AS feedback_score
       |  FROM (
       |    SELECT user_id,
       |      sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_used,
       |      sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_up,
       |      sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_ignored,
       |      sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_down
       |    FROM events GROUP BY user_id) t)
       |SELECT s.event_id, s.user_id, s.score, fb.feedback_score,
       |  round(0.85 * s.score + 0.15 * (coalesce(fb.feedback_score, 0.0) + 1.0) / 2.0, 6) AS final_score
       |FROM scored s LEFT JOIN fb ON s.user_id = fb.user_id
       |ORDER BY final_score DESC, s.event_id LIMIT 50""".stripMargin

  // A1 heuristic promotion: outcomes grouped per key; promote when
  // count ≥ 3 and success ratio > 0.5; confidence = ratio.
  private def promoteHeuristics(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type").isin("purchase", "error"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("occurrence_count"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("success_count"))
      .withColumn("confidence",
        round(col("success_count").cast("double") / col("occurrence_count"), 6))
      .filter(col("occurrence_count") >= 3 && col("confidence") > 0.5)
      .orderBy("user_id")

  private val promoteHeuristicsSql =
    """SELECT user_id, occurrence_count, success_count, confidence FROM (
      |  SELECT user_id, count(*)::BIGINT AS occurrence_count,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS success_count,
      |    round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS confidence
      |  FROM events WHERE event_type IN ('purchase', 'error')
      |  GROUP BY user_id) t
      |WHERE occurrence_count >= 3 AND confidence > 0.5
      |ORDER BY user_id""".stripMargin

  // A2 anti-pattern promotion: ≥2 similar failures (grouped by error
  // class = metadata k mod 10) per user.
  private def promoteAntipatterns(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "error")
      .withColumn("error_class", pmod(get_json_object(col("props"), "$.k").cast("long"), lit(10)))
      .groupBy("user_id", "error_class")
      .agg(count(lit(1)).as("occurrence_count"))
      .filter(col("occurrence_count") >= 2)
      .orderBy("user_id", "error_class")

  private val promoteAntipatternsSql =
    """SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS error_class,
      |  count(*)::BIGINT AS occurrence_count
      |FROM events WHERE event_type = 'error'
      |GROUP BY user_id, error_class
      |HAVING count(*) >= 2
      |ORDER BY user_id, error_class""".stripMargin

  // A8 IR metrics per user: rank events by value; relevant = purchase.
  // NDCG@10 uses the binary-graded DCG with the log2(rank+1) discount
  // (reference benchmarks/longmemeval/metrics.py:46-55); the ideal DCG
  // packs the min(n_rel, 10) relevant items into the top ranks.
  private def irMetrics(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("value").desc, col("event_id"))
    val idcg = expr(
      "aggregate(sequence(1L, least(n_rel, 10L)), cast(0.0 as double), " +
        "(acc, i) -> acc + 1.0 / log2(cast(i as double) + 1.0))")
    Tables.events(s, dir)
      .withColumn("rnk", row_number().over(w))
      .withColumn("rel", when(col("event_type") === "purchase", 1L).otherwise(0L))
      .groupBy("user_id")
      .agg(
        sum("rel").as("n_rel"),
        sum(when(col("rnk") <= 10, col("rel")).otherwise(0L)).as("hits10"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_hit"),
        sum(when(col("rnk") <= 10 && col("rel") === 1L,
          lit(1.0) / log2(col("rnk").cast("double") + lit(1.0))).otherwise(lit(0.0))).as("dcg10"))
      .select(
        col("user_id"),
        col("n_rel"), col("hits10"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(round(col("hits10").cast("double") / col("n_rel"), 6)).as("recall_at_10"),
        round(col("hits10").cast("double") / lit(10.0), 6).as("precision_at_10"),
        when(col("first_hit").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("first_hit"), 6)).as("mrr"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(round(col("dcg10") / idcg, 6)).as("ndcg_at_10"))
      .orderBy("user_id")
  }

  private val irMetricsSql =
    """SELECT user_id, n_rel, hits10,
      |  CASE WHEN n_rel = 0 THEN 0.0::DOUBLE ELSE round(hits10::DOUBLE / n_rel, 6) END AS recall_at_10,
      |  round(hits10::DOUBLE / 10.0, 6) AS precision_at_10,
      |  CASE WHEN first_hit IS NULL THEN 0.0::DOUBLE ELSE round(1.0::DOUBLE / first_hit, 6) END AS mrr,
      |  CASE WHEN n_rel = 0 THEN 0.0::DOUBLE
      |       ELSE round(dcg10 / list_sum(list_transform(range(1, least(n_rel, 10)::INT + 1),
      |                                                  i -> 1.0::DOUBLE / log2(i + 1))), 6)
      |  END AS ndcg_at_10
      |FROM (
      |  SELECT user_id,
      |    sum(rel)::BIGINT AS n_rel,
      |    sum(CASE WHEN rnk <= 10 THEN rel ELSE 0 END)::BIGINT AS hits10,
      |    min(CASE WHEN rel = 1 THEN rnk END) AS first_hit,
      |    sum(CASE WHEN rnk <= 10 AND rel = 1 THEN 1.0::DOUBLE / log2(rnk + 1) ELSE 0.0::DOUBLE END) AS dcg10
      |  FROM (
      |    SELECT user_id,
      |      row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rnk,
      |      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
      |    FROM events) r
      |  GROUP BY user_id) t
      |ORDER BY user_id""".stripMargin

  // A8 per-type metric breakdown (reference benchmarks/longmemeval/
  // metrics.py:215-265 groups QuestionResults by question_type and
  // recomputes each metric per group; BASELINE.md "Per-type R@5" rows).
  // The events table has no question_type, so the cohort key is the
  // deterministic user_id % 4 — the rollup shape (per-key averages of
  // the per-question metrics + group size) is what's under test.
  private def irMetricsByType(s: SparkSession, dir: String): DataFrame =
    irMetrics(s, dir)
      .withColumn("cohort", col("user_id") % 4)
      .groupBy("cohort")
      .agg(
        count(lit(1)).as("n_users"),
        round(avg("recall_at_10"), 6).as("recall_at_10"),
        round(avg("precision_at_10"), 6).as("precision_at_10"),
        round(avg("mrr"), 6).as("mrr"),
        round(avg("ndcg_at_10"), 6).as("ndcg_at_10"))
      .orderBy("cohort")

  private val irMetricsByTypeSql =
    s"""SELECT user_id % 4 AS cohort,
      |  count(*)::BIGINT AS n_users,
      |  round(avg(recall_at_10), 6) AS recall_at_10,
      |  round(avg(precision_at_10), 6) AS precision_at_10,
      |  round(avg(mrr), 6) AS mrr,
      |  round(avg(ndcg_at_10), 6) AS ndcg_at_10
      |FROM (${irMetricsSql.replace("ORDER BY user_id", "")}) per_user
      |GROUP BY cohort ORDER BY cohort""".stripMargin

  // memory_strength model (decay family composition): exponential decay
  // × access bonus × importance factor, plus the linear/step curves.
  private def memoryStrength(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DecayFunctions._
    val days = ageDays(col("ts"), asOfUs)
    val access = get_json_object(col("props"), "$.k").cast("double")
    val importance = col("value") / lit(200.0)
    Tables.events(s, dir)
      .select(
        col("event_id"),
        round(exponentialDecay(days, 30.0), 6).as("exp_decay"),
        round(linearDecay(days, 90.0), 6).as("lin_decay"),
        round(stepDecay(days, 30.0, 0.2), 6).as("step_decay"),
        round(strength(days, access, importance), 6).as("strength"))
      .orderBy("event_id")
  }

  private val memoryStrengthSql =
    """WITH e AS (
      |  SELECT event_id,
      |    (epoch_us(TIMESTAMP '2024-03-01 00:00:00') - epoch_us(ts::TIMESTAMP))::DOUBLE / 86400000000.0 AS days,
      |    CAST(json_extract_string(props, '$.k') AS DOUBLE) AS access,
      |    value / 200.0 AS importance
      |  FROM events)
      |SELECT event_id,
      |  round(exp(-0.693 * days / 30.0), 6) AS exp_decay,
      |  round(greatest(0.0::DOUBLE, 1.0::DOUBLE - days / 90.0), 6) AS lin_decay,
      |  round(CASE WHEN days <= 30.0 THEN 1.0::DOUBLE ELSE 0.2::DOUBLE END, 6) AS step_decay,
      |  round(exp(-0.693 * days / 30.0)
      |      * (1.0::DOUBLE + 0.1 * ln(1.0::DOUBLE + access))
      |      * (0.5::DOUBLE + 0.5 * least(importance, 1.0)), 6) AS strength
      |FROM e ORDER BY event_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q_memory_strength", memoryStrength, Some(memoryStrengthSql)),
    Q("q_decay_scores", decayScores, Some(decaySql)),
    Q("q_composite_score", compositeScore, Some(compositeScoreSql)),
    Q("q_feedback_agg", feedbackAgg, Some(feedbackAggSql)),
    Q("q_feedback_rerank", feedbackRerank, Some(feedbackRerankSql)),
    Q("q_promote_heuristics", promoteHeuristics, Some(promoteHeuristicsSql)),
    Q("q_promote_antipatterns", promoteAntipatterns, Some(promoteAntipatternsSql)),
    Q("q_ir_metrics", irMetrics, Some(irMetricsSql)),
    Q("q_ir_metrics_by_type", irMetricsByType, Some(irMetricsByTypeSql)))
}
