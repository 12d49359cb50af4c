package graft.retrieval

import graft.functions.DecayFunctions
import graft.storage.MemoryType
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The retrieval score, defined once: both facade read paths
  * (`Alma.retrieve`, `Alma.retrieveBatch`) and the oracle-checked
  * scoring queries build their columns here, so the DuckDB oracle checks
  * the code the facade runs (reference alma/retrieval/scoring.py:15-37
  * weights, :77-269 per-type rules, :271-293 recency; feedback.py:138-230).
  */
object Score {

  val HalfLifeDays = 30.0

  /** R2: 0.5^(age/30 d) of a timestamp column at an injected as-of (µs). */
  def recency(ts: Column, asOfUs: Column): Column =
    pow(lit(0.5), DecayFunctions.ageDays(ts, asOfUs) / lit(HalfLifeDays))

  final case class Weights(sim: Double, recency: Double, success: Double, confidence: Double)

  /** The reference's ScoringConfig defaults. */
  val DefaultWeights = Weights(0.4, 0.3, 0.2, 0.1)

  /** R1: the 4-factor composite, summed in this order. */
  def composite(w: Weights, sim: Column, rec: Column, success: Column, confidence: Column): Column =
    lit(w.sim) * sim + lit(w.recency) * rec + lit(w.success) * success + lit(w.confidence) * confidence

  /** R10: blend a feedback score in [-1, 1] into a base score. */
  def feedbackBlend(base: Column, feedback: Column, weight: Double = graft.Alma.FeedbackWeight): Column =
    lit(1.0 - weight) * base + lit(weight) * (feedback + lit(1.0)) / lit(2.0)

  /** One memory type's score inputs over its stored columns: the
    * timestamp recency decays from, the success and confidence factors,
    * and the flag the diagnostic failure boost keys on.
    */
  final case class TypeRule(memoryType: String, recencyCol: String,
      success: Column, confidence: Column, failed: Option[Column] = None)

  val Heuristics = TypeRule(MemoryType.Heuristics, "lastValidated",
    col("successCount").cast("double") /
      when(col("occurrenceCount") === 0, 1L).otherwise(col("occurrenceCount")),
    col("confidence"))
  val Outcomes = TypeRule(MemoryType.Outcomes, "timestamp",
    when(col("success"), 1.0).otherwise(0.3), lit(1.0), failed = Some(!col("success")))
  val Knowledge = TypeRule(MemoryType.Knowledge, "lastVerified", lit(1.0), col("confidence"))
  val AntiPatterns = TypeRule(MemoryType.AntiPatterns, "lastSeen",
    least(col("occurrenceCount").cast("double") / lit(10.0), lit(1.0)), lit(1.0))

  /** Every scored type, in the facade's branch order. */
  val Rules: Seq[TypeRule] = Seq(Heuristics, Outcomes, Knowledge, AntiPatterns)
}
