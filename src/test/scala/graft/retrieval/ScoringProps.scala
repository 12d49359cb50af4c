package graft.retrieval

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the score/decay algebra (mirrors the
  * reference's unit pyramid: tests/unit/test_scoring.py — weight
  * normalization, decay monotonicity, MMR/budget invariants).
  */
object ScoringProps extends Properties("scoring") {

  private val weightGen = Gen.choose(0.01, 10.0)

  property("mode weight normalization sums to 1") =
    Prop.forAll(weightGen, weightGen, weightGen, weightGen) { (a, b, c, d) =>
      val m = ModeConfig("t", 5, 0.2, a, b, c, d).normalized
      math.abs((m.wSim + m.wRecency + m.wSuccess + m.wConfidence) - 1.0) < 1e-9
    }

  property("normalization preserves weight ratios") =
    Prop.forAll(weightGen, weightGen) { (a, b) =>
      val m = ModeConfig("t", 5, 0.2, a, b, 1.0, 1.0).normalized
      math.abs(m.wSim / m.wRecency - a / b) < 1e-6
    }

  private val DayUs = 86400000000L
  private val AsOfUs = 1709251200000000L // 2024-03-01 00:00:00 UTC

  /** The shipped [[Score.recency]] column, evaluated at ages given in
    * µs (a local relation: the driver evaluates it, no job runs).
    */
  private def decay(agesUs: Long*): Seq[Double] = {
    val s = graft.SparkSpec.session
    import s.implicits._
    import org.apache.spark.sql.functions.{col, lit, timestamp_micros}
    agesUs.map(AsOfUs - _).toDF("us")
      .select(Score.recency(timestamp_micros(col("us")), lit(AsOfUs)))
      .collect().map(_.getDouble(0)).toSeq
  }

  property("recency decay is monotonically decreasing in age") =
    Prop.forAll(Gen.choose(0L, 365 * DayUs), Gen.choose(DayUs / 10, 365 * DayUs)) { (d, delta) =>
      val Seq(younger, older) = decay(d, d + delta)
      older < younger
    }

  property("recency decay halves at the half-life") =
    Prop.forAll(Gen.choose(0L, 365 * DayUs)) { d =>
      val Seq(now, later) = decay(d, d + 30 * DayUs)
      math.abs(later - now / 2.0) < 1e-12
    }

  property("decay stays in (0, 1] for non-negative age") =
    Prop.forAll(Gen.choose(0L, 10000 * DayUs)) { d =>
      val Seq(v) = decay(d); v > 0.0 && v <= 1.0
    }

  private val candGen: Gen[PostProcess.Candidate] = for {
    id <- Gen.choose(0L, 1000L)
    score <- Gen.choose(0.0, 1.0)
    sim <- Gen.choose(0.0, 1.0)
    len <- Gen.choose(1, 400)
  } yield PostProcess.Candidate(id, score, sim, "x" * len)

  private val candsGen = Gen.listOfN(30, candGen).map(_.distinctBy(_.id))

  property("MMR returns at most k, all from the input, no duplicates") =
    Prop.forAll(candsGen, Gen.choose(1, 20)) { (cs, k) =>
      val out = PostProcess.mmr(cs, lambda = 0.5, k = k)
      out.size == math.min(k, cs.size) &&
        out.forall(cs.contains) && out.map(_.id).distinct.size == out.size
    }

  property("MMR with lambda=0 is pure score order") =
    Prop.forAll(candsGen) { cs =>
      val out = PostProcess.mmr(cs, lambda = 0.0, k = cs.size)
      out == cs.sortBy(c => (-c.score, c.id))
    }

  property("budget selection never exceeds the total token budget") =
    Prop.forAll(candsGen, Gen.choose(10, 500)) { (cs, budget) =>
      val kept = PostProcess.budgetSelect(Seq(cs), perTierTokens = budget, totalTokens = budget)
      kept.map(c => PostProcess.estimateTokens(c.text)).sum <= budget
    }

  property("prompt projection respects the token cap") =
    Prop.forAll(candsGen, Gen.choose(20, 300)) { (cs, cap) =>
      PostProcess.estimateTokens(PostProcess.toPrompt(cs, cap)) <= cap
    }

  // ---- BPE subword estimator (tokenizer-primary path) ------------------

  private val wordGen = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString).map(_.take(12))
  private val textGen = Gen.listOfN(20, wordGen).map(_.mkString(" "))
  private val corpusGen = Gen.nonEmptyListOf(wordGen).map(_.take(40))

  private def trained(corpus: List[String], n: Int): Seq[(String, String)] =
    graft.functions.Bpe.trainMerges(
      corpus.groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }.toSeq.sortBy(_._1), n)

  property("BPE with zero merges counts pretoken characters (0 when none)") =
    Prop.forAll(textGen) { text =>
      val expect = java.util.regex.Pattern.compile(graft.functions.Bpe.PretokenRe)
        .matcher(text).results().mapToInt(_.group().length).sum()
      graft.functions.Bpe.countSubwords(text, Nil) == expect
    }

  property("more BPE merges never increase the subword count") =
    Prop.forAll(corpusGen, textGen, Gen.choose(0, 12)) { (corpus, text, n) =>
      val merges = trained(corpus, 12)
      graft.functions.Bpe.countSubwords(text, merges.take(n + 1)) <=
        graft.functions.Bpe.countSubwords(text, merges.take(n))
    }

  property("BPE count is bounded by [pretokens, chars] of the text") =
    Prop.forAll(corpusGen, textGen) { (corpus, text) =>
      val merges = trained(corpus, 12)
      val n = graft.functions.Bpe.countSubwords(text, merges)
      val nTok = java.util.regex.Pattern.compile(graft.functions.Bpe.PretokenRe)
        .matcher(text).results().count().toInt
      n >= nTok && n <= text.replace(" ", "").length
    }

  property("budget selection under the BPE estimator respects the budget") =
    Prop.forAll(candsGen, corpusGen, Gen.choose(10, 500)) { (cs, corpus, budget) =>
      val costOf = PostProcess.estimatorFor(trained(corpus, 8))
      val kept = PostProcess.budgetSelect(Seq(cs), perTierTokens = budget,
        totalTokens = budget, costOf = costOf)
      kept.map(c => costOf(c.text)).sum <= budget
    }

  property("estimatorFor with no merges is the chars/4 fallback") =
    Prop.forAll(textGen) { text =>
      PostProcess.estimatorFor(Nil)(text) == PostProcess.estimateTokens(text)
    }

  property("BPE training is independent of vocabulary order") =
    Prop.forAll(corpusGen, Gen.choose(1, 10)) { (corpus, n) =>
      val freqs = corpus.groupBy(identity).map { case (w, ws) => (w, ws.size.toLong) }.toSeq
      graft.functions.Bpe.trainMerges(freqs.sortBy(_._1), n) ==
        graft.functions.Bpe.trainMerges(freqs.sortBy(_._1).reverse, n)
    }
}
