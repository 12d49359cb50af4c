package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.functions.HashEmbedder
import graft.retrieval.Modes
import graft.storage._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** `retrieveBatch` and `retrieve` score from one definition
  * ([[graft.retrieval.Score]]), so in the modes with no boost, no MMR
  * and no recorded feedback they must rank every scored type alike.
  * Each sample is a random small store; scores may differ by the two
  * cosine kernels' rounding, so they are compared within 1e-9 and ids
  * whose scores lie within 1e-9 of each other form one tie set.
  */
object RetrieveParityProps extends Properties("retrieve-parity") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private val Tol = 1e-9
  private val Project = "p"
  private val Agent = "a"
  private val Words = IndexedSeq("deploy", "cache", "index", "retry", "schema",
    "latency", "rollback", "queue", "token", "shard")
  private val Base = Timestamp.valueOf("2024-03-01 00:00:00").getTime
  private val AsOf = new Timestamp(Base)

  private def text(r: scala.util.Random): String =
    Seq.fill(1 + r.nextInt(4))(Words(r.nextInt(Words.size))).mkString(" ")
  private def ts(r: scala.util.Random) = new Timestamp(Base - (r.nextDouble() * 90 * 86400000L).toLong)
  private def emb(s: String) = HashEmbedder.embed(s)

  /** A random store: 1–12 rows of each scored type, written to a fresh dir. */
  private def randomStore(seed: Long): Alma = {
    val r = new scala.util.Random(seed)
    val store = new MemoryStore(SparkSpec.session, Files.createTempDirectory("parity").toString)
    def n = 1 + r.nextInt(12)
    store.saveHeuristics(Seq.tabulate(n) { i =>
      val (cond, strat) = (text(r), text(r))
      val occ = r.nextInt(6).toLong
      Heuristic(s"h$i", Agent, Project, cond, strat, r.nextDouble(), occ,
        if (occ == 0) 0L else r.nextInt(occ.toInt + 1).toLong, ts(r), ts(r), emb(s"$cond $strat"), Map.empty)
    })
    store.saveOutcomes(Seq.tabulate(n) { i =>
      val desc = text(r)
      Outcome(s"o$i", Agent, Project, "t", desc, r.nextBoolean(), text(r), 0L, None, ts(r),
        emb(desc), Map.empty)
    })
    store.saveKnowledge(Seq.tabulate(n) { i =>
      val fact = text(r)
      DomainKnowledge(s"k$i", Agent, Project, "d", fact, "s", r.nextDouble(), ts(r), emb(fact), Map.empty)
    })
    store.saveAntiPatterns(Seq.tabulate(n) { i =>
      val why = text(r)
      AntiPattern(s"ap$i", Agent, Project, text(r), why, "avoid", r.nextInt(15).toLong, ts(r), ts(r),
        emb(why), Map.empty)
    })
    new Alma(store, Project)
  }

  /** Same length, scores equal within [[Tol]] rank by rank, and equal id
    * sets per tie set. A tie set cut by the top-k limit may hold
    * different ids on each side, so the last one only has to agree in
    * size.
    */
  private def sameRanking(a: Seq[(String, Double)], b: Seq[(String, Double)], k: Int): Boolean =
    a.size == b.size && a.zip(b).forall { case ((_, x), (_, y)) => math.abs(x - y) <= Tol } && {
      val cuts = a.indices.filter(i => i == 0 || a(i - 1)._2 - a(i)._2 > Tol) :+ a.size
      cuts.sliding(2).filter(_.size == 2).forall { case Seq(from, until) =>
        (until == a.size && a.size == k) ||
          a.slice(from, until).map(_._1).toSet == b.slice(from, until).map(_._1).toSet
      }
    }

  property("retrieveBatch(Seq(q)) ranks every scored type like retrieve(q)") =
    Prop.forAll(Gen.choose(0L, Long.MaxValue), Gen.listOfN(3, Gen.oneOf(Words))) { (seed, qw) =>
      val alma = randomStore(seed)
      val q = qw.mkString(" ")
      Seq(Modes.Recall, Modes.Learning, Modes.Similarity, Modes.Benchmark).forall { mode =>
        val m = mode.normalized
        val slice = alma.retrieve(q, Agent, AsOf, mode = mode)
        val scores = alma.fusedPlan(q, Agent, AsOf, m.topK, m, Map.empty).collect()
          .map(f => Seq(f.h.map(_.id), f.o.map(_.id), f.dk.map(_.id), f.ap.map(_.id)).flatten
            .headOption.getOrElse("") -> f.score).toMap
        val batch = alma.retrieveBatch(Seq(q), Agent, AsOf, mode = mode).collect()
          .groupBy(_.getAs[String]("memory_type"))
          .map { case (t, rows) => t -> rows.sortBy(_.getAs[Int]("rank"))
            .map(r => r.getAs[String]("id") -> r.getAs[Double]("score")).toSeq }
        val single = Map(
          MemoryType.Heuristics -> slice.heuristics.map(_.id),
          MemoryType.Outcomes -> slice.outcomes.map(_.id),
          MemoryType.Knowledge -> slice.knowledge.map(_.id),
          MemoryType.AntiPatterns -> slice.antiPatterns.map(_.id))
        single.forall { case (t, ids) =>
          val ok = sameRanking(ids.map(id => id -> scores(id)), batch.getOrElse(t, Nil), m.topK)
          if (!ok) println(s"[parity] ${mode.name} $t seed=$seed q='$q' retrieve=" +
            ids.map(id => id -> scores(id)) + " batch=" + batch.getOrElse(t, Nil))
          ok
        }
      }
    }
}
