package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.{CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.Random

import graft.Alma
import graft.functions.HashEmbedder
import graft.retrieval.{ModeConfig, Modes}
import graft.storage._
import org.apache.spark.sql.SparkSession

/** The two online workloads: closed-loop agents calling the `graft.Alma`
  * facade, as an agent runtime would.
  */
object Online {
  val Project = "bench"
  val Agents = IndexedSeq("agent-a", "agent-b")
  /** 2026-01-01T00:00:00Z: the simulated clock's origin. */
  val Base = 1767225600000L
  val Day = 86400000L

  val Domains = IndexedSeq("testing", "api", "database", "frontend", "deploy", "security", "performance", "docs")
  val TaskTypes = IndexedSeq("api_testing", "form_testing", "database_validation", "general")
  val Errors = IndexedSeq("timeout waiting for element", "connection refused", "assertion mismatch")
  /** Words for facts and queries. None of them is a `Modes.infer` keyword,
    * so a query's mode is set only by the keyword the generator puts in.
    */
  val Vocab = IndexedSeq(
    "cache", "index", "query", "schema", "token", "retry", "timeout", "latency", "payload", "header",
    "session", "cookie", "login", "form", "button", "modal", "endpoint", "route", "migration", "rollback",
    "replica", "shard", "lock", "deadlock", "transaction", "commit", "branch", "merge", "build", "artifact",
    "container", "cluster", "node", "pod", "secret", "cert", "cipher", "hash", "audit", "metric",
    "trace", "log", "alert", "budget", "quota", "flaky", "fixture", "mock", "stub", "assert",
    "snapshot", "selector", "locator", "viewport", "render", "bundle", "minify", "compress", "upload", "download",
    "stream", "queue", "worker", "scheduler", "cron", "webhook", "callback", "promise", "thread", "heap")
  /** One keyword for each mode `Modes.infer` can return; the empty one
    * leaves it at Precise. There is no record of real agents' traffic to
    * weight them by, so every mode is equally likely: an assumption, and
    * `mix.<mode>` reports the share each mode actually got.
    */
  val ModeWords = IndexedSeq("", "why did it fail", "overview", "recall", "pattern", "similar")
  val ModeNames: Seq[String] = ModeWords.map(w => Modes.infer(w).name)
  /** Boost-free, MMR-free modes, where `retrieve` and `retrieveBatch`
    * must rank knowledge identically.
    */
  val ParityWords = IndexedSeq("recall" -> Modes.Recall, "pattern" -> Modes.Learning,
    "similar" -> Modes.Similarity)

  def words(r: Random, n: Int): String = Seq.fill(n)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
  def ts(ms: Long) = new Timestamp(ms)

  // ---- store contents ---------------------------------------------------

  def knowledgeRow(seed: Long, i: Long, agent: String): DomainKnowledge = {
    val r = Seeds.rng(seed, 1000L + i)
    val domain = Domains(r.nextInt(Domains.size))
    val fact = s"$domain ${words(r, 6)}"
    DomainKnowledge(id = f"k-$i%07d", agent = agent, projectId = Project, domain = domain,
      fact = fact, source = "seed", confidence = 0.5 + 0.5 * r.nextDouble(),
      lastVerified = ts(Base - (r.nextDouble() * 60 * Day).toLong),
      embedding = HashEmbedder.embed(s"$domain $fact"), metadata = Map.empty)
  }

  /** Outcomes, heuristics, anti-patterns and preferences for `agents`, so
    * that every per-type branch of a retrieve returns rows. Failing
    * outcomes carry an error, so anti-pattern promotion has material.
    */
  def seedSmallTables(store: MemoryStore, r: Random, agents: Seq[String]): Unit = {
    val outcomes = for (a <- agents; i <- 0 until 6) yield {
      val tt = TaskTypes(i % TaskTypes.size)
      val ok = i % 3 != 0
      val desc = s"$tt ${words(r, 4)}"
      val strategy = if (ok) s"use $tt playbook ${i % 3}" else s"seed failing approach $a $i"
      Outcome(id = s"o-$a-$i", agent = a, projectId = Project, taskType = tt, taskDescription = desc,
        success = ok, strategyUsed = strategy, durationMs = 100L + r.nextInt(900),
        errorMessage = if (ok) None else Some(Errors(i % Errors.size)),
        timestamp = ts(Base - (r.nextDouble() * 30 * Day).toLong),
        embedding = HashEmbedder.embed(s"$desc $strategy"), metadata = Map.empty)
    }
    val heuristics = for (a <- agents; i <- 0 until 3) yield {
      val tt = TaskTypes(i)
      val strategy = s"use $tt playbook $i"
      val t = ts(Base - (r.nextDouble() * 20 * Day).toLong)
      Heuristic(id = s"h-seed-$a-$i", agent = a, projectId = Project, condition = tt, strategy = strategy,
        confidence = 0.6 + 0.3 * r.nextDouble(), occurrenceCount = 5, successCount = 4,
        lastValidated = t, createdAt = t, embedding = HashEmbedder.embed(s"$tt $strategy"), metadata = Map.empty)
    }
    val antiPatterns = for (a <- agents; i <- 0 until 2) yield {
      val t = ts(Base - (r.nextDouble() * 20 * Day).toLong)
      val err = Errors(i % Errors.size)
      AntiPattern(id = s"ap-seed-$a-$i", agent = a, projectId = Project,
        pattern = s"legacy shortcut $a $i", whyBad = err, betterAlternative = s"avoid: legacy shortcut $i",
        occurrenceCount = 3, lastSeen = t, createdAt = t, embedding = HashEmbedder.embed(err), metadata = Map.empty)
    }
    val prefs = (0 until 4).map { i =>
      UserPreference(id = s"p-$i", userId = "user-1",
        category = Seq("communication", "code_style", "workflow")(i % 3),
        preference = s"prefer ${words(r, 3)}", source = "explicit_instruction", confidence = 1.0,
        timestamp = ts(Base - i * Day), metadata = Map.empty)
    }
    store.saveOutcomes(outcomes)
    store.saveHeuristics(heuristics)
    store.saveAntiPatterns(antiPatterns)
    store.savePreferences(prefs)
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Set-up timed `times` times in one JVM: `setup_s` is the median, so
    * one slow build does not move it, and `setup.first_s` is the first,
    * cold one, which a real start pays.
    */
  final case class SetUp(medianS: Double, firstS: Double)

  def timeSetUp(times: Int)(build: Int => Unit): SetUp = {
    val secs = (1 to times).map { i => val t0 = System.nanoTime(); build(i); seconds(t0) }
    Main.log(s"set up ${times}x: ${secs.mkString(" ")}")
    SetUp(Stats.median(secs), secs.head)
  }

  /** Set the store up `times` times in fresh directories and keep the last. */
  def setUpStore(out: String, name: String, times: Int)(build: String => Unit): (String, SetUp) = {
    val roots = (1 to times).map(i => new File(out, s"$name-$i").getAbsolutePath)
    (roots.last, timeSetUp(times)(i => build(roots(i - 1))))
  }

  def e2e(ops: Seq[Op], elapsedS: Double, setupS: Double, readKind: String): Map[String, Double] = {
    val ok = ops.filter(_.ok)
    Map(
      "setup_s" -> setupS,
      "ops_per_s" -> ok.size / elapsedS,
      "read.p50_ms" -> Stats.median(ok.filter(_.kind == readKind).map(_.latencyMs)))
  }

  /** A measured phase: its ops, wall time and the process CPU time it used. */
  final case class Phase(ops: Seq[Op], elapsedS: Double, cpuNs: Long)

  /** Time `loop`, which gets the deadline `seconds` from now. */
  def measure(calls: Calls, seconds: Int)(loop: Long => Unit): Phase = {
    val cpu0 = Stats.processCpuNs()
    val t0 = System.nanoTime()
    Main.log(s"phase start (tracer=${calls.tracer.isDefined})")
    loop(t0 + seconds * 1000000000L)
    Main.log("phase end")
    Phase(calls.all, Online.seconds(t0), Stats.processCpuNs() - cpu0)
  }

  /** Every op of a phase, one JSON object a line. */
  def writeOps(path: String, ops: Seq[Op]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), ops.map { o =>
      Json.obj(Seq("id" -> Json.str(o.id), "kind" -> Json.str(o.kind), "tag" -> Json.str(o.tag),
        "traced" -> o.traced.toString, "client" -> o.client.toString,
        "start_ms" -> o.startMs.toString, "latency_ms" -> Json.num(o.latencyMs), "ok" -> o.ok.toString,
        "error" -> Json.str(o.error))) + "\n"
    }.mkString)

  /** Run the measured phase, the one the end-to-end metrics come from.
    * In a traced run the phase gets a tracer, which the workload switches
    * on for some calls (`Calls.tracing`); the per-layer metrics and
    * spans come from those calls, in the same phase that an untraced run
    * gates. Returns the phase, its per-layer metrics (empty untraced) and
    * the number of Spark jobs no call claims.
    */
  def measured(spark: SparkSession, a: Main.Args, extraLayers: () => Map[String, Double])(
      phase: Calls => Phase): (Phase, Map[String, Double], Long) = {
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val calls = new Calls(spark, tracer)
    val p = try phase(calls) finally calls.tracing(false)
    writeOps(new File(a.out, "ops.jsonl").getPath, p.ops)
    tracer match {
      case None => (p, Map.empty, 0L)
      case Some(tr) =>
        val (layers, stray) = Layers.compute(p.ops, tr, new File(a.out, "spans.jsonl").getPath)
        val cpuPerOp = p.cpuNs / 1e6 / math.max(1, p.ops.count(o => o.ok && o.kind != Layers.ProbeKind))
        (p, layers ++ extraLayers() + ("process.cpu_ms_per_op" -> cpuPerOp), stray)
    }
  }

  /** Tracing overhead of an online phase whose traced and untraced calls
    * interleave: the traced calls' median read latency against the
    * untraced calls', in percent. Interleaving spreads JIT warm-up and
    * host drift over both sides.
    */
  def overheadPct(ops: Seq[Op], readKind: String): Double = {
    def p50(traced: Boolean) =
      Stats.median(ops.filter(o => o.ok && o.kind == readKind && o.traced == traced).map(_.latencyMs))
    100.0 * (p50(true) - p50(false)) / p50(false)
  }

  /** Share of the phase's single retrieves in each mode, and their number. */
  def modeMix(ops: Seq[Op]): Map[String, Double] = {
    val rs = ops.filter(_.kind == "retrieve")
    ModeNames.map(m => s"mix.$m" -> rs.count(_.tag == m).toDouble / math.max(1, rs.size)).toMap +
      ("mix.retrieves" -> rs.size.toDouble)
  }

  /** Data files in a table's committed snapshot, and bytes under the root. */
  def storeLayout(root: String): Map[String, Double] = {
    def files(dir: File): Seq[File] =
      Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def dataFiles(t: String): Double = {
      val marker = new File(root, s"$t/_CURRENT")
      if (!marker.exists()) 0.0
      else files(new File(root, s"$t/${new String(java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8").trim}"))
        .count(_.getName.endsWith(".parquet")).toDouble
    }
    Map("store.files.knowledge" -> dataFiles(MemoryType.Knowledge),
      "store.files.outcomes" -> dataFiles(MemoryType.Outcomes),
      "store.files.feedback" -> dataFiles(MemoryType.Feedback),
      "store.disk_bytes" -> files(new File(root)).map(_.length).sum.toDouble)
  }

  val layoutZeros: Map[String, Double] = Seq("store.files.knowledge", "store.files.outcomes",
    "store.files.feedback", "store.disk_bytes").map(_ -> 0.0).toMap

  def sliceCheck(s: MemorySlice, k: Int): Option[String] = {
    val sizes = Seq("heuristics" -> s.heuristics.size, "outcomes" -> s.outcomes.size,
      "knowledge" -> s.knowledge.size, "anti_patterns" -> s.antiPatterns.size,
      "preferences" -> s.preferences.size)
    sizes.collectFirst { case (t, n) if n > k => s"retrieve returned $n $t rows, more than k=$k" }
  }

  /** One small store and one call of each kind: loads the classes the
    * online workloads use, cheaply.
    */
  def touchClasses(spark: SparkSession, a: Main.Args): Unit = {
    val store = new MemoryStore(spark, new File(a.out, "store-classes").getAbsolutePath)
    store.saveKnowledge((0 until 20).map(i => knowledgeRow(a.seed, i, Agents(0))))
    seedSmallTables(store, Seeds.rng(a.seed, 1), Agents.take(1))
    MemoryType.All.foreach(t => store.compact(t, minFiles = 1, targetPartitions = 1))
    val alma = new Alma(store, Project)
    alma.retrieve("overview cache", Agents(0), ts(Base)).toPrompt(800)
    alma.retrieveBatch(Seq("recall cache"), Agents(0), ts(Base), mode = Modes.Recall).collect()
  }

  // ---- online_read ------------------------------------------------------

  /** One closed-loop agent over a 200-fact store (BASELINE.md's SLO
    * configuration). Every query is distinct, so RetrievalCache never
    * hits. Operations come in groups of ten: one `retrieveBatch` of ten
    * fresh queries in a boost-free, MMR-free mode, then nine single
    * retrieves; the first two re-ask batch queries and must get the same
    * knowledge top-k back.
    */
  def read(spark: SparkSession, a: Main.Args): Result = {
    val agent = Agents(0)
    var store: MemoryStore = null
    var alma: Alma = null
    val asOf = ts(Base)
    val batchKnowledge = mutable.Map[String, Seq[String]]()

    // The seven fresh retrieves of each group take the modes in turn from
    // a seeded start, so every run gets nearly the same mix.
    def ops(r: Random, tag: String): Iterator[Calls => Unit] = {
      val first = r.nextInt(ModeWords.size)
      Iterator.from(0).flatMap { g =>
        val (word, mode) = ParityWords(r.nextInt(ParityWords.size))
        val batch = (0 until 10).map(i => s"$word ${Domains(r.nextInt(Domains.size))} ${words(r, 3)} $tag$g-$i")
        val singles = batch.take(2) ++ (2 until 9).map { i =>
          val w = ModeWords((first + 7 * g + i - 2) % ModeWords.size)
          s"$w ${Domains(r.nextInt(Domains.size))} ${words(r, 3)} $tag$g-s$i".trim
        }
        Iterator[Calls => Unit](calls => retrieveBatch(calls, batch, mode)) ++
          singles.iterator.map(q => (calls: Calls) => retrieve(calls, q))
      }
    }

    def retrieveBatch(calls: Calls, qs: Seq[String], mode: ModeConfig): Unit =
      calls.run("retrieve_batch", 0)(_ => alma.retrieveBatch(qs, agent, asOf, mode = mode).collect().toSeq) { rows =>
        val k = mode.topK
        val bad = rows.find(r => r.getAs[Int]("rank") > k)
        if (bad.isEmpty) rows.filter(_.getAs[String]("memory_type") == MemoryType.Knowledge)
          .groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rs) =>
            batchKnowledge(qs(qid.toInt)) = rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[String]("id"))
          }
        bad.map(r => s"retrieveBatch rank ${r.getAs[Int]("rank")} beyond k=$k")
      }

    def retrieve(calls: Calls, q: String): Unit = {
      if (calls.traced)
        calls.run(Layers.ProbeKind, 0)(_ => store.knowledge(Some(Project), Seq(agent)))(_ => None)
      val mode = Modes.infer(q)
      calls.run("retrieve", 0, mode.name) { ctx =>
        val slice = alma.retrieve(q, agent, asOf, mode = mode)
        (slice, ctx.span("retrieval", "to_prompt")(slice.toPrompt(800)))
      } { case (slice, prompt) =>
        sliceCheck(slice, mode.topK)
          .orElse(if (prompt.isEmpty) Some("empty prompt") else None)
          .orElse(batchKnowledge.get(q).flatMap { want =>
            val got = slice.knowledge.map(_.id)
            if (got == want) None
            else Some(s"retrieve/retrieveBatch knowledge top-k differ for '$q' in ${mode.name}: $got vs $want")
          })
      }
    }

    // Set-up builds the store, opens the facade and makes its first calls
    // (a batch and two retrieves, on a query stream of its own): the JIT
    // needs about ten calls before latency settles.
    val warm = ops(Seeds.rng(a.seed, 2), "w")
    val (root, setUp) = setUpStore(a.out, "store-read", 3) { root =>
      val s = new MemoryStore(spark, root)
      s.saveKnowledge((0 until 200).map(i => knowledgeRow(a.seed, i, agent)))
      seedSmallTables(s, Seeds.rng(a.seed, 1), Seq(agent))
      MemoryType.All.foreach(t => s.compact(t, minFiles = 1, targetPartitions = 1))
      store = s
      alma = new Alma(s, Project)
      val calls = new Calls(spark)
      (1 to 3).foreach(_ => warm.next()(calls))
    }
    val stream = ops(Seeds.rng(a.seed, 3), "q")
    val (phase, layers, stray) = measured(spark, a, () => storeLayout(root)) { calls =>
      measure(calls, a.seconds) { deadline =>
        // A traced run traces every other call: each batch and four of
        // the nine retrieves after it.
        var i = 0
        while (System.nanoTime() < deadline) { calls.tracing(i % 2 == 0); stream.next()(calls); i += 1 }
      }
    }
    val work = phase.ops.filter(_.kind != Layers.ProbeKind)
    Result(work.size, work.count(!_.ok) + stray, work.filterNot(_.ok).map(_.error),
      e2e(work, phase.elapsedS, setUp.medianS, "retrieve"), traceLayers(a, layers, work, setUp), modeMix(work))
  }

  def traceLayers(a: Main.Args, layers: Map[String, Double], work: Seq[Op], setUp: SetUp): Map[String, Double] =
    if (!a.trace) Map.empty
    else layers + ("trace.overhead_pct" -> overheadPct(work, "retrieve")) + ("setup.first_s" -> setUp.firstS)

  // ---- online_mixed -----------------------------------------------------

  /** Knowledge facts in the mixed workload's store: a thousand times
    * the read workload's, enough that scan and score show in a retrieve.
    */
  val MixedFacts = 200000
  /** Operations each client runs between two maintenance barriers. */
  val RoundOps = 6

  /** Two concurrent closed-loop agents over a large generated store,
    * mixing retrieve, learn, addDomainKnowledge and recordFeedback. Every
    * `RoundOps` operations both stop at a barrier and one runs
    * `maintain`: vacuum assumes no reader is pinned to an old snapshot.
    */
  def mixed(spark: SparkSession, a: Main.Args): Result = {
    import spark.implicits._
    val seed = a.seed
    var store: MemoryStore = null
    var alma: Alma = null
    // Set-up builds the store, opens the facade and makes its first call.
    val (root, setUp) = setUpStore(a.out, "store-mixed", 3) { root =>
      val s = new MemoryStore(spark, root)
      val facts = spark.range(0, MixedFacts, 1, a.cpus).map { i =>
        knowledgeRow(seed, i, Agents((i % Agents.size).toInt))
      }
      s.appendRows(facts.toDF(), MemoryType.Knowledge)
      seedSmallTables(s, Seeds.rng(seed, 1), Agents)
      s.saveFeedback((0 until 4).map { i =>
        RetrievalFeedback(id = s"fb-seed-$i", memoryId = f"k-$i%07d", memoryType = MemoryType.Knowledge,
          agent = Agents(i % 2), projectId = Project, signal = FeedbackSignal.Used, timestamp = ts(Base - Day))
      })
      MemoryType.AllStored.filterNot(_ == MemoryType.Knowledge)
        .foreach(t => s.compact(t, minFiles = 1, targetPartitions = 1))
      store = s
      alma = new Alma(s, Project)
      alma.retrieve(s"setup ${words(Seeds.rng(seed, 2), 3)}", Agents(0), ts(Base))
    }
    def count(t: String): Long = t match {
      case MemoryType.Knowledge => store.knowledge(Some(Project)).count()
      case MemoryType.Outcomes => store.outcomes(Some(Project)).count()
      case MemoryType.Feedback => store.feedback(Some(Project)).count()
    }
    val checked = Seq(MemoryType.Knowledge, MemoryType.Outcomes, MemoryType.Feedback)
    val seeded = checked.map(t => t -> count(t)).toMap
    val acked = checked.map(t => t -> new AtomicLong).toMap
    val unacked = checked.map(t => t -> new AtomicLong).toMap
    val archived = new AtomicLong

    final class Client(c: Int, calls: () => Calls) {
      private val r = Seeds.rng(seed, 10L + c)
      private val agent = Agents(c)
      private val pool = (0 until 24).map(j => s"${ModeWords(j % ModeWords.size)} ${Domains(j % Domains.size)} ${words(r, 3)}".trim)
      private var n = 0
      private var failures = 0
      private var retrieved = Vector.empty[String]

      private def write[T](kind: String, t: String)(body: => T): Unit = {
        val res = calls().run(kind, c)(_ => body)(_ => None)
        (if (res.isDefined) acked(t) else unacked(t)).incrementAndGet()
      }

      def step(): Unit = {
        val asOf = ts(Base + (n / 4) * 60000L)
        val u = r.nextDouble()
        if (u < 0.5 || (u >= 0.85 && retrieved.isEmpty)) {
          val q = pool(math.min(pool.size - 1, (pool.size * math.pow(r.nextDouble(), 2.5)).toInt))
          val mode = Modes.infer(q)
          if (calls().traced)
            calls().run(Layers.ProbeKind, c)(_ => store.knowledge(Some(Project), Seq(agent)))(_ => None)
          calls().run("retrieve", c, mode.name) { ctx =>
            val slice = alma.retrieve(q, agent, asOf, mode = mode)
            ctx.span("retrieval", "to_prompt")(slice.toPrompt(800))
            slice
          }(sliceCheck(_, mode.topK)).foreach { s =>
            if (s.knowledge.nonEmpty) retrieved = s.knowledge.map(_.id).toVector
          }
        } else if (u < 0.7) {
          val tt = TaskTypes(r.nextInt(TaskTypes.size))
          val ok = r.nextDouble() < 0.6
          // A failing outcome gets a strategy never used before: the write
          // guard refuses any strategy that matches a promoted anti-pattern.
          val strategy = if (ok) s"use $tt playbook ${r.nextInt(3)}" else { failures += 1; s"improvised fix $agent $failures" }
          val err = if (ok) None else Some(Errors(r.nextInt(Errors.size)))
          val desc = s"$tt ${words(r, 4)}"
          val dur = 100L + r.nextInt(2000)
          write("learn", MemoryType.Outcomes)(alma.learn(agent, tt, desc, ok, strategy, asOf, dur, err))
        } else if (u < 0.85) {
          val domain = Domains(r.nextInt(Domains.size))
          val fact = s"$domain ${words(r, 6)}"
          val conf = 0.5 + 0.5 * r.nextDouble()
          write("add_knowledge", MemoryType.Knowledge)(alma.addDomainKnowledge(agent, domain, fact, "agent", conf, asOf))
        } else {
          val id = retrieved(r.nextInt(retrieved.size))
          val signal = Seq(FeedbackSignal.Used, FeedbackSignal.Ignored, FeedbackSignal.ThumbsUp,
            FeedbackSignal.ThumbsDown)(r.nextInt(4))
          write("feedback", MemoryType.Feedback)(alma.recordFeedback(id, MemoryType.Knowledge, agent, signal, asOf))
        }
        n += 1
      }
    }

    var current: Calls = null
    val clients = Agents.indices.map(c => new Client(c, () => current))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var round = 0

    // A traced run traces every other round, switching at the barrier,
    // where no call runs.
    def rounds(calls: Calls, deadline: Long): Unit = {
      current = calls
      @volatile var stop = false
      calls.tracing(true)
      val barrier = new CyclicBarrier(clients.size, () => {
        round += 1
        calls.run("maintain", -1)(_ => alma.maintain(ts(Base + round * 3600000L)))(_ => None)
          .foreach(m => archived.addAndGet(m.getOrElse("quota_archived", 0L)))
        calls.tracing(round % 2 == 0)
        if (System.nanoTime() >= deadline) stop = true
      })
      val threads = clients.map { cl =>
        new Thread(() =>
          try while (!stop) { (1 to RoundOps).foreach(_ => cl.step()); barrier.await(150, TimeUnit.SECONDS) }
          catch { case e: Throwable => errors.add(s"client stopped: $e"); barrier.reset() })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }

    val (phase, layers, stray) = measured(spark, a, () => storeLayout(root)) { calls =>
      measure(calls, a.seconds)(deadline => rounds(calls, deadline))
    }

    // No acknowledged write may be lost: each checked table holds its
    // seeded rows plus every acknowledged write, less what maintain
    // archived. A write that raised may or may not have landed.
    val lost = checked.flatMap { t =>
      val want = seeded(t) + acked(t).get - (if (t == MemoryType.Outcomes) archived.get else 0L)
      val got = count(t)
      if (got < want || got > want + unacked(t).get)
        Some(s"$t holds $got rows; expected $want (+ up to ${unacked(t).get} unacknowledged)")
      else None
    }
    import scala.jdk.CollectionConverters._
    val work = phase.ops.filter(_.kind != Layers.ProbeKind)
    Result(work.size, work.count(!_.ok) + stray + lost.size + errors.size,
      errors.asScala.toSeq ++ lost ++ work.filterNot(_.ok).map(_.error),
      e2e(work, phase.elapsedS, setUp.medianS, "retrieve"), traceLayers(a, layers, work, setUp), modeMix(work))
  }
}
