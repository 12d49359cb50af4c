package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM: set up a workload, measure it for
  * `--seconds`, check its outputs, and write `result.json` into `--out`.
  *
  * `--trace 0` reports the end-to-end metrics of an untraced run.
  * `--trace 1` runs the same schedule with a tracer, which the workload
  * switches on for some calls: every other call of `online_read`, every
  * other round of `online_mixed`, the whole timed pass of `batch_sweep`.
  * It reports the per-layer metrics of the traced calls and the tracing
  * overhead, and writes every span to `spans.jsonl`.
  */
object Main {
  private val t0 = System.nanoTime()
  /** Progress on stderr, so a slow step is visible in the run log. */
  def log(msg: String): Unit =
    System.err.println(String.format(java.util.Locale.ROOT, "[perfbench %.1fs] %s",
      Double.box((System.nanoTime() - t0) / 1e9), msg))

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      out: String, data: String, cpus: Int)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("out"), need("data"),
      kv.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.out).mkdirs()
    val spark = session(a.cpus, a.out)
    log("session up")
    val calibBefore = Calib.ms()
    val res = a.workload match {
      case "online_read" => Online.read(spark, a)
      case "online_mixed" => Online.mixed(spark, a)
      case "batch_sweep" => Sweep.run(spark, a)
      // Loads the classes the workloads use, for the JVM's class archive.
      case "classes" =>
        Online.touchClasses(spark, a)
        graft.SparkEntry.queries(Sweep.Heavy.head)(spark, a.data).queryExecution.toRdd.count()
        Result(0, 0, Nil, Map.empty, Map.empty)
      // The DuckDB oracle SQL of the heavy queries, for freeze_expected.py.
      case "oracles" =>
        Files.writeString(Paths.get(a.out, "oracle_sql.json"), Json.obj(Sweep.Heavy.flatMap(q =>
          graft.SparkEntry.oracleSql.get(q).map(sql => q -> Json.str(sql)))))
        Result(0, 0, Nil, Map.empty, Map.empty)
      case w => sys.error(s"unknown workload $w")
    }
    log("workload done")
    val calibAfter = Calib.ms()
    val metrics =
      if (a.trace) Sweep.layerZeros ++ Online.layoutZeros ++ res.layers +
        ("host.calib_ms" -> Stats.median(Seq(calibBefore, calibAfter)))
      else res.e2e
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> res.attempted.toString,
      "failed" -> res.failed.toString,
      "errors" -> Json.arr(res.errors.take(20).map(Json.str)),
      "mix" -> Json.obj(res.mix.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "rows" -> Json.obj(res.rows.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(Paths.get(a.out, "result.json"), json + "\n")
    spark.stop()
  }

  /** The session every workload runs in: `local[cpus]`, shuffle
    * partitions sized to the cores, UTC, and all scratch space inside
    * the run directory.
    */
  def session(cpus: Int, out: String): SparkSession = {
    val local = new File(out, "spark-local").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"), s.sparkContext.hadoopConfiguration)
    require(fs.isInstanceOf[CountingLocalFileSystem], s"file: scheme resolved to ${fs.getClass.getName}")
    s
  }
}

/** What a workload hands back: operation counts, output-check failures,
  * end-to-end metrics (untraced runs) or per-layer metrics (traced runs),
  * the share of its retrieves in each mode, and per-query row counts for
  * the caller's row-count check.
  */
final case class Result(
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    e2e: Map[String, Double],
    layers: Map[String, Double],
    mix: Map[String, Double] = Map.empty,
    rows: Map[String, Long] = Map.empty)

/** A fixed CPU probe: the same arithmetic loop every run, so host
  * interference shows up as a slower probe rather than as a mystery.
  */
object Calib {
  @volatile private var sink = 0.0
  def ms(): Double = Stats.median((1 to 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 1.0; var i = 0
    while (i < 20000000) { x = x * 1.0000001 + math.sqrt(i.toDouble); i += 1 }
    sink += x
    (System.nanoTime() - t0) / 1e6
  })
}

/** Seeded random streams. java.util.Random's first draws barely differ
  * between nearby seeds, so the seed and stream number are mixed first
  * (SplitMix64's finalizer).
  */
object Seeds {
  def rng(seed: Long, stream: Long): scala.util.Random = {
    var z = seed * 0x9E3779B97F4A7C15L + stream
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Minimal JSON writer. Numbers go through `Double.toString`, which is
  * locale-independent and keeps every digit.
  */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
