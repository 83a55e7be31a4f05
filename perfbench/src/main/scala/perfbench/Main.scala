package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point; see perfbench/README.md.
  *
  *   perfbench.Main --workload dag_refresh|cdc_trickle --seed N
  *     --seconds S --trace 0|1 --work DIR --cpus N [--commit SHA]
  *
  * Prints the headline metrics by name and unit, one `context` JSON
  * line describing the run, and, last, the result line
  * `{"correct", "attempted", "failed", "metrics"}`. Exits 1 when any
  * operation failed or any output check did not pass.
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, cpus: Int, commit: String)

  /** What a workload hands back. `metrics` are the BENCHMARK.json metrics
    * of this run (end-to-end, or per-layer when traced); `report` the
    * headline metrics printed for people; `context` describes it. */
  final case class Outcome(attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)],
      report: Seq[(String, Double, String)],
      context: Seq[(String, Any)])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val conf = Conf(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("work"), a("cpus").toInt,
      a.getOrElse("commit", "unknown"))
    require(Workloads.contains(conf.workload),
      s"unknown workload ${conf.workload}; known: ${Workloads.mkString(",")}")
    val spark = SparkSession.builder()
      .master(s"local[${conf.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    def phase(p: String) = System.err.println(
      s"phase $p ${(System.currentTimeMillis() - jvmStart) / 1e3}")
    phase("session")
    val run = new Run(spark, conf)
    val out = conf.workload match {
      case "dag_refresh" => new DagRefresh(run).apply()
      case "cdc_trickle" => new CdcTrickle(run).apply()
    }
    phase("workload")
    out.report.foreach { case (n, v, u) =>
      println(f"metric $n%-24s $v%.6g $u") }
    val context = Seq(
      "workload" -> conf.workload, "seed" -> conf.seed,
      "seconds" -> conf.seconds, "trace" -> conf.trace,
      "commit" -> conf.commit, "cpus" -> conf.cpus,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "error_rate" -> out.failed.toDouble / out.attempted) ++ out.context
    println("context " + Json(context))
    val correct = out.failed == 0
    println(Json(Seq("correct" -> correct, "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> out.metrics.map { case (n, v, u) =>
        n -> Seq("value" -> v, "unit" -> u) })))
    System.out.flush()
    spark.stop()
    phase("stopped")
    sys.exit(if (correct) 0 else 1)
  }

  val Workloads: Seq[String] = Seq("dag_refresh", "cdc_trickle")
}

/** Shared run machinery: the operation loop, failure accounting and the
  * ambient-CPU probe. */
final class Run(val spark: SparkSession, val conf: Main.Conf) {
  val clock: graft.engine.Clock =
    graft.engine.Clock.Fixed(java.time.Instant.parse("2025-06-01T00:00:00Z"))
  var attempted = 0
  var failed = 0
  val failures = scala.collection.mutable.ArrayBuffer[String]()

  /** Evaluates an output check; a failing or throwing one is recorded
    * and returns false. */
  def check(what: String)(ok: => Boolean): Boolean = {
    val passed = scala.util.Try(ok).recover { case e =>
      e.printStackTrace(); false }.get
    if (!passed) {
      failures += what
      System.err.println(s"CHECK FAILED: $what")
    }
    passed
  }

  /** Charges failed end-of-run checks to the last operation. */
  def settle(checksPassed: Boolean): Unit =
    if (!checksPassed && failed < attempted) failed += 1

  /** Runs operations until `conf.seconds` have passed and at least
    * `minOps` ran, or one fails. `op` gets the operation index and
    * returns whether its own checks passed. */
  def loop(minOps: Int)(op: Int => Boolean): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    var broken = false
    while (!broken && (i < minOps ||
        System.nanoTime() - t0 < conf.seconds * 1000000000L)) {
      attempted += 1
      val ok = scala.util.Try(op(i)).recover { case e =>
        e.printStackTrace(); false }.get
      if (!ok) { failed += 1; broken = true }
      i += 1
    }
  }

  /** Timed call: (result, seconds, ambient cores). */
  def timed[A](f: => A): (A, Double, Double) = {
    val a = Ambient.sample()
    val r = f
    val b = Ambient.sample()
    (r, (b.nanos - a.nanos) / 1e9, Ambient.cores(a, b))
  }
}

/** CPU cores that OTHER processes burned during an interval: whole-box
  * busy jiffies from /proc/stat minus this JVM's own utime+stime, per
  * second of wall time. A reading well above 0 says the interval was
  * measured under interference. */
object Ambient {
  final case class Sample(nanos: Long, busy: Long, self: Long)
  private val TicksPerSecond = 100.0

  def sample(): Sample = {
    def read(p: String) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(p))
    val (busy, self) = scala.util.Try {
      val v = read("/proc/stat").linesIterator.next().trim.split("\\s+")
        .drop(1).map(_.toLong)
      // user+nice+system+irq+softirq+steal; idle and iowait are not busy
      val b = v(0) + v(1) + v(2) + v(5) + v(6) + v(7)
      val s = read("/proc/self/stat")
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (b, f(11).toLong + f(12).toLong)
    }.getOrElse((0L, 0L))
    Sample(System.nanoTime(), busy, self)
  }

  def cores(a: Sample, b: Sample): Double = {
    val secs = (b.nanos - a.nanos) / 1e9
    if (secs <= 0) 0.0
    else math.max(0.0, ((b.busy - a.busy) - (b.self - a.self)) /
      TicksPerSecond / secs)
  }
}

/** Runs independent thunks on their own threads and returns their
  * results in order, rethrowing the first failure after all finished. */
object Par {
  def apply[A](tasks: Seq[() => A]): Seq[A] = {
    val results = new Array[scala.util.Try[A]](tasks.size)
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() => results(i) = scala.util.Try(t()))
      th.start(); th
    }
    threads.foreach(_.join())
    results.toSeq.map(_.get)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Bytes under a local directory. */
  def du(dir: java.io.File): Long =
    if (!dir.exists()) 0L
    else if (dir.isFile) dir.length()
    else Option(dir.listFiles()).toSeq.flatten.map(du).sum

  /** Data files (not hidden, not markers) under a local directory. */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    if (!dir.exists()) Seq.empty
    else if (dir.isFile)
      (if (dir.getName.startsWith(".") || dir.getName.startsWith("_"))
        Seq.empty else Seq(dir))
    else Option(dir.listFiles()).toSeq.flatten.flatMap(dataFiles)
}

/** Minimal JSON rendering for the benchmark's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true
        case _ => false } =>
      kv.map { case (k: String, x) => quote(k) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case m: Map[_, _] => apply(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
