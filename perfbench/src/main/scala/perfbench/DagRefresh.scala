package perfbench

import graft.engine.{Checks, InsurancePipeline, Sink}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType}
import scala.jdk.CollectionConverters._

/** Landing tables: generation, parquet write and read-back, shared by
  * both workloads. */
object Landing {
  /** Writes the seeded landing tables of `entities` under `dir`; returns
    * the raw inputs keyed by source name and (rows, bytes) per table. */
  def write(spark: SparkSession, seed: Long, sizes: Gen.Sizes, dir: String,
      entities: Seq[String] = Gen.Entities)
      : (Map[String, DataFrame], Seq[(String, Any)]) = {
    // independent small writes: overlap them
    val stats = Par(entities.map { e => () =>
      val (df, rows) = Gen.landing(spark, seed, sizes, e)
      val path = s"$dir/${Gen.RawTable(e)}"
      df.write.mode("overwrite").parquet(path)
      Gen.RawTable(e) -> Seq("rows" -> rows,
        "bytes" -> Stats.du(new java.io.File(path)))
    })
    val raw = entities.map(e => Gen.RawTable(e) ->
      spark.read.parquet(s"$dir/${Gen.RawTable(e)}")).toMap
    (raw, stats)
  }

  /** Landing rows of one table, from the stats [[write]] returns. */
  def rows(stats: Seq[(String, Any)], table: String): Long =
    stats.collectFirst { case (`table`, s: Seq[_]) =>
      s.collectFirst { case ("rows", n: Long) => n }.get }.get
}

/** Workload `dag_refresh`: one full 12-model refresh per operation, the
  * paper's system end to end. Silver window-dedup, the four gold marts
  * (three re-join policies and claims) and the audit post-hook do the
  * work; the IVM code and the state store do none. */
final class DagRefresh(run: Run) {
  import DagRefresh._
  private val spark = run.spark
  private val work = run.conf.work
  // the warm-up refresh writes apart, so both refreshes' outputs are
  // still there to digest together at the end
  private val warmRoot = s"$work/warmup"
  private val sinkRoot = s"$work/out"
  private val sink = Sink.Parquet(sinkRoot, partitions = Partitions)
  private val models = InsurancePipeline.models(run.clock)

  def apply(): Main.Outcome = {
    val t0 = System.nanoTime()
    val (raw, inputs) = Landing.write(spark, run.conf.seed,
      Gen.Sizes(Customers), s"$work/raw")
    val genS = (System.nanoTime() - t0) / 1e9
    val (warm, warmAudit) =
      refresh(raw, Sink.Parquet(warmRoot, partitions = Partitions), warmRoot)
    val setupS = (System.nanoTime() - t0) / 1e9

    val tracer = if (run.conf.trace) Some(new Tracer(spark.sparkContext))
      else None
    val lat = scala.collection.mutable.ArrayBuffer[(Boolean, Double)]()
    val ambient = scala.collection.mutable.ArrayBuffer[Double]()
    val layerSamples = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var last: Map[String, DataFrame] = warm
    var lastAudit: Seq[AuditRow] = warmAudit
    // traced runs alternate untraced and traced refreshes so the
    // difference of the two is the tracing overhead
    run.loop(minOps = if (run.conf.trace) 2 else 1) { i =>
      val timedSink = tracer.filter(_ => i % 2 == 1)
        .map(_ => new TimedSink(sink, spark.sparkContext))
      val traced = timedSink.isDefined
      if (traced) spark.sparkContext.addSparkListener(tracer.get)
      val from = System.currentTimeMillis()
      val ((outs, audit), secs, amb) =
        run.timed(refresh(raw, timedSink.getOrElse(sink), sinkRoot))
      val to = System.currentTimeMillis()
      timedSink.foreach { ts =>
        layerSamples += layerMetrics(tracer.get.jobsIn(from, to), ts, from, to)
        spark.sparkContext.removeSparkListener(tracer.get)
      }
      lat += ((traced, secs)); ambient += amb
      last = outs; lastAudit = audit
      run.check(s"refresh $i audit rows are consistent")(
        auditOk(audit, inputs))
    }
    val c0 = System.nanoTime()
    val Seq(warmDigest, lastDigest) = digests(Seq(warm, last))
    run.settle(Seq(
      run.check("warm-up refresh audit rows match the outputs")(
        auditOk(warmAudit, inputs) && countsMatch(warmAudit, warmDigest)),
      run.check("last refresh audit target_records == written rows")(
        countsMatch(lastAudit, lastDigest)),
      run.check("12-output digest identical across refreshes")(
        lastDigest.hex == warmDigest.hex),
      run.check("silver PKs not_null and unique")(silverPksOk(last)))
      .forall(identity))
    val checkS = (System.nanoTime() - c0) / 1e9

    val (outBytes, outFiles) = outputSize()
    val untraced = lat.filterNot(_._1).map(_._2).toSeq
    val refreshS = Stats.median(untraced)
    val rawRows = Gen.Entities.map(e => Landing.rows(inputs, Gen.RawTable(e))).sum
    val report = Seq(("setup_s", setupS, "s"), ("refresh_s", refreshS, "s"),
      ("output_mb", outBytes / 1e6, "MB"),
      ("error_rate", run.failed.toDouble / run.attempted, "ratio"))
    val metrics =
      if (!run.conf.trace) Seq(("setup_s", setupS, "s"),
        ("op_p50_s", refreshS, "s"),
        ("work_per_s", rawRows / refreshS, "1/s"),
        ("disk_mb", outBytes / 1e6, "MB"))
      else {
        val tracedS = Stats.median(lat.filter(_._1).map(_._2).toSeq)
        val avg = PerLayer.average(layerSamples.toSeq) ++ Map(
          "engine.sink.files" -> outFiles.toDouble,
          "trace.overhead_pct" -> 100 * (tracedS - refreshS) / refreshS)
        PerLayer.all(avg)
      }
    Main.Outcome(run.attempted, run.failed, metrics, report, Seq(
      "customers" -> Customers, "inputs" -> inputs,
      "setup_gen_s" -> genS, "final_checks_s" -> checkS,
      "digest" -> lastDigest.hex,
      "op_seconds" -> lat.map(_._2).toSeq,
      "op_traced" -> lat.map(_._1).toSeq,
      "samples" -> untraced.size,
      "ambient_cores" -> ambient.toSeq,
      "ambient_cores_median" -> Stats.median(ambient.toSeq),
      "failures" -> run.failures.toSeq))
  }

  private def refresh(raw: Map[String, DataFrame], s: Sink, root: String)
      : (Map[String, DataFrame], Seq[AuditRow]) = {
    val (outs, audit) = InsurancePipeline.run(raw, s, run.clock)
    audit.write.mode("append").parquet(s"$root/logging/dbt_logs")
    (outs, audit.collect().toSeq.map(r => AuditRow(r.getString(0),
      r.getLong(3), r.getLong(4))))
  }

  /** Every model has one audit row, and its source_records equal the
    * upstream count: the raw landing rows for bronze, the first
    * dependency's target_records otherwise. */
  private def auditOk(audit: Seq[AuditRow],
      inputs: Seq[(String, Any)]): Boolean = {
    val byName = audit.map(a => a.dataset -> a).toMap
    audit.size == models.size && models.forall { m =>
      byName.get(m.name).exists { a =>
        val dep = m.deps.head
        val upstream = byName.get(dep).map(_.target)
          .getOrElse(Landing.rows(inputs, dep))
        a.source == upstream && a.target > 0
      }
    }
  }

  private def countsMatch(audit: Seq[AuditRow], d: Digest): Boolean =
    audit.forall(a => d.counts.get(a.dataset).contains(a.target))

  /** dbt's not_null and unique tests on the silver primary keys.
    * premiums_silver keeps the reference's shape (dedup before cleaning,
    * no missing-id filter), so a NULL premium_id survives as one row;
    * only unique applies to it. */
  private def silverPksOk(outs: Map[String, DataFrame]): Boolean = {
    val results = Seq("customers_silver" -> "customer_id",
      "policies_silver" -> "policy_id", "claims_silver" -> "claim_id")
      .flatMap { case (t, pk) => Seq(Checks.notNull(outs(t), t, pk),
        Checks.unique(outs(t), t, pk)) } :+
      Checks.unique(outs("premiums_silver"), "premiums_silver", "premium_id")
    results.filterNot(_.passed).foreach(c => System.err.println(
      s"${c.table}.${c.column} ${c.check}: ${c.violations} violations"))
    results.forall(_.passed)
  }

  /** Order-independent digest of each refresh's 12 written outputs, in
    * one job: per table the row count and the exact sum of a 64-bit hash
    * per row, with doubles rounded to 7 significant digits so summation
    * order cannot show. */
  private def digests(refreshes: Seq[Map[String, DataFrame]]): Seq[Digest] = {
    val hashed = refreshes.zipWithIndex.flatMap { case (outs, i) =>
      models.map(_.name).map { n =>
        val df = outs(n)
        val cols = df.schema.fields.toSeq.map { f => f.dataType match {
          case DoubleType | FloatType => format_string("%.6e", col(f.name))
          case _ => col(f.name)
        }}
        df.select(lit(i).as("r"), lit(n).as("t"),
          xxhash64(cols: _*).cast(DecimalType(38, 0)).as("h"))
      }
    }.reduce(_ unionByName _)
    val parts = hashed.groupBy("r", "t").agg(count(lit(1)), sum(col("h")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getDecimal(3).toString))
    refreshes.indices.map { i =>
      val mine = parts.filter(_._1 == i).sortBy(_._2)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      mine.foreach { case (_, n, c, s) =>
        md.update(s"$n:$c:$s\n".getBytes("UTF-8")) }
      Digest(md.digest().take(8).map(b => f"$b%02x").mkString,
        mine.map { case (_, n, c, _) => n -> c }.toMap)
    }
  }

  private def outputSize(): (Long, Int) =
    models.map { m =>
      val d = new java.io.File(s"$sinkRoot/${m.layer}/${m.name}")
      (Stats.du(d), Stats.dataFiles(d).size)
    }.foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Per-layer metrics of one traced refresh over [from, to]. */
  private def layerMetrics(jobs: Seq[JobRec], sink: TimedSink, from: Long,
      to: Long): Map[String, Double] = {
    val spans = sink.spans.asScala.toSeq
      .map { case (n, l, s, e) => n -> (l, s, e) }.toMap
    def tagged(prefix: String, names: Set[String]) =
      jobs.filter(j => j.tag.startsWith(prefix) &&
        names.contains(j.tag.stripPrefix(prefix)))
    val audit = jobs.filter(_.tag.startsWith("audit:"))
    def auditEnd(m: String): Long =
      (spans.get(m).map(_._3).toSeq ++
        tagged("audit:", Set(m)).map(_.end)).max
    val perLayer = Seq("bronze", "silver", "gold").flatMap { layer =>
      val names = models.filter(_.layer == layer).map(_.name).toSet
      val js = tagged("model:", names)
      val start = names.flatMap(spans.get).map(_._2).min
      val end = names.map(auditEnd).max
      Seq(s"engine.$layer.wall_s" -> (end - start) / 1e3,
        s"engine.$layer.task_s" -> js.map(_.taskMs).sum / 1e3,
        s"engine.$layer.shuffle_mb" -> js.map(_.shuffleBytes).sum / 1e6,
        s"engine.$layer.spill_mb" -> js.map(_.spillBytes).sum / 1e6,
        s"engine.$layer.jobs" -> js.size.toDouble)
    }
    val perModel = models.map(m => s"engine.model.${m.name}.wall_s" ->
      spans.get(m.name).map { case (_, s, e) => (e - s) / 1e3 }.getOrElse(0.0))
    val barrier = models.map { m =>
      val ready = m.deps.map(d => if (spans.contains(d)) auditEnd(d) else from)
        .max
      spans.get(m.name).map(_._2 - ready).getOrElse(0L)
    }.sum
    val modelJobs = jobs.filter(_.tag.startsWith("model:"))
    val wall = to - from
    (perLayer ++ perModel ++ Seq(
      "engine.bronze.input_mb" -> tagged("model:",
        models.filter(_.layer == "bronze").map(_.name).toSet)
        .map(_.inputBytes).sum / 1e6,
      "engine.sink.output_mb" -> modelJobs.map(_.outputBytes).sum / 1e6,
      "engine.dag.audit_jobs" -> audit.size.toDouble,
      "engine.dag.audit_s" ->
        Tracer.busyMs(audit.map(j => (j.start, j.end)), from, to) / 1e3,
      "engine.dag.barrier_wait_s" -> barrier / 1e3,
      "engine.dag.driver_gap_s" -> (wall -
        Tracer.busyMs(jobs.map(j => (j.start, j.end)), from, to)) / 1e3,
      "engine.dag.cpu_util" ->
        jobs.map(_.taskMs).sum.toDouble / (wall * run.conf.cpus))).toMap
  }
}

object DagRefresh {
  /** Customers in the landing set (x16 raw rows, plus dups and bad PKs). */
  val Customers = 4000L
  /** RunPipeline's month partitions of the month-grained marts. */
  val Partitions: Map[String, Seq[String]] = Map(
    "gold_policy_performance" -> Seq("policy_month"),
    "gold_executive_summary" -> Seq("report_period"))

  final case class AuditRow(dataset: String, source: Long, target: Long)
  final case class Digest(hex: String, counts: Map[String, Long])
}
