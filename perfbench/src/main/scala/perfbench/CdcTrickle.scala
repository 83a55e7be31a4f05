package perfbench

import graft.engine.{Bronze, Silver}
import graft.streaming.GoldMaintenanceStream
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Workload `cdc_trickle`: the four gold marts maintained from a small
  * at-least-once CDC micro-batch per operation. Δ ≪ state, so cost
  * should track Δ: the ingest ledger, the keyed probes over clustered
  * state, delta writes and the lazy mart reads do the work; silver and
  * the gold full refresh do none.
  *
  * Set-up generates a landing set, builds silver from it and bootstraps
  * the four-mart state from every silver row (batch 0, seq 0). Each
  * operation hands one [[CdcFeed]] batch, rendered to wire records whose
  * images come from running the batch's raw rows through `Bronze` and
  * `Silver`, to `foldAllMartsAtLeastOnce` and materializes the four
  * returned marts. Batches alternate between a forward trickle and its
  * revert. After a revert the silver state is the landing state again,
  * so the marts of set-up's bootstrap fold are a fresh bootstrap fold of
  * the final state, and a run that ends on a revert checks that the
  * maintained marts equal them: the check costs no fold beyond the
  * measured ones. Untraced runs fold one batch to keep a run short. */
final class CdcTrickle(run: Run) {
  import CdcTrickle._
  private val spark = run.spark
  private val seed = run.conf.seed
  private val sizes = Gen.Sizes(Customers)
  private val work = run.conf.work
  private val stateRoot = s"$work/state"

  private val silverOf: Map[String, DataFrame => DataFrame] = Map(
    "customer" -> (r => Silver.customers(Bronze.customers(r), run.clock)),
    "policy" -> (r => Silver.policies(Bronze.policies(r), run.clock)),
    "claim" -> (r => Silver.claims(Bronze.claims(r), run.clock)))

  def apply(): Main.Outcome = {
    val t0 = System.nanoTime()
    val (raw, inputs) = Landing.write(spark, seed, sizes, s"$work/raw",
      CdcFeed.Entities)
    val genS = (System.nanoTime() - t0) / 1e9
    // silver straight from bronze, without the gold marts and the audit
    // post-hook of a full refresh: set-up is paid on every run, and the
    // refresh is what dag_refresh measures
    val silver = CdcFeed.Entities.map { e =>
      e -> silverOf(e)(raw(Gen.RawTable(e))).localCheckpoint(true) }.toMap
    val schemas = silver.map { case (e, df) => e -> df.schema }
    def fold(wire: DataFrame, id: Long) =
      GoldMaintenanceStream.foldAllMartsAtLeastOnce(wire, id,
        schemas("customer"), schemas("policy"), schemas("claim"), stateRoot)

    // the marts of a fresh bootstrap fold of the landing state: the
    // reference the output check compares the maintained marts against
    val boot = fold(bootstrapWire(silver), 0L)
    val reference = Marts.map(n => n -> boot(n).localCheckpoint(true)).toMap
    val setupS = (System.nanoTime() - t0) / 1e9

    val feed = new CdcFeed(seed, sizes)
    val tracer = if (run.conf.trace) Some(new Tracer(spark.sparkContext))
      else None
    val batches = scala.collection.mutable.ArrayBuffer[Batch]()
    val layerSamples = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    var lastMarts = Map.empty[String, DataFrame]
    // Batches alternate between a forward trickle and its revert. An
    // untraced run folds one forward batch; a traced run folds the
    // forward batch untraced and its revert traced (their difference is
    // the tracing overhead), which brings it back to the landing state.
    run.loop(minOps = if (run.conf.trace) 2 else 1) { i =>
      val id = i + 1L
      val rows = render(if (i % 2 == 0) feed.nextBatch()
        else feed.revertBatch())
      val wire = spark.createDataFrame(rows.asJava, WireSchema)
      val wireBytes = rows.map(r => (0 until 4).map(k =>
        Option(r.getString(k)).map(_.length).getOrElse(0)).sum + 8L).sum
      val traced = tracer.isDefined && i % 2 == 1
      val liveRows = if (traced) StateFiles.liveRows(stateRoot) else 0L
      if (traced) spark.sparkContext.addSparkListener(tracer.get)
      val from = System.currentTimeMillis()
      val ((marts, foldS, reads), secs, amb) = run.timed {
        val f0 = System.nanoTime()
        val m = fold(wire, id)
        val foldS = (System.nanoTime() - f0) / 1e9
        (m, foldS, Marts.map(n => n -> seconds(noop(m(n)))))
      }
      val to = System.currentTimeMillis()
      val compaction =
        !new java.io.File(s"$stateRoot/perf/$id/_DELTA").exists()
      if (traced) {
        layerSamples += batchMetrics(tracer.get.jobsIn(from, to), from, to,
          foldS, reads, wireBytes, id, liveRows)
        spark.sparkContext.removeSparkListener(tracer.get)
      }
      batches += Batch(traced, compaction, secs, rows.size, amb)
      lastMarts = marts
      run.check(s"batch $id returned the four marts")(
        marts.keySet == Marts.toSet)
    }

    val c0 = System.nanoTime()
    // a run that ends on a revert is back on the landing state, whose
    // fresh bootstrap fold set-up made: the maintained marts must equal it
    if (batches.size % 2 == 0) run.settle(Marts.map { n =>
      run.check(s"maintained $n mart == fresh bootstrap fold")(
        lastMarts(n).exceptAll(reference(n))
          .unionByName(reference(n).exceptAll(lastMarts(n))).isEmpty)
    }.forall(identity))
    val checkS = (System.nanoTime() - c0) / 1e9

    val stateMb = Stats.du(new java.io.File(stateRoot)) / 1e6
    val plain = batches.filterNot(_.traced).toSeq
    val p50 = Stats.median(plain.map(_.seconds))
    val perSec = plain.map(_.records).sum / plain.map(_.seconds).sum
    val tail = Tail.of(plain.map(_.seconds))
    val report = Seq(("setup_s", setupS, "s"), ("batch_p50_s", p50, "s"),
      ("cdc_records_per_s", perSec, "1/s"), ("state_mb", stateMb, "MB"),
      ("error_rate", run.failed.toDouble / run.attempted, "ratio")) ++
      tail.map { case (p, v) => (s"batch_tail_s(p$p)", v, "s") }
    val metrics =
      if (!run.conf.trace) Seq(("setup_s", setupS, "s"),
        ("op_p50_s", p50, "s"), ("work_per_s", perSec, "1/s"),
        ("disk_mb", stateMb, "MB"))
      else {
        val tracedB = batches.filter(_.traced).toSeq
        def mean(bs: Seq[Batch]) = Stats.mean(bs.map(_.seconds))
        val deltaT = tracedB.filterNot(_.compaction)
        val deltaU = plain.filterNot(_.compaction)
        PerLayer.all(PerLayer.average(layerSamples.toSeq) ++ Map(
          "streaming.state_store.compactions" ->
            tracedB.count(_.compaction).toDouble,
          "streaming.state_store.compact_batch_s" ->
            mean(tracedB.filter(_.compaction)),
          "streaming.state_store.delta_batch_s" -> mean(deltaT),
          "trace.overhead_pct" ->
            100 * (mean(deltaT) - mean(deltaU)) / mean(deltaU)))
      }
    Main.Outcome(run.attempted, run.failed, metrics, report, Seq(
      "customers" -> Customers, "inputs" -> inputs,
      "setup_gen_s" -> genS, "setup_bootstrap_s" -> (setupS - genS),
      "final_checks_s" -> checkS,
      "bootstrap_check" -> (batches.size % 2 == 0),
      "live_keys_at_end" -> CdcFeed.Entities.map(e => e -> feed.liveCount(e)),
      "op_seconds" -> batches.map(_.seconds).toSeq,
      "op_traced" -> batches.map(_.traced).toSeq,
      "op_compaction" -> batches.map(_.compaction).toSeq,
      "op_wire_records" -> batches.map(_.records).toSeq,
      "samples" -> plain.size,
      "batch_tail" -> tail.map { case (p, v) =>
        Seq("percentile" -> p, "seconds" -> v) },
      "ambient_cores" -> batches.map(_.ambient).toSeq,
      "ambient_cores_median" -> Stats.median(batches.map(_.ambient).toSeq),
      "failures" -> run.failures.toSeq))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Every silver row as an insert with seq 0. */
  private def bootstrapWire(silver: Map[String, DataFrame]): DataFrame =
    CdcFeed.Entities.map { e =>
      silver(e).select(lit(e).as("entity"), lit("I").as("op"),
        lit(null).cast(StringType).as("before"),
        to_json(struct(silver(e).columns.map(col).toSeq: _*)).as("after"),
        lit(0L).as("seq"))
    }.reduce(_ unionByName _)

  /** Wire rows of a batch. Each image is the silver row of the key's raw
    * row at that version; images are rendered in rounds with one version
    * per key, since silver keeps one row per key. */
  private def render(records: Seq[CdcRecord]): Seq[Row] = {
    val wanted = records.flatMap(r => Seq(r.beforeVer, r.afterVer)
      .filter(_ >= 0).map(v => (r.entity, r.id, v))).distinct
    val rounds = wanted.groupBy(_._1).toSeq.flatMap { case (e, ks) =>
      val perId = ks.groupBy(_._2).map { case (id, vs) => id -> vs.map(_._3) }
      (0 until perId.values.map(_.size).max).map { round =>
        (e, round, perId.collect { case (id, vs) if vs.size > round =>
          Gen.pk(e, id) -> (id, vs(round)) })
      }
    }
    val frames = rounds.map { case (e, round, keys) =>
      val s = silverOf(e)(Gen.rawFrame(spark, seed, sizes, e,
        keys.values.toSeq))
      s.select(lit(e).as("entity"), lit(round).as("round"),
        col(Pk(e)).as("pk"),
        to_json(struct(s.columns.map(col).toSeq: _*)).as("json"))
    }
    val keyOf = rounds.map { case (e, round, keys) => (e, round) -> keys }
      .toMap
    val images = frames.reduce(_ unionByName _).collect().map { r =>
      val e = r.getString(0)
      val (id, v) = keyOf((e, r.getInt(1)))(r.getString(2))
      (e, id, v) -> r.getString(3)
    }.toMap
    require(images.size == wanted.size,
      s"rendered ${images.size} of ${wanted.size} images")
    def img(e: String, id: Long, v: Int) =
      if (v < 0) null else images((e, id, v))
    records.map(r => Row(r.entity, r.op, img(r.entity, r.id, r.beforeVer),
      img(r.entity, r.id, r.afterVer), r.seq))
  }

  /** Per-layer metrics of one traced batch over [from, to]. */
  private def batchMetrics(jobs: Seq[JobRec], from: Long, to: Long,
      foldS: Double, reads: Seq[(String, Double)], wireBytes: Long,
      id: Long, liveRows: Long): Map[String, Double] = {
    val (newBytes, newFiles) = StateFiles.version(stateRoot, id)
    val wall = to - from
    PerLayer.CdcLayers.flatMap { l =>
      val js = jobs.filter(_.layer == l)
      Seq(s"$l.jobs" -> js.size.toDouble,
        s"$l.task_s" -> js.map(_.taskMs).sum / 1e3,
        s"$l.shuffle_mb" -> js.map(_.shuffleBytes).sum / 1e6,
        s"$l.input_mb" -> js.map(_.inputBytes).sum / 1e6,
        s"$l.output_mb" -> js.map(_.outputBytes).sum / 1e6)
    }.toMap ++ reads.map { case (n, s) => s"streaming.mart.$n.read_s" -> s } ++
    Map(
      "streaming.maintainer.fold_s" -> foldS,
      "streaming.state_store.write_amp" -> newBytes.toDouble / wireBytes,
      "streaming.state_store.files_per_batch" -> newFiles.toDouble,
      "streaming.state_store.probe_read_ratio" ->
        jobs.map(_.inputRecords).sum.toDouble / math.max(1L, liveRows),
      "cdc.driver_gap_s" -> (wall -
        Tracer.busyMs(jobs.map(j => (j.start, j.end)), from, to)) / 1e3,
      "cdc.cpu_util" ->
        jobs.map(_.taskMs).sum.toDouble / (wall * run.conf.cpus))
  }
}

object CdcTrickle {
  /** Customers in the landing set: a smaller raw set than dag_refresh's. */
  val Customers = 2000L

  val Marts: Seq[String] = Seq("exec", "perf", "c360", "ops")
  val Pk: Map[String, String] = Map("customer" -> "customer_id",
    "policy" -> "policy_id", "claim" -> "claim_id")
  val WireSchema: StructType = StructType(Seq(
    StructField("entity", StringType), StructField("op", StringType),
    StructField("before", StringType), StructField("after", StringType),
    StructField("seq", LongType)))

  final case class Batch(traced: Boolean, compaction: Boolean,
      seconds: Double, records: Int, ambient: Double)
}

/** The highest nearest-rank percentile with at least ten samples beyond
  * it, or none when there are fewer than 20 samples. */
object Tail {
  def of(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val p = math.floor(100.0 * (1 - 10.0 / xs.size)).toInt
      val s = xs.sorted
      Some(p -> s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
}

/** Listings of the versioned state directories. */
object StateFiles {
  val Stores: Seq[String] = Seq("ingest", "exec", "perf", "c360", "ops")

  /** Bytes and data files a batch id added across all stores. */
  def version(root: String, id: Long): (Long, Int) =
    Stores.map { s =>
      val d = new java.io.File(s"$root/$s/$id")
      (Stats.du(d), Stats.dataFiles(d).size)
    }.foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  /** Rows (parquet footers) of the versions the next batch reads: per
    * store the newest committed base and the committed deltas above it. */
  def liveRows(root: String): Long = Stores.map { s =>
    val committed = Option(new java.io.File(s"$root/$s").listFiles()).toSeq
      .flatten.filter(d => d.getName.forall(_.isDigit) &&
        new java.io.File(d, "_COMMIT").exists())
      .sortBy(_.getName.toLong)
    val base = committed.lastIndexWhere(d =>
      !new java.io.File(d, "_DELTA").exists())
    committed.drop(math.max(0, base)).flatMap(Stats.dataFiles)
      .filter(_.getName.endsWith(".parquet")).map(footerRows).sum
  }.sum

  private def footerRows(f: java.io.File): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(f.toURI),
      new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }
}
