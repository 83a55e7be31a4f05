package perfbench

import graft.engine.Sink
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** One Spark job as the traced run saw it. Times are driver epoch ms. */
final case class JobRec(id: Int, start: Long, tag: String, layer: String) {
  var end: Long = start
  var taskMs: Long = 0
  var shuffleBytes: Long = 0
  var spillBytes: Long = 0
  var inputBytes: Long = 0
  var inputRecords: Long = 0
  var outputBytes: Long = 0
}

/** Collects job and stage metrics in memory for the traced run. Each job
  * carries the benchmark's tag (a local property set by [[TimedSink]])
  * and the layer of the innermost `graft.*` class on its call site. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  // stage id -> first job that listed it; a stage not in the map (one
  // submitted before the listener was attached) is skipped, never
  // charged to some other job
  private val stageJob = mutable.HashMap[Int, Int]()
  private val execLayer = mutable.HashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execLayer(s.executionId) = Tracer.layerOf(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.TagKey))).getOrElse("")
    // jobs that adaptive execution submits from its own threads carry no
    // graft frame; they take the layer of the SQL execution they serve
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k))).flatMap(_.toLongOption)
    val layer = e.stageInfos.iterator.map(s => Tracer.layerOf(s.details))
      .find(_.nonEmpty)
      .orElse(Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(prop).flatMap(execLayer.get).find(_.nonEmpty))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, e.time, tag, layer)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val m = e.stageInfo.taskMetrics
      for (j <- stageJob.get(e.stageInfo.stageId); r <- jobs.get(j)
           if m != null) {
        r.taskMs += m.executorRunTime
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.inputRecords += m.inputMetrics.recordsRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }

  /** Jobs that started inside [from, to], after every event posted so
    * far has been delivered. */
  def jobsIn(from: Long, to: Long): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(jobs.values.filter(j => j.start >= from && j.start <= to)
      .toVector)
  }
}

object Tracer {
  val TagKey = "perfbench.tag"

  /** Layer names of the engine classes a CDC job can start in. */
  private val Layers = Seq(
    "graft.engine.CdcIngest" -> "engine.cdc_ingest",
    "graft.engine.IncrementalGold" -> "engine.incremental_gold",
    "graft.streaming.GoldMaintenanceStream" -> "streaming.maintainer",
    "graft.streaming.VersionedStateStore" -> "streaming.state_store",
    "graft.sources" -> "sources.clustered_sink")

  /** Layer of the innermost `graft.*` frame of a stage's call site, or
    * "other" for a graft frame of another class, or "" for none. */
  def layerOf(details: String): String =
    Option(details).toSeq.flatMap(_.linesIterator).map(_.trim)
      .find(_.startsWith("graft.")).map { frame =>
        val cls = frame.takeWhile(_ != '(').split('.').dropRight(1)
          .mkString(".").takeWhile(_ != '$')
        Layers.collectFirst { case (p, l) if cls.startsWith(p) => l }
          .getOrElse("other")
      }.getOrElse("")

  /** Length of the union of the intervals, clipped to [from, to]. */
  def busyMs(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var busy = 0L
    var reach = from
    spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { busy += e - math.max(s, reach); reach = e }
      }
    busy
  }
}

/** Sink wrapper of the traced refresh: records each model's write span
  * and tags the model's jobs `model:<name>` through a local property of
  * the DAG thread that runs it; once the write returns it retags the
  * thread `audit:<name>`, so the audit post-hook's jobs are told apart. */
final class TimedSink(inner: Sink, sc: SparkContext) extends Sink {
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[
    (String, String, Long, Long)]()

  def write(layer: String, name: String, df: DataFrame): DataFrame = {
    sc.setLocalProperty(Tracer.TagKey, s"model:$name")
    val t0 = System.currentTimeMillis()
    val out = inner.write(layer, name, df)
    spans.add((name, layer, t0, System.currentTimeMillis()))
    sc.setLocalProperty(Tracer.TagKey, s"audit:$name")
    out
  }
}
