package platbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PlatbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.cdc.DocSink

/** Layer-by-layer tracing from outside the program.
  *
  * A span wraps one benchmark call into a layer: it sets a Spark job
  * group and the thread-local properties [[Trace.LayerKey]] (layer name)
  * and [[Trace.TagKey]] (request or round tag), so every job the call
  * starts carries them. A listener records each job and stage with its
  * layer, tag and counters. Jobs inside `CdcPipeline.drain` that no
  * nested span claims are attributed by their job-start call site
  * (`Keyset.scala` → keyset, `CdcPipeline.scala` → docs.rebuild).
  *
  * With tracing off a span only runs its body: no listener, no
  * properties, no records.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  private val sc = spark.sparkContext

  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageLayer = mutable.HashMap.empty[Int, (String, String, Boolean)]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  private def siteFile(site: String): String = {
    // short call site: "<action> at <File>.scala:<line>"
    val at = site.lastIndexOf(" at ")
    val f = if (at >= 0) site.substring(at + 4) else site
    f.takeWhile(_ != ':')
  }

  private def refine(layer: String, site: String): String =
    if (layer != DrainLayer) layer
    else siteFile(site) match {
      case "Keyset.scala" => "keyset"
      case "CdcPipeline.scala" => "docs.rebuild"
      case other => s"cdc.other:$other"
    }

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val layer = refine(prop(e.properties, LayerKey), site)
      jobs(e.jobId) = JobRec(layer, prop(e.properties, TagKey),
        prop(e.properties, "spark.sql.execution.id"),
        prop(e.properties, PhaseKey) == "timed", e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        stageLayer(e.stageInfo.stageId) = (
          refine(prop(e.properties, LayerKey), e.stageInfo.name),
          prop(e.properties, TagKey), prop(e.properties, PhaseKey) == "timed")
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        val (layer, tag, timed) = stageLayer.getOrElse(i.stageId, ("", "", false))
        val m = i.taskMetrics
        if (m != null) stages += StageRec(layer, tag, timed, i.numTasks,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten,
          m.executorCpuTime)
      }
  }
  if (on) sc.addSparkListener(listener)

  /** Run `f` as layer `layer`, tagged `tag`; returns its result. */
  def span[T](layer: String, tag: String = "")(f: => T): T =
    if (!on) f
    else {
      val oldLayer = sc.getLocalProperty(LayerKey)
      val oldTag = sc.getLocalProperty(TagKey)
      sc.setJobGroup(layer, layer)
      sc.setLocalProperty(LayerKey, layer)
      if (tag.nonEmpty) sc.setLocalProperty(TagKey, tag)
      try f
      finally {
        sc.setLocalProperty(LayerKey, oldLayer)
        sc.setLocalProperty(TagKey, oldTag)
        if (oldLayer == null) sc.clearJobGroup()
        else sc.setJobGroup(oldLayer, oldLayer)
      }
    }

  /** From here on, jobs count as the timed phase's. */
  def startTimed(): Unit = if (on) sc.setLocalProperty(PhaseKey, "timed")

  /** Deliver every pending listener event. */
  def flush(): Unit = if (on) PlatbenchBus.flush(sc)

  /** Counters of the jobs and stages whose (layer, tag) match: those of
    * the timed phase, or of the whole run when `setup` is set.
    */
  def agg(layer: String => Boolean, tag: String => Boolean = _ => true,
      setup: Boolean = false): Agg =
    synchronized {
      val js = jobs.values
        .filter(j => (setup || j.timed) && layer(j.layer) && tag(j.tag)).toSeq
      val ss = stages
        .filter(s => (setup || s.timed) && layer(s.layer) && tag(s.tag)).toSeq
      Agg(js.size, js.map(_.execId).filter(_.nonEmpty).distinct.size,
        ss.size, ss.map(_.tasks.toLong).sum,
        ss.map(_.inputB).sum / MB, ss.map(s => s.shReadB + s.shWriteB).sum / MB,
        ss.map(_.outB).sum / MB, ss.map(_.cpuNs).sum / 1e9,
        js.map(j => (j.start, j.end)))
    }

  /** Job starts (epoch ms) whose layer matches, ascending. */
  def jobStarts(layer: String => Boolean): Seq[Long] = synchronized {
    jobs.values.filter(j => j.timed && layer(j.layer)).map(_.start).toSeq.sorted
  }
}

object Trace {
  final case class JobRec(layer: String, tag: String, execId: String,
      timed: Boolean, start: Long, var end: Long)
  final case class StageRec(layer: String, tag: String, timed: Boolean,
      tasks: Int, inputB: Long, shReadB: Long, shWriteB: Long, outB: Long,
      cpuNs: Long)
  final case class Agg(jobs: Int, execs: Int, stages: Int, tasks: Long,
      inputMb: Double, shuffleMb: Double, outMb: Double, cpuS: Double,
      jobIntervals: Seq[(Long, Long)])

  val LayerKey = "platbench.layer"
  val TagKey = "platbench.tag"
  val PhaseKey = "platbench.phase"
  val DrainLayer = "cdc.drain"
  val TraceLayer = "trace" // the tracer's own probes; excluded from layers
  val MB = 1024.0 * 1024.0

  /** Length of the union of [start, end] intervals (ms). */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** JVM totals: (GC seconds, peak heap MB since the last reset). */
  def jvm(): (Double, Double) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / MB
    (gc, heap)
  }
  def resetPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}

/** A [[DocSink]] that times the program's sink calls as layer
  * `sink.<name>` and, when traced, records what each upsert carried:
  * rows, distinct ids, and the docs' own parquet size (written once to
  * a probe directory under the tracer's own layer).
  */
final class TracedSink(name: String, inner: DocSink, tr: Trace,
    tag: () => String, probeDir: String) extends DocSink {
  var upserts = 0
  var rows = 0L
  var docBytes = 0L
  var seconds = 0.0
  val ids = mutable.HashSet.empty[String]
  val upsertEnds = mutable.ArrayBuffer.empty[Long]

  def idCol: String = inner.idCol

  def upsert(docs: DataFrame): Unit = {
    if (tr.on) tr.span(Trace.TraceLayer, tag()) {
      val got = docs.select(idCol).collect().map(_.getString(0))
      rows += got.length
      ids ++= got
      val p = s"$probeDir/$name-$upserts"
      docs.write.parquet(p)
      docBytes += Disk.bytes(p)
      Disk.rm(p)
    }
    val t0 = System.nanoTime()
    tr.span(s"sink.$name", tag())(inner.upsert(docs))
    seconds += (System.nanoTime() - t0) / 1e9
    upserts += 1
    upsertEnds += System.currentTimeMillis()
  }

  def delete(ids: DataFrame): Unit =
    tr.span(s"sink.$name", tag())(inner.delete(ids))

  def read(): Option[DataFrame] = inner.read()

  def reset(): Unit = {
    upserts = 0; rows = 0L; docBytes = 0L; seconds = 0.0
    ids.clear(); upsertEnds.clear()
  }
}
