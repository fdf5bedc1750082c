package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same time base as Spark's `QueryPlanningTracker` phase stamps. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One traced interval. Spans of one query or micro-batch share `trace`;
  * `parent` is the id of the enclosing span (-1 for a root). */
final case class Span(id: Int, parent: Int, trace: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder; written out once when the run ends. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  def add(parent: Int, trace: String, name: String, startMs: Double,
          endMs: Double): Int = synchronized {
    val id = buf.size
    buf += Span(id, parent, trace, name, startMs, endMs)
    id
  }

  def all: Vector[Span] = synchronized(buf.toVector)

  /** Self time per span: its duration minus the part of that interval
    * its children cover (children may overlap each other). */
  def selfTimes: Vector[(Span, Double)] = {
    val spans = all
    val kids = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0.0, Double.NegativeInfinity)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s -> math.max(0.0, s.durMs - covered)
    }
  }

  /** Per span name: count, total duration and total self time (ms). */
  def rollup: Vector[(String, Int, Double, Double)] =
    selfTimes.groupBy(_._1.name).toVector.map { case (name, xs) =>
      (name, xs.size, xs.map(_._1.durMs).sum, xs.map(_._2).sum)
    }.sortBy(-_._4)

  def toJson: String = all.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"trace":"${s.trace}","name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark work counted per job group, through the public listener bus.
  * The benchmark tags its own work with job groups (`<trace>.build`,
  * `<trace>.exec`); a streaming query's jobs carry its run id. */
final class JobCounts extends SparkListener {
  final class Counts {
    @volatile var jobs, stages, tasks, shuffleWriteBytes = 0L
  }
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  @volatile var totalTaskRunMs = 0L
  @volatile var totalSpillBytes = 0L

  private def counts(group: String): Counts = byGroup.computeIfAbsent(group, _ => new Counts)

  def get(group: String): Counts = byGroup.getOrDefault(group, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    counts(group).synchronized(counts(group).jobs += 1)
    e.stageInfos.foreach(si => stageGroup.put(si.stageId, group))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counts(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
    if (m != null) synchronized {
      totalTaskRunMs += m.executorRunTime
      totalSpillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Block until every event posted before this call has been handled:
    * the listener queue is FIFO, so once a job started after them is
    * seen, they have all been delivered. */
  def drain(spark: SparkSession): Unit = {
    val token = "perfbench.fence." + System.nanoTime()
    spark.sparkContext.setJobGroup(token, "listener fence", interruptOnCancel = false)
    try spark.sparkContext.parallelize(Seq(1), 1).count()
    finally spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    while (byGroup.get(token) == null || get(token).tasks < 1) {
      if (System.currentTimeMillis() > deadline) sys.error("listener bus did not drain")
      Thread.sleep(5)
    }
  }
}

/** JVM-wide counters read at the edges of the measured window. */
object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set (`VmHWM`) of this JVM in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
