package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timings and Spark counts of one query-shaped operation: a build call
  * into the program, then the digest action that executes it. Spark
  * counts are filled in only for traced operations. `endMs` is when the
  * result was collected. */
final case class OpTrace(id: String, traced: Boolean, latencyMs: Double, endMs: Double,
                         buildMs: Double, analysisMs: Double, optimizationMs: Double,
                         planningMs: Double, execMs: Double, buildJobs: Long, jobs: Long,
                         stages: Long, tasks: Long, shuffleWriteBytes: Long)

/** Streaming-side per-layer numbers (zero where no stream runs). */
final case class StreamLayers(stateRows: Long, stateBytes: Long, sinkBytes: Long,
                              rowsWrittenPerInputRow: Double, addBatchShare: Double,
                              commitShare: Double, planningShare: Double, getBatchShare: Double)

object StreamLayers {
  val none: StreamLayers = StreamLayers(0, 0, 0, 0.0, 0.0, 0.0, 0.0, 0.0)
}

/** Tracing state of one measured window. The job listener is attached
  * only while a traced operation runs, so untraced operations run as in
  * an untraced run and `trace.overhead_ratio` compares the two. */
final class Tracing(spark: SparkSession) {
  val spans = new Spans
  val jobs = new JobCounts
  private final case class Counters(gcMs: Long, jitMs: Long, memoComputes: Long)
  private def counters = Counters(Jvm.gcMs, Jvm.jitMs, graft.Memo.computeCount)
  private val start = counters
  private var end: Option[Counters] = None
  private var tracedMs = 0.0
  private var ops = 0L

  /** Read the window-wide JVM and `Memo` counters; work the benchmark
    * runs after this (checks, roll-ups) does not count. */
  def closeWindow(): Unit = if (end.isEmpty) end = Some(counters)

  /** Run one operation: `build` (the call into the program, recorded as
    * a `<module>.build` span) and then the digest of its result. A traced
    * operation tags its Spark jobs with job groups and records spans; its
    * listener events are drained after its latency is taken. */
  def op(root: String, module: String, traced: Boolean)
        (build: => DataFrame): (Digest, OpTrace) = {
    val id = s"${root.replace('.', '_')}$ops"
    ops += 1
    val sc = spark.sparkContext
    if (traced) sc.addSparkListener(jobs)
    val tA = Clock.nowMs
    if (traced) sc.setJobGroup(s"$id.build", id, interruptOnCancel = false)
    try {
      val df = build
      val tB = Clock.nowMs
      if (traced) sc.setJobGroup(s"$id.exec", id, interruptOnCancel = false)
      val (dg, forced) = Digest.of(df)
      val tC = Clock.nowMs
      val phases = forced.queryExecution.tracker.phases
      def phase(n: String): Option[(Double, Double)] =
        phases.get(n).map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      def dur(n: String): Double = phase(n).map { case (a, b) => b - a }.getOrElse(0.0)
      val execStart = phase("planning").map(_._2).getOrElse(tB)
      if (traced) {
        val r = spans.add(-1, id, root, tA, tC)
        spans.add(r, id, s"$module.build", tA, tB)
        Seq("analysis", "optimization", "planning").foreach { n =>
          phase(n).foreach { case (a, b) => spans.add(r, id, s"spark.$n", a, b) }
        }
        spans.add(r, id, "spark.exec", execStart, tC)
        tracedMs += tC - tA
      }
      (dg, OpTrace(id, traced, tC - tA, tC, tB - tA, dur("analysis"), dur("optimization"),
        dur("planning"), tC - execStart, 0, 0, 0, 0, 0))
    } finally if (traced) {
      sc.clearJobGroup()
      jobs.drain(spark)
      sc.removeSparkListener(jobs)
    }
  }

  /** Fill Spark counts into traced operations, in the order they ran. */
  def withCounts(traces: Vector[OpTrace]): Vector[OpTrace] =
    traces.map { t =>
      if (!t.traced) t
      else {
        val b = jobs.get(s"${t.id}.build")
        val e = jobs.get(s"${t.id}.exec")
        t.copy(buildJobs = b.jobs, jobs = e.jobs, stages = e.stages, tasks = e.tasks,
          shuffleWriteBytes = e.shuffleWriteBytes + b.shuffleWriteBytes)
      }
    }

  /** The per-layer metrics BENCHMARK.json declares, in its order. */
  def perLayer(traces: Vector[OpTrace], stream: StreamLayers, cores: Int): Vector[Metric] = {
    closeWindow()
    val w = end.get
    val t = traces.filter(_.traced)
    def med(f: OpTrace => Double) = Stats.median(t.map(f))
    def avg(f: OpTrace => Double) = Stats.mean(t.map(f))
    val untraced = traces.filterNot(_.traced).map(_.latencyMs)
    Vector(
      Metric("build_ms", med(_.buildMs), "ms"),
      Metric("build_jobs", avg(_.buildJobs.toDouble), "count"),
      Metric("spark.analysis_ms", med(_.analysisMs), "ms"),
      Metric("spark.optimization_ms", med(_.optimizationMs), "ms"),
      Metric("spark.planning_ms", med(_.planningMs), "ms"),
      Metric("spark.exec_ms", med(_.execMs), "ms"),
      Metric("spark.jobs", avg(_.jobs.toDouble), "count"),
      Metric("spark.stages", avg(_.stages.toDouble), "count"),
      Metric("spark.tasks", avg(_.tasks.toDouble), "count"),
      Metric("spark.shuffle_write_bytes", avg(_.shuffleWriteBytes.toDouble), "bytes"),
      Metric("spark.spill_bytes", jobs.totalSpillBytes.toDouble, "bytes"),
      Metric("spark.gc_ms", (w.gcMs - start.gcMs).toDouble, "ms"),
      Metric("spark.jit_ms", (w.jitMs - start.jitMs).toDouble, "ms"),
      Metric("spark.busy_ratio", jobs.totalTaskRunMs / (tracedMs * cores), "ratio"),
      Metric("memo.computes_in_timed", (w.memoComputes - start.memoComputes).toDouble, "count"),
      Metric("streaming.state_rows", stream.stateRows.toDouble, "count"),
      Metric("streaming.state_bytes", stream.stateBytes.toDouble, "bytes"),
      Metric("streaming.add_batch_share", stream.addBatchShare, "ratio"),
      Metric("streaming.planning_share", stream.planningShare, "ratio"),
      Metric("streaming.commit_share", stream.commitShare, "ratio"),
      Metric("sources.get_batch_share", stream.getBatchShare, "ratio"),
      Metric("sinks.bytes_written", stream.sinkBytes.toDouble, "bytes"),
      Metric("sinks.rows_written_per_input_row", stream.rowsWrittenPerInputRow, "ratio"),
      Metric("trace.overhead_ratio",
        Stats.median(t.map(_.latencyMs)) / Stats.median(untraced) - 1.0, "ratio"))
  }
}
