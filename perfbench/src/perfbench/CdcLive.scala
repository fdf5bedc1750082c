package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ops.{CdcQueries, ReferenceQueries}
import graft.streaming.{Materializer, Sinks}

/** Open loop: the paper's pipeline with its dashboard reading next to it.
  *
  * The mixed Debezium log of `CdcQueries.eventLog` (inserts, updates,
  * deletes, replays) for the orders with `orderid <= KeyBound` is shuffled
  * by the seed, so each key's events arrive out of lsn order, and cut into
  * newline-JSON files. The first part lands before the stream starts (the
  * initial snapshot); the rest lands on a fixed schedule, one file every
  * `FileEveryMs`, into `Sources.envelopeFileStream`, which feeds
  * `Materializer.startUpsert`. After each committed micro-batch one reader
  * runs the reference A1-A3 KQL text through `KqlParser.run` over
  * `Sinks.readLatest`.
  *
  * Freshness of a file runs from its scheduled landing to the completion
  * of the first answer whose snapshot includes it. The file source takes
  * files in landing order, so cumulative `numInputRows` maps files to
  * micro-batches, and a snapshot's version is its micro-batch id. */
final class CdcLive(s: Settings) extends Workload {
  /** A tenth of the sf0.1 orders: ~18.5k envelopes, a ~14k-row table. */
  val KeyBound = 60000
  /** Offered load: 500 rows/s in 2 s micro-batches, which take about 1 s
    * on 4 cores, so a stall shows as freshness and not as a growing
    * backlog. */
  val FileEveryMs = 100
  val RowsPerFile = 50
  val TriggerMs = 2000
  val MaxFilesPerTrigger = 60
  /** Files land for this long before the measured window opens, so the
    * JIT has compiled the per-batch code paths before they are timed. */
  val LeadInS = 6
  /** A late answer for the last files fails the run after this long. */
  val DrainTimeoutMs = 60000L

  private val texts = Vector("A1" -> ReferenceQueries.kqlAvgText,
    "A2" -> ReferenceQueries.kqlTotalText, "A3" -> ReferenceQueries.kqlCountText)

  private def dir(n: String): Path = s.work.resolve("cdc").resolve(n)
  private def landing = dir("landing")
  private def table = dir("table").toString

  private var stream: StreamingQuery = _
  /** Live files in landing order: (staged path, line count). */
  private var live = Vector.empty[(Path, Int)]
  private var initialRows = 0L
  private var digest = ""
  /** The log slice, rendered once per JVM; later set-ups reuse it. */
  private var rendered = Vector.empty[String]

  def setup(spark: SparkSession): Unit = {
    val log = envelopes(spark)
    val liveRows = math.min(log.size - 4 * RowsPerFile,
      (s.seconds + LeadInS).toLong * 1000 / FileEveryMs * RowsPerFile).toInt
    val (initial, rest) = log.splitAt(log.size - liveRows)
    Seq("landing", "staging", "table", "checkpoint").foreach(n => Files.createDirectories(dir(n)))
    Files.write(landing.resolve("initial.json"), initial.asJava)
    live = rest.grouped(RowsPerFile).zipWithIndex.map { case (chunk, i) =>
      val p = dir("staging").resolve(f"live-$i%06d.json")
      Files.write(p, chunk.asJava)
      (p, chunk.size)
    }.toVector
    initialRows = initial.size.toLong
    digest = Inputs.sha256(log.mkString("\n"))

    stream = Materializer.startUpsert(
      graft.sources.Sources.envelopeFileStream(spark, landing.toString, MaxFilesPerTrigger),
      table, dir("checkpoint").toString, Trigger.ProcessingTime(TriggerMs.toLong))
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    while (rowsDone < initialRows) {
      stream.exception.foreach(e => throw e)
      if (System.currentTimeMillis() > deadline) sys.error("initial snapshot not ingested")
      Thread.sleep(20)
    }
    texts.foreach { case (_, t) => Digest.of(read(spark, t)._1) }
  }

  /** The sf0.1 log slice in the seed's arrival order. */
  private def envelopes(spark: SparkSession): Vector[String] = {
    if (rendered.isEmpty) {
      val key = coalesce(get_json_object(col("value"), "$.payload.after.orderid"),
        get_json_object(col("value"), "$.payload.before.orderid")).cast("int")
      rendered = CdcQueries.eventLog(spark, s.sfDir).filter(key <= KeyBound)
        .collect().map(_.getString(0)).sorted.toVector
    }
    new scala.util.Random(s.seed).shuffle(rendered)
  }

  private def read(spark: SparkSession, text: String): (DataFrame, Long) = {
    val snap = Sinks.readLatest(spark, table)
    val version = snap.inputFiles.headOption.flatMap(f => "/v=(\\d+)/".r.findFirstMatchIn(f))
      .map(_.group(1).toLong).getOrElse(-1L)
    (graft.kql.KqlParser.run(text, Map("Orders" -> snap)), version)
  }

  private def progress: Vector[StreamingQueryProgress] =
    stream.recentProgress.toVector.filter(_.numInputRows > 0)
      .groupBy(_.batchId).values.map(_.head).toVector.sortBy(_.batchId)

  private def rowsDone: Long = progress.map(_.numInputRows).sum

  override def teardown(): Unit = if (stream != null) {
    stream.stop()
    stream.awaitTermination()
    stream = null
  }

  def measure(spark: SparkSession, trace: Boolean): Outcome = {
    val tr = new Tracing(spark)
    // Spark fires processing-time triggers on multiples of the interval;
    // starting the schedule at a fixed phase to them keeps the mix of
    // waits the same from run to run.
    val start = (math.floor(Clock.nowMs / TriggerMs) + 1) * TriggerMs + FileEveryMs / 2
    val due = live.indices.map(i => start + i.toDouble * FileEveryMs).toVector
    val t0 = start + LeadInS * 1000.0
    val window = live.indices.filter(due(_) >= t0)
    val landed = new Array[Double](live.size)
    val gen = new Thread(() => live.zipWithIndex.foreach { case ((p, _), i) =>
      val wait = due(i) - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      // mtime = due time: the file source orders new files by mtime
      Files.setLastModifiedTime(p, FileTime.fromMillis(due(i).toLong))
      Files.move(p, landing.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      landed(i) = Clock.nowMs
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()

    // (name, version, completion ms, digest)
    val answers = ArrayBuffer.empty[(String, Long, Double, Digest)]
    val ops = ArrayBuffer.empty[OpTrace]
    var readFailures = 0L
    val totalRows = initialRows + live.map(_._2).sum
    val drainDeadline = t0 + s.seconds * 1000.0 + DrainTimeoutMs
    def lastBatch = progress.lastOption.map(_.batchId).getOrElse(-1L)
    def finalAnswered = gen.getState == Thread.State.TERMINATED && rowsDone >= totalRows &&
      texts.forall { case (n, _) => answers.exists(a => a._1 == n && a._2 >= lastBatch) }
    var i = 0
    var readUpTo = lastBatch
    while (!finalAnswered && Clock.nowMs < drainDeadline) {
      stream.exception.foreach(e => throw e)
      if (lastBatch <= readUpTo) Thread.sleep(10)
      else texts.foreach { case (name, text) =>
        val inWindow = Clock.nowMs >= t0
        try {
          var version = -1L
          val (dg, op) = tr.op("serve.query", "kql", trace && i % 2 == 0) {
            val (df, v) = read(spark, text); version = v; df
          }
          if (inWindow) ops += op
          answers += ((name, version, op.endMs, dg))
          readUpTo = math.max(readUpTo, version)
        } catch {
          case e: Exception =>
            readFailures += 1
            System.err.println(s"perfbench: read $name failed: $e")
        }
        i += 1
      }
    }
    val readWindowS = (Clock.nowMs - t0) / 1000.0
    tr.closeWindow()
    gen.join()
    def batchStart(p: StreamingQueryProgress): Double =
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val batches = progress.filter(batchStart(_) >= t0)
    val timed = tr.withCounts(ops.toVector)

    // file -> micro-batch -> first answer on a snapshot that includes it
    val cumBatch = progress.scanLeft(0L)(_ + _.numInputRows).tail.zip(progress.map(_.batchId))
    val cumFile = live.map(_._2.toLong).scanLeft(initialRows)(_ + _).tail
    val answerAt = answers.sortBy(_._3)
    val freshness = window.flatMap { f =>
      cumBatch.find(_._1 >= cumFile(f)).map(_._2).flatMap { b =>
        answerAt.find(_._2 >= b).map(a => (a._3 - due(f)) / 1000.0)
      }
    }.toVector
    val uncovered = window.size - freshness.size

    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
    def sumDur(k: String*): Double = batches.map(p => k.map(dur(p, _)).sum).sum
    val trigger = sumDur("triggerExecution")
    val inputRows = batches.map(_.numInputRows).sum
    // median over batches: one batch slowed by a noisy neighbour does not
    // move it; every batch takes the same 2 s of files
    val capacity = Stats.median(batches.map(p => p.numInputRows / math.max(dur(p, "triggerExecution"), 1.0) * 1000.0))
    val lat = timed.map(_.latencyMs)
    val startOf = progress.map(p => p.batchId -> batchStart(p)).toMap
    val triggerWait = window.flatMap { f =>
      cumBatch.find(_._1 >= cumFile(f)).map(b => startOf(b._2) - landed(f))
    }.toVector
    val late = landed.indices.map(f => landed(f) - due(f)).toVector
    def perBatchMed(k: String*) = Stats.median(batches.map(p => k.map(dur(p, _)).sum))

    if (trace) batches.foreach { p =>
      val id = s"batch${p.batchId}"
      val at0 = batchStart(p)
      val r = tr.spans.add(-1, id, "batch", at0, at0 + dur(p, "triggerExecution"))
      Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "streaming.wal_commit",
        "getBatch" -> "sources.get_batch", "queryPlanning" -> "streaming.query_planning",
        "addBatch" -> "streaming.add_batch", "commitOffsets" -> "streaming.commit_offsets")
        .foldLeft(at0) { case (at, (k, name)) =>
          tr.spans.add(r, id, name, at, at + dur(p, k)); at + dur(p, k)
        }
    }
    val layers = if (!trace) StreamLayers.none else {
      val versions = batches.map(p => s"$table/v=${p.batchId}")
      val bytes = versions.map(v => Files.walk(java.nio.file.Paths.get(v)).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum).sum
      val written = versions.map(v => spark.read.parquet(v).count()).sum
      val state = batches.lastOption.flatMap(_.stateOperators.headOption)
      StreamLayers(state.map(_.numRowsTotal).getOrElse(0L),
        state.map(_.memoryUsedBytes).getOrElse(0L), bytes, written.toDouble / math.max(1L, inputRows),
        sumDur("addBatch") / trigger, sumDur("walCommit", "commitOffsets") / trigger,
        sumDur("queryPlanning") / trigger, sumDur("latestOffset", "getBatch") / trigger)
    }
    val perLayer = tr.perLayer(timed, layers, s.cores)
    val checks = finalChecks(spark, answers.toVector)
    val failedChecks = checks.count(!_._2)
    checks.filterNot(_._2).foreach(c => System.err.println(s"perfbench: check ${c._1} failed"))
    Outcome(
      attempted = i.toLong + window.size + checks.size,
      failed = readFailures + uncovered + failedChecks,
      endToEnd = Vector(
        Metric("latency_p50_ms", Stats.median(freshness) * 1000.0, "ms"),
        Metric("latency_p90_ms", Stats.quantile(freshness, 0.9) * 1000.0, "ms"),
        Metric("throughput_per_s", capacity, "1/s")),
      perLayer = perLayer,
      extra = Vector(
        Metric("freshness_p50_s", Stats.median(freshness), "s"),
        Metric("freshness_p90_s", Stats.quantile(freshness, 0.9), "s"),
        Metric("freshness_p90_share_of_60s_budget", Stats.quantile(freshness, 0.9) / 60.0, "ratio"),
        Metric("ingest_capacity_rows_per_s", capacity, "rows/s"),
        Metric("offered_rows_per_s", RowsPerFile * 1000.0 / FileEveryMs, "rows/s"),
        Metric("query_p50_ms", Stats.median(lat), "ms"),
        Metric("query_p90_ms", Stats.quantile(lat, 0.9), "ms"),
        Metric("queries_per_s", lat.size / readWindowS, "1/s"),
        Metric("files", window.size.toDouble, "count"),
        Metric("streaming.batches", batches.size.toDouble, "count"),
        Metric("streaming.input_rows", inputRows.toDouble, "count"),
        Metric("gen.late_p50_ms", Stats.median(late), "ms"),
        Metric("gen.late_max_ms", if (late.isEmpty) 0.0 else late.max, "ms"),
        Metric("sources.trigger_wait_ms", Stats.median(triggerWait), "ms"),
        Metric("sources.get_batch_ms", perBatchMed("latestOffset", "getBatch"), "ms"),
        Metric("streaming.planning_ms", perBatchMed("queryPlanning"), "ms"),
        Metric("streaming.add_batch_ms", perBatchMed("addBatch"), "ms"),
        Metric("streaming.commit_ms", perBatchMed("walCommit", "commitOffsets"), "ms"),
        Metric("streaming.trigger_ms", perBatchMed("triggerExecution"), "ms")),
      spans = if (trace) Some(tr.spans) else None,
      inputsDigest = digest)
  }

  /** The served table against the batch latest state over the same log,
    * and each reference answer on the final snapshot against the same KQL
    * over that batch answer. */
  private def finalChecks(spark: SparkSession, answers: Vector[(String, Long, Double, Digest)])
      : Vector[(String, Boolean)] = {
    val cols = Seq("orderid", "custid", "amount", "city").map(col)
    val batch = CdcQueries.latestState(spark, s.sfDir).filter(col("orderid") <= KeyBound)
    val served = Sinks.readLatest(spark, table)
    val finalVersion = progress.last.batchId
    // The self-test corrupts one expected value to prove a mismatch counts.
    def expect(name: String, df: DataFrame): Digest = {
      val d = Digest.of(df)._1
      if (s.inject.contains(name)) d.copy(rows = d.rows + 1) else d
    }
    ("table", Digest.of(served.select(cols: _*))._1.matches(
      expect("table", batch.select(cols: _*)), shapeOnly = false)) +:
      texts.map { case (name, text) =>
        val want = expect(name, graft.kql.KqlParser.run(text, Map("Orders" -> batch)))
        (name, answers.filter(a => a._1 == name && a._2 == finalVersion).lastOption
          .exists(_._4.matches(want, shapeOnly = false)))
      }
  }
}
