package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Settings(workload: String, seed: Long, seconds: Int, trace: Boolean,
                          sfDir: String, work: Path, out: Path, expected: Path,
                          cores: Int, inject: Option[String], record: Option[Path],
                          survey: Option[Path])

/** A named metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a measured window produced. `endToEnd` and `perLayer` are the
  * metrics BENCHMARK.json declares; `extra` are the workload's own
  * named numbers that only the sidecar report and the summary line carry. */
final case class Outcome(attempted: Long, failed: Long, endToEnd: Vector[Metric],
                         perLayer: Vector[Metric], extra: Vector[Metric],
                         spans: Option[Spans], inputsDigest: String)

/** A workload: prepared once per set-up repetition, measured once. */
trait Workload {
  /** Build everything the measured window needs in a fresh session. */
  def setup(spark: SparkSession): Unit
  /** Measure for `seconds`; with `trace`, also record spans. */
  def measure(spark: SparkSession, trace: Boolean): Outcome
  /** Release what `setup` started (streams), before the session stops. */
  def teardown(): Unit = ()
  /** Set-up time spent building `Memo` serving tables, last repetition. */
  def memoColdS: Double = 0.0
}

object Main {
  /** Set-up repetitions per run; `setup_s` is their median. The first
    * also pays JVM warm-up (JIT, class loading), which the median drops. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val s = parse(argv)
    s.survey.foreach { path => Survey.run(s, path); return }
    val wl: Workload = s.workload match {
      case "query_mix" => new QueryLoop(s, Pinned.queryMix)
      case "cdc_live" => new CdcLive(s)
      case other => fail(s"unknown workload '$other'")
    }
    s.record.foreach { path =>
      wl match {
        case loop: QueryLoop => loop.record(path); return
        case _ => fail(s"${s.workload} checks against a batch recomputation; nothing to record")
      }
    }
    val loadStart = loadAvg
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to SetupReps) {
      if (spark != null) { wl.teardown(); spark.stop(); graft.Memo.clearAll() }
      Files.createDirectories(s.work)
      Wipe(s.work)
      val t0 = Clock.nowMs
      spark = session(s)
      wl.setup(spark)
      setupS += (Clock.nowMs - t0) / 1000.0
    }
    val o = wl.measure(spark, s.trace)
    wl.teardown()
    val rss = Jvm.peakRssMb
    spark.stop()

    val setupMedian = Stats.median(setupS.toVector)
    val e2e = o.endToEnd ++ Vector(
      Metric("peak_rss_mb", rss, "MB"), Metric("setup_s", setupMedian, "s"))
    val extra = o.extra ++ Vector(
      Metric("error_rate", o.failed.toDouble / math.max(1L, o.attempted), "ratio"),
      Metric("memo.cold_build_s", wl.memoColdS, "s"))
    val perLayer = if (s.trace) o.perLayer else Vector.empty
    val context = Vector(
      "workload" -> q(s.workload), "seed" -> s.seed.toString, "seconds" -> s.seconds.toString,
      "trace" -> (if (s.trace) "1" else "0"), "nproc" -> s.cores.toString,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg,
      "setup_reps_s" -> setupS.map(x => f"$x%.4f").mkString("[", ",", "]"),
      "inputs_sha256" -> q(o.inputsDigest))

    Files.createDirectories(s.out)
    val tag = s"${s.workload}-seed${s.seed}-trace${if (s.trace) 1 else 0}"
    o.spans.foreach { sp =>
      Files.writeString(s.out.resolve(s"spans-$tag.json"), sp.toJson)
      val roll = sp.rollup.map { case (name, n, total, self) =>
        f""""$name":{"count":$n,"total_ms":$total%.3f,"self_ms":$self%.3f}"""
      }.mkString("{", ",", "}")
      Files.writeString(s.out.resolve(s"rollup-$tag.json"), roll + "\n")
    }
    val report = "{" + (context.map { case (k, v) => s""""$k":$v""" } ++ Vector(
      s""""attempted":${o.attempted}""", s""""failed":${o.failed}""",
      s""""end_to_end":${json(e2e)}""", s""""per_layer":${json(perLayer)}""",
      s""""workload_metrics":${json(extra)}""")).mkString(",") + "}"
    Files.writeString(s.out.resolve(s"report-$tag.json"), report + "\n")
    // Human-readable lines first; the contract's JSON object is last.
    (e2e ++ extra ++ perLayer).foreach { m =>
      System.out.println(f"[perfbench] ${m.name}%-34s ${m.value}%14.4f ${m.unit}")
    }
    System.out.println("[perfbench] context " +
      context.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
    System.out.println(s"""{"correct":${o.failed == 0},"attempted":${o.attempted},""" +
      s""""failed":${o.failed},"metrics":${json(if (s.trace) perLayer else e2e)}}""")
    System.out.flush()
  }

  private def q(x: String): String = "\"" + x + "\""

  private def json(ms: Vector[Metric]): String = ms.map { m =>
    val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
    s""""${m.name}":{"value":$v,"unit":"${m.unit}"}"""
  }.mkString("{", ",", "}")

  private def loadAvg: String = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(" ").take(3).mkString("[", ",", "]") finally src.close()
  } catch { case _: Throwable => "null" }

  def session(s: Settings): SparkSession = {
    val spark = graft.Graft.sessionBuilder(s.cores, "perfbench")
      .master(s"local[${s.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s.work.resolve("warehouse").toString)
      .config("spark.local.dir", s.work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  private def parse(argv: Array[String]): Settings = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String): String = kv.getOrElse(k, fail(s"missing --$k"))
    val sf = req("sf")
    if (!Files.isDirectory(Paths.get(sf))) fail(s"test data directory $sf not found")
    Settings(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      sf, Paths.get(req("work")).toAbsolutePath, Paths.get(req("out")).toAbsolutePath,
      Paths.get(req("expected")), Runtime.getRuntime.availableProcessors,
      kv.get("inject"), kv.get("record").map(Paths.get(_)), kv.get("survey").map(Paths.get(_)))
  }
}

object Wipe {
  /** Empty a work directory the benchmark owns, keeping the directory. */
  def apply(dir: Path): Unit = if (Files.isDirectory(dir)) {
    val walk = Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
      if (p != dir) Files.delete(p)
    } finally walk.close()
  }
}

object Stats {
  /** Linear-interpolated quantile of `xs` at `p` in [0, 1]. */
  def quantile(xs: Vector[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Vector[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Vector[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
