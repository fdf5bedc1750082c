package perfbench

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed loop, one client: the pinned queries of `SparkEntry.queries`
  * run back to back, each cycle in a fresh seeded order, until the
  * window has passed and at least `MinSamples` queries ran; the cycle in
  * flight then completes, so every run times whole cycles of the same
  * mix. Latency runs from the start of the build call to the collected
  * digest. */
final class QueryLoop(s: Settings, pinned: Pinned.QuerySet) extends Workload {
  /** Enough latencies for a p90 with ten samples beyond it. */
  val MinSamples = 100
  private var memoCold = 0.0

  override def memoColdS: Double = memoCold

  private def build(spark: SparkSession, name: String) =
    graft.SparkEntry.queries.getOrElse(name, Main.fail(s"query $name is not registered"))(
      spark, s.sfDir)

  /** Memo-backed serving tables first (timed apart), then one untimed
    * warm pass over every pinned query. */
  def setup(spark: SparkSession): Unit = warmPass(spark): Unit

  private def warmPass(spark: SparkSession): Seq[Digest] = {
    val t0 = Clock.nowMs
    pinned.memoCold.foreach(n => Digest.of(build(spark, n)))
    memoCold = (Clock.nowMs - t0) / 1000.0
    pinned.names.map(n => Digest.of(build(spark, n))._1)
  }

  /** Write the expected-results file: digests at full and at half the
    * parallelism. Queries whose digests differ between the two depend on
    * partitioning and are checked by row count and schema only. */
  def record(path: java.nio.file.Path): Unit = {
    def pass(cores: Int): Seq[Digest] = {
      Wipe(s.work)
      graft.Memo.clearAll()
      val spark = Main.session(s.copy(cores = cores))
      try warmPass(spark) finally spark.stop()
    }
    val full = pass(s.cores)
    val half = pass(math.max(1, s.cores / 2))
    val lines = pinned.names.zip(full.zip(half)).map { case (n, (a, b)) =>
      s"$n\t${if (a.matches(b, shapeOnly = false)) "hash" else "shape"}\t${a.encode}"
    }
    Files.write(path, ("# name\tcheck\trows\thash\tfloat sums\tschema" +: lines).asJava): Unit
  }

  /** The seeded query order of the first 50 cycles, as hashed input. */
  private def inputsDigest: String = {
    val rng = new scala.util.Random(s.seed)
    Inputs.sha256(Vector.fill(50)(rng.shuffle(pinned.names).mkString(",")).mkString("\n"))
  }

  def measure(spark: SparkSession, trace: Boolean): Outcome = {
    final case class Cycle(latencies: Vector[Double], ran: Int, ms: Double)
    val expected = Expected.load(s, pinned.names)
    val rng = new scala.util.Random(s.seed)
    val tr = new Tracing(spark)
    val ops = ArrayBuffer.empty[(String, OpTrace)]
    val cycles = ArrayBuffer.empty[Cycle]
    var failed = 0L
    val t0 = Clock.nowMs
    while (cycles.isEmpty || Clock.nowMs - t0 < s.seconds * 1000.0 ||
        cycles.map(_.ran).sum < MinSamples) {
      val traced = trace && cycles.size % 2 == 0
      val c0 = Clock.nowMs
      val names = rng.shuffle(pinned.names)
      val before = ops.size
      names.foreach { name =>
        try {
          val (dg, op) = tr.op("query", Pinned.module(name), traced)(build(spark, name))
          ops += name -> op
          if (!expected(name)(dg)) {
            failed += 1
            System.err.println(s"perfbench: $name returned a wrong result: $dg")
          }
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"perfbench: $name failed: $e")
        }
      }
      cycles += Cycle(ops.drop(before).map(_._2.latencyMs).toVector, names.size, Clock.nowMs - c0)
    }
    val elapsedS = (Clock.nowMs - t0) / 1000.0
    tr.closeWindow()
    val attempted = cycles.map(_.ran).sum
    val timed = tr.withCounts(ops.map(_._2).toVector)
    val lat = timed.map(_.latencyMs)
    // Each cycle runs the same queries, so per-cycle figures are alike;
    // their median over cycles shrugs off a cycle that JIT work or a
    // noisy neighbour slowed.
    def overCycles(f: Cycle => Double) = Stats.median(cycles.toVector.map(f))
    val e2e = Vector(
      Metric("latency_p50_ms", overCycles(c => Stats.median(c.latencies)), "ms"),
      Metric("latency_p90_ms", overCycles(c => Stats.quantile(c.latencies, 0.9)), "ms"),
      Metric("throughput_per_s", overCycles(c => c.ran / (c.ms / 1000.0)), "1/s"))
    val perQuery = ops.map(_._1).zip(lat).groupBy(_._1).toVector.sortBy(_._1).map {
      case (n, xs) => Metric(s"query.$n", Stats.median(xs.map(_._2).toVector), "ms")
    }
    Outcome(attempted.toLong, failed, e2e, tr.perLayer(timed, StreamLayers.none, s.cores),
      Vector(Metric("query_p50_ms", Stats.median(lat), "ms"),
        Metric("query_p90_ms", Stats.quantile(lat, 0.9), "ms"),
        Metric("queries_per_s", attempted / elapsedS, "1/s"),
        Metric("samples", lat.size.toDouble, "count"),
        Metric("cycles", cycles.size.toDouble, "count")) ++ perQuery,
      if (trace) Some(tr.spans) else None, inputsDigest)
  }
}

/** The expected digests the benchmark stores for its test data. */
object Expected {
  def load(s: Settings, names: Seq[String]): Map[String, Digest => Boolean] = {
    if (!Files.isReadable(s.expected)) Main.fail(s"expected results ${s.expected} not found")
    val rows = Files.readAllLines(s.expected).asScala.filterNot(_.startsWith("#")).map { l =>
      val Array(name, mode, rest) = l.split("\t", 3)
      name -> (mode, Digest.decode(rest))
    }.toMap
    names.map { n =>
      val (mode, d0) = rows.getOrElse(n, Main.fail(s"no expected result for $n"))
      // The self-test corrupts one stored value to prove a mismatch counts.
      val d = if (s.inject.contains(n)) d0.copy(rows = d0.rows + 1) else d0
      n -> ((got: Digest) => got.matches(d, shapeOnly = mode == "shape"))
    }.toMap
  }
}

object Inputs {
  def sha256(text: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
