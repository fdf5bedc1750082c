package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** One first pass and one warm pass over every `kql_*`/`ref_*` and
  * extension query of `SparkEntry.queries`, in the benchmark's session,
  * timed the way `QueryLoop` times a query, with the shuffle bytes each
  * writes in the warm pass. The pinned query mix is chosen from the warm
  * latencies this writes (see WORKLOADS.md). */
object Survey {
  val Sets: Vector[(String, Seq[String])] = Vector(
    "kql" -> Seq("kql_", "ref_"),
    "ext" -> Seq("dedup_", "sim_", "text_", "graph_", "sketch_", "search_", "mm_"))

  def setOf(name: String): Option[String] =
    Sets.collectFirst { case (set, prefixes) if prefixes.exists(name.startsWith) => set }

  def run(s: Settings, path: Path): Unit = {
    val names = graft.SparkEntry.queries.keys.toVector.filter(setOf(_).isDefined).sorted
    Wipe(s.work)
    val spark = Main.session(s)
    def timed(name: String): (Double, Digest) = {
      val t0 = Clock.nowMs
      val d = Digest.of(graft.SparkEntry.queries(name)(spark, s.sfDir))._1
      (Clock.nowMs - t0, d)
    }
    try {
      val first = names.map(n => n -> timed(n)._1).toMap
      val jobs = new JobCounts
      spark.sparkContext.addSparkListener(jobs)
      val warm = names.map { n =>
        spark.sparkContext.setJobGroup(n, n, interruptOnCancel = false)
        try n -> timed(n) finally spark.sparkContext.clearJobGroup()
      }
      jobs.drain(spark)
      val lines = warm.map { case (n, (ms, d)) =>
        f"$n\t${setOf(n).get}\t${first(n)}%.1f\t$ms%.1f\t${jobs.get(n).shuffleWriteBytes}\t${d.encode}"
      }
      val header = "# name\tset\tfirst_ms\twarm_ms\tshuffle_write_bytes\trows\thash\tfloat sums\tschema"
      Files.write(path, (header +: lines).asJava): Unit
    } finally spark.stop()
  }
}
