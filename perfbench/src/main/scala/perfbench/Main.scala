package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Command-line arguments, as run.py passes them. */
final case class Args(
    workload: String = "",
    seed: Long = 0L,         // the run's seed, as given
    requestSeed: Long = 0L,  // held-out seed of the matcher's request pages
    seconds: Double = 10.0,  // measured time per run
    trace: Boolean = false,
    work: String = "",       // scratch directory for corpora and lakes
    out: String = "",        // where the result JSON goes
    expected: String = "") { // known triple fingerprints, one "docs seed count hash" a line
  /** The Synth seed of the corpus: the run's seed folded into the pool of
   * seeds whose triples `expected_triples.txt` records, so every run's
   * triples are checked against a recorded answer. */
  def corpusSeed: Long = Math.floorMod(seed, Main.CorpusSeeds)
}

/**
 * One result: metrics keyed by name, and the operation tally. A failed check
 * is a failed operation; `failed > 0` makes the run incorrect.
 */
final class Report {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def ops(n: Long, bad: Long = 0L): Unit = { attempted += n; failed += bad }

  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"perfbench: CHECK FAILED: $what") }
  }

  def json(trace: Boolean): String = {
    val ms = (if (trace) layers else endToEnd).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Main {

  val Workloads = Seq("kg_build", "matcher_online")
  /** Input docs per corpus: 22 runs of each workload must fit the
   * benchmark's time budget on a 4-core host (NOTES.md). */
  val Docs = 20000L
  /** Corpus seeds 0 until this have recorded triples. */
  val CorpusSeeds = 50L
  val Cores: Int = Runtime.getRuntime.availableProcessors()

  def parse(argv: Array[String]): Args = {
    var a = Args()
    var requestSeed: Option[Long] = None
    val it = argv.iterator
    def v(flag: String): String =
      if (it.hasNext) it.next() else throw new IllegalArgumentException(s"missing value for $flag")
    while (it.hasNext) it.next() match {
      case f @ "--workload"     => a = a.copy(workload = v(f))
      case f @ "--seed"         => a = a.copy(seed = v(f).toLong)
      case f @ "--request-seed" => requestSeed = Some(v(f).toLong)
      case f @ "--seconds"      => a = a.copy(seconds = v(f).toDouble)
      case f @ "--trace"        => a = a.copy(trace = v(f) == "1")
      case f @ "--work"         => a = a.copy(work = v(f))
      case f @ "--out"          => a = a.copy(out = v(f))
      case f @ "--expected"     => a = a.copy(expected = v(f))
      case other => throw new IllegalArgumentException(s"unknown argument: $other")
    }
    require(Workloads.contains(a.workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    require(a.work.nonEmpty && a.out.nonEmpty, "--work and --out are required")
    // the request pages come from a seed the corpus never uses
    a.copy(requestSeed = requestSeed.getOrElse(a.seed + 1000003L))
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(a.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(a.work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val spark = session(a)
    val rep = new Report
    try {
      a.workload match {
        case "kg_build"       => KgWorkloads.build(spark, a, rep)
        case "matcher_online" => MatcherWorkload.run(spark, a, rep)
      }
    } finally spark.stop()
    rep.e2e("peak_rss_mb", peakRssMb(), "MB")
    rep.e2e("ok_share", 1.0 - rep.failed.toDouble / math.max(1L, rep.attempted), "share")
    Files.writeString(Paths.get(a.out), rep.json(a.trace) + "\n")
  }
}
