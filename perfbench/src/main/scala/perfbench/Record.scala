package perfbench

import java.nio.file.{Files, Paths}
import graft.corpus.Synth
import graft.kg.KgPipeline

/**
 * Regenerates `expected_triples.txt`: for each corpus seed in a range
 * (normally 0 until `Main.CorpusSeeds`), the triple fingerprint of
 * `KgPipeline.build` over that seed's Synth corpus of `Main.Docs` docs, one
 * "docs seed count hash" line each. Run it only when a change is meant to
 * alter the triples, and say so in the change.
 *
 *   java <flags run.py uses> -cp "$(cat perfbench/target/runtime.classpath)" \
 *     perfbench.Record <first seed> <last seed> <work dir>
 */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(from, to, work) = argv
    val a = Args(workload = "kg_build", work = work, out = "-")
    Files.createDirectories(Paths.get(work))
    val spark = Main.session(a)
    try for (seed <- from.toLong to to.toLong) {
      val dir = Paths.get(work, s"corpus-$seed").toString
      Synth.corpus(spark, Main.Docs, seed).write.mode("overwrite").parquet(dir)
      val fp = KgWorkloads.fingerprint(
        KgPipeline.build(spark, KgWorkloads.pages(spark, dir), cfg = KgWorkloads.Cfg).triples)
      spark.catalog.clearCache()
      KgWorkloads.deleteTree(Paths.get(dir))
      println(s"${Main.Docs} $seed ${fp.count} ${fp.hash}")
    } finally spark.stop()
  }
}
