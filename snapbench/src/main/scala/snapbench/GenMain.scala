package snapbench

import java.io.File

/** Writes one seeded NDJSON input without Spark, so tests can check that a
  * seed always yields the same bytes. Usage: `GenMain <seed> <dir> <docs>`. */
object GenMain {
  def main(argv: Array[String]): Unit = {
    val Array(seed, dir, docs) = argv
    val s = Gen.ndjson(new File(dir), seed.toLong, s"d$seed", docs.toInt,
      BulkBuild.NoIdEvery, BulkBuild.Files, BulkBuild.BodyWords, Main.Cpus)
    println(s"${s.validDocs} ${s.noIdDocs} ${s.bytes}")
  }
}
