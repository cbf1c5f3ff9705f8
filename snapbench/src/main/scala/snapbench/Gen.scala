package snapbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Seeded input generators. Every byte depends only on the seed and the
  * requested sizes, so one seed always yields byte-identical inputs. Files
  * are generated in parallel, but each from its own seeded stream. */
object Gen {

  /** The testdata corpus vocabulary: short engine words. */
  val Vocab: Array[String] = Array("a", "the", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "value", "vector", "window")

  /** Counts of what was written; `validXor` is the bit_xor of Spark's
    * `xxhash64` over the lines that carry an id. */
  final case class NdjsonStats(validDocs: Long, noIdDocs: Long, bytes: Long, validXor: Long)

  /** Spark's `xxhash64(string)`: XXH64 of the UTF-8 bytes, seed 42. */
  def xxhash64(b: Array[Byte]): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)

  private def rng(seed: Long, stream: Long) =
    new SplittableRandom(seed * 1000003L + stream * 7919L + 17L)

  private def words(r: SplittableRandom, n: Int, sb: java.lang.StringBuilder): Unit = {
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
  }

  /** One document line. `id = None` omits the id field (a rejected doc). */
  def docLine(r: SplittableRandom, id: Option[String], bodyWords: Int): String = {
    val sb = new java.lang.StringBuilder(bodyWords * 7 + 160)
    sb.append('{')
    id.foreach(v => sb.append("\"id\":\"").append(v).append("\","))
    sb.append("\"user\":").append(r.nextInt(100000))
      .append(",\"ts\":").append(1700000000000L + r.nextInt(1 << 30))
      .append(",\"lang\":\"").append(Langs(r.nextInt(Langs.length)))
      .append("\",\"title\":\"")
    words(r, 6, sb)
    sb.append("\",\"body\":\"")
    words(r, bodyWords - r.nextInt(bodyWords / 8 + 1), sb)
    sb.append("\"}")
    sb.toString
  }

  private val Langs = Array("en", "en", "de", "fr", "es", "zh")

  /** `docs` NDJSON lines split over `files` files under `dir`; every
    * `noIdEvery`-th line (global index, from 0) carries no id field.
    * Ids are `<prefix>-<line>`, unique within one call. */
  def ndjson(dir: File, seed: Long, prefix: String, docs: Int, noIdEvery: Int,
             files: Int, bodyWords: Int, threads: Int): NdjsonStats = {
    dir.mkdirs()
    val per = (docs + files - 1) / files
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val parts = (0 until files).map { f =>
        Future {
          val r = rng(seed, f)
          val from = f * per
          val to = math.min(docs, from + per)
          val out = new BufferedOutputStream(
            new FileOutputStream(new File(dir, f"part-$f%03d.ndjson")), 1 << 16)
          var bytes = 0L
          var noId = 0L
          var xor = 0L
          try {
            var i = from
            while (i < to) {
              val missing = noIdEvery > 0 && i % noIdEvery == 0
              val line = docLine(r, if (missing) None else Some(s"$prefix-$i"),
                bodyWords)
              val b = line.getBytes(UTF_8)
              if (missing) noId += 1 else xor ^= xxhash64(b)
              out.write(b); out.write('\n')
              bytes += b.length + 1
              i += 1
            }
          } finally out.close()
          (to - from - noId, noId, bytes, xor)
        }
      }
      val res = Await.result(Future.sequence(parts), Duration.Inf)
      NdjsonStats(res.map(_._1).sum, res.map(_._2).sum, res.map(_._3).sum,
        res.map(_._4).foldLeft(0L)(_ ^ _))
    } finally pool.shutdown()
  }
}
