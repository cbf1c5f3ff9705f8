package snapbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark driver: one workload, one closed-loop client, in one
  * `local[2]` JVM. Usage:
  * {{{
  * Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultJson>
  * }}}
  * Every input is generated from the seed under `workDir`; the result is
  * a JSON record (see [[Record]]) written to `resultJson`. */
object Main {
  /** Spark task slots. Half of a 4-vCPU machine: a stage then never waits
    * on a vCPU that a neighbour on a shared host is using, and GC and JIT
    * threads have cores of their own. */
  val Cpus = 2
  val Shards = 8
  /** Set-up runs this many times per run; its median is `setup_s`. */
  val SetupReps = 9

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                       traced: Boolean, work: File, rec: Record) {
    lazy val listener = new Trace.Listener
    def sc = spark.sparkContext
  }

  def elapsedS(start: Long): Double = (System.nanoTime() - start) / 1e9

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, outS) = argv
    val work = new File(workS)
    val builder = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"snapbench-$workload")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    if (traceS == "1") builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record
    val ctx = Ctx(spark, seedS.toLong, secondsS.toDouble, traceS == "1", work, rec)
    try {
      rec.env ++= Seq("workload" -> workload, "seed" -> seedS,
        "seconds" -> secondsS, "trace" -> traceS,
        "available_processors" -> Runtime.getRuntime.availableProcessors.toString,
        "spark_default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
        "jvm_heap_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.map(_.toString).filter(_.startsWith("-Xm")).mkString(" "),
        "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString)
      calibrate(ctx, "start")
      val gc0 = Trace.gcMs()
      workload match {
        case "bulk_build" => BulkBuild.run(ctx)
        case "append_churn" => AppendChurn.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.layers("jvm.gc_ms") = (Trace.gcMs() - gc0).toDouble
      calibrate(ctx, "end")
    } finally {
      Files.write(new File(outS).toPath, rec.toJson.getBytes(UTF_8))
      spark.stop()
    }
  }

  /** Session-speed probe: one no-op job and a fixed single-thread CPU loop. */
  def calibrate(ctx: Ctx, at: String): Unit = {
    val t0 = System.nanoTime()
    ctx.sc.parallelize(Seq(1), 1).count()
    val t1 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    val t2 = System.nanoTime()
    if (x == 42) println("") // keeps the loop live
    ctx.rec.layers(s"calib.job_ms_$at") = (t1 - t0) / 1e6
    ctx.rec.layers(s"calib.cpu_ms_$at") = (t2 - t1) / 1e6
  }

  /** Runs `body` `n` times and records each run's wall time as set-up. */
  def setup[T](ctx: Ctx, n: Int)(body: => T): T = {
    var last: Option[T] = None
    for (_ <- 1 to n) {
      val t0 = System.nanoTime()
      last = Some(body)
      ctx.rec.setupS += (System.nanoTime() - t0) / 1e9
    }
    last.get
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  def readText(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  /** A top-level integer field of a flat JSON object, e.g. `_SUMMARY.json`. */
  def jsonLong(body: String, key: String): Option[Long] =
    ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\"?(-?\\d+)").r
      .findFirstMatchIn(body).map(_.group(1).toLong)

  /** (bit_xor of xxhash64, count) over a string column: an order-free
    * fingerprint of a document multiset. */
  def fingerprint(df: DataFrame, c: String): (Long, Long) = {
    val r = df.agg(bit_xor(xxhash64(col(c))), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median of the per-call deltas, or NaN when no call was traced. */
  def medianOf[A](xs: Seq[A])(f: A => Double): Double = median(xs.map(f))

  /** Runs `body` with the listener attached, after draining the bus, and
    * returns its result with the Spark and FS counter deltas it caused. */
  def traced[T](ctx: Ctx)(body: => T): (T, Trace.SparkCounts, Trace.FsCounts, Long) = {
    Trace.drain(ctx.sc)
    val c0 = ctx.listener.counts
    val f0 = Trace.fs()
    val v = body
    val returnedMs = System.currentTimeMillis()
    Trace.drain(ctx.sc)
    (v, ctx.listener.counts - c0, Trace.fs() - f0, returnedMs)
  }
}
