package snapbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.core.ShardConfig
import graft.jobs.EsIndexJob
import graft.sinks.EsSnapshot
import graft.sources.Ingest

/** `bulk_build`: the paper's job. Seeded NDJSON (with a known count of
  * lines that carry no id) goes through `EsIndexJob.run` with 8 shards and
  * the default gzip level, then a full `readTable` restore scan. */
object BulkBuild {
  import Main._

  val Docs = 100000
  val NoIdEvery = 1000
  val BodyWords = 140
  val Files = 8
  val Index = "bulk"
  val WarmupRounds = 4
  /** All warm-up rounds but the last read only the first files: the same
    * code paths for class loading, codegen and JIT, in a quarter of the
    * time. The last one reads the whole input, so the first sampled round
    * is not slower than the rest. */
  val WarmupFiles = 2
  val MinRounds = 6
  /** Restore scans after each build; a scan is a fifth of a build. */
  val RestoresPerRound = 2

  def run(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val in = new File(ctx.work, "input")
    val stats = setup(ctx, SetupReps) {
      rmrf(in)
      Gen.ndjson(in, ctx.seed, s"d${ctx.seed}", Docs, NoIdEvery, Files, BodyWords, Cpus)
    }
    rec.env ++= Seq("input_docs" -> (stats.validDocs + stats.noIdDocs).toString,
      "input_no_id_docs" -> stats.noIdDocs.toString, "input_bytes" -> stats.bytes.toString)
    val inputPath = in.getPath
    val expected = (stats.validXor, stats.validDocs)
    val dest = new File(ctx.work, "snap")
    val args = EsIndexJob.Args(Seq(inputPath), dest.getPath, Index, "id", Shards,
      None, None, None)
    // the warm-up input: the first files, whose lines are numbered from 0
    val warmDocs = math.min(Docs, WarmupFiles * ((Docs + Files - 1) / Files))
    val warmNoId = (warmDocs + NoIdEvery - 1) / NoIdEvery
    val warmArgs = args.copy(inputPaths = (0 until WarmupFiles).map(f =>
      new File(in, f"part-$f%03d.ndjson").getPath))

    /** One build into a fresh repo; checks the committed counters. */
    def build(kind: String, args: EsIndexJob.Args = args, valid: Long = stats.validDocs,
              noId: Long = stats.noIdDocs): Option[Long] = {
      rmrf(dest)
      val r = rec.timed(kind)(EsIndexJob.run(spark, args))
      if (r.isDefined) {
        val op = rec.lastOp
        val summary = readText(new File(dest, "_SUMMARY.json"))
        val ingest = readText(new File(dest, "_INGEST.json"))
        val created = jsonLong(summary, "index_doc_created")
        val rejected = jsonLong(ingest, "rejected_docs")
        rec.check("bulk.index_doc_created", created.contains(valid),
          s"index_doc_created=$created, generated $valid", op)
        rec.check("bulk.rejected_docs", rejected.contains(noId),
          s"rejected_docs=$rejected, generated $noId", op)
      }
      r
    }
    def restore(kind: String): Option[(Long, Double)] = rec.timed(kind) {
      val t0 = System.nanoTime()
      val rdd = EsSnapshot.readTable(spark, dest.getPath).queryExecution.toRdd
      rdd.partitions
      val planMs = (System.nanoTime() - t0) / 1e6
      (rdd.count(), planMs)
    }
    def storedBytes(): Long = {
      def walk(f: File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.startsWith("docs-")) f.length else 0L
      walk(dest)
    }

    // warm-up, never sampled: class loading, codegen and JIT; builds keep
    // speeding up over the first four rounds of a fresh JVM
    for (_ <- 1 until WarmupRounds) {
      build("warmup_build", warmArgs, warmDocs - warmNoId, warmNoId)
      restore("warmup_restore")
    }
    build("warmup_build")
    restore("warmup_restore")

    val start = System.nanoTime()
    var rounds = 0
    val tracedCalls = scala.collection.mutable.ArrayBuffer.empty[
      (Trace.SparkCounts, Map[String, Long])]
    val plans = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
    var lastRoundS = 0.0
    // another round only if it should end within `seconds`
    while (rounds < MinRounds || elapsedS(start) + lastRoundS <= ctx.seconds) {
      val roundStart = System.nanoTime()
      // traced runs alternate untraced and traced rounds, so the tracing
      // overhead is measured on the same session and inputs
      val tracing = ctx.traced && rounds % 2 == 1
      if (tracing) {
        ctx.sc.addSparkListener(ctx.listener)
        val (_, sc, _, _) = traced(ctx)(build("build_traced"))
        val summary = readText(new File(dest, "_SUMMARY.json"))
        tracedCalls += ((sc, Seq("time_spent_indexing_ms", "time_spent_flushing_ms",
          "writer_files", "bytes_written").map(k => k -> jsonLong(summary, k).getOrElse(-1L)).toMap))
        for (_ <- 1 to RestoresPerRound) {
          val t0 = System.nanoTime()
          restore("restore_traced").foreach { case (_, planMs) =>
            val total = (System.nanoTime() - t0) / 1e6
            plans += ((planMs, total - planMs, Shards))
          }
        }
        ctx.sc.removeSparkListener(ctx.listener)
      } else {
        build("build")
        for (_ <- 1 to RestoresPerRound) restore("restore")
      }
      rounds += 1
      lastRoundS = elapsedS(roundStart)
      rec.heapMb += Trace.liveHeapMb()
    }

    // untimed correctness of the last build: the restore returns exactly
    // the input's valid lines
    val got = fingerprint(EsSnapshot.readTable(spark, dest.getPath), "json")
    rec.check("bulk.readback_fingerprint", got == expected,
      s"readback (xor, count)=$got, input $expected",
      rec.ops.reverseIterator.find(o => o.kind.startsWith("build") && o.error.isEmpty))
    rec.layers("stored_bytes_per_input_byte") = storedBytes().toDouble / stats.bytes
    rec.layers("ingest.rejected_docs") =
      jsonLong(readText(new File(dest, "_INGEST.json")), "rejected_docs").getOrElse(-1L).toDouble
    rec.env("input_valid_docs") = stats.validDocs.toString

    if (ctx.traced) {
      val calls = tracedCalls.toSeq
      rec.layers("shuffle.write_bytes") = medianOf(calls)(_._1.shuffleWriteBytes.toDouble)
      rec.layers("shuffle.write_ms") = medianOf(calls)(_._1.shuffleWriteNs / 1e6)
      rec.layers("shuffle.fetch_wait_ms") = medianOf(calls)(_._1.fetchWaitMs.toDouble)
      rec.layers("shuffle.spill_bytes") = medianOf(calls)(_._1.spillBytes.toDouble)
      rec.layers("sched.jobs") = medianOf(calls)(_._1.jobs.toDouble)
      rec.layers("sched.stages") = medianOf(calls)(_._1.stages.toDouble)
      rec.layers("sched.tasks") = medianOf(calls)(_._1.tasks.toDouble)
      rec.layers("writer.indexing_ms") = medianOf(calls)(_._2("time_spent_indexing_ms").toDouble)
      rec.layers("writer.flush_ms") = medianOf(calls)(_._2("time_spent_flushing_ms").toDouble)
      rec.layers("writer.files") = medianOf(calls)(_._2("writer_files").toDouble)
      rec.layers("writer.bytes") = medianOf(calls)(_._2("bytes_written").toDouble)
      rec.layers("read.plan_ms") = medianOf(plans.toSeq)(_._1)
      rec.layers("read.scan_ms") = medianOf(plans.toSeq)(_._2)
      rec.layers("read.partitions") = medianOf(plans.toSeq)(_._3.toDouble)
      rec.layers("read.pruned_ratio") = 0.0
      prefixProbes(ctx, inputPath, dest)
    }
  }

  /** Prefix probes: each stage of the build alone, scan; +id extraction;
    * +routing; the full write without compression; the full write. The
    * differences between neighbours are the stages' costs. */
  private def prefixProbes(ctx: Ctx, inputPath: String, dest: File): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    def secs(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val raw = Ingest.ndjsonRaw(spark, Seq(inputPath))
    rec.layers("ingest.scan_s") = secs(raw.queryExecution.toRdd.count())
    rec.layers("ingest.extract_s") = secs(
      raw.select(get_json_object(col("json"), "$.id").as("docId"), col("json"))
        .filter(col("docId").isNotNull).queryExecution.toRdd.count())
    val (docs, _) = Ingest.toIndexableObserved(raw, Index, "id", Shards)
    rec.layers("route.s") = secs(docs.toDF().queryExecution.toRdd.count())

    ctx.sc.addSparkListener(ctx.listener)
    def write(options: Map[String, String])
    : (Double, Trace.SparkCounts, Trace.FsCounts) = {
      Main.rmrf(dest)
      val (_, sc, fs, returned) = traced(ctx) {
        val (d, _) = Ingest.toIndexableObserved(
          Ingest.ndjsonRaw(spark, Seq(inputPath)), Index, "id", Shards)
        EsSnapshot.write(d, dest.getPath, ShardConfig(Shards), options = options)
      }
      (math.max(0L, returned - sc.lastJobEndMs).toDouble, sc, fs)
    }
    rec.layers("writer.plain_write_s") = secs(write(Map("compression" -> "none")))
    var commit = (0.0, Trace.SparkCounts(), Trace.FsCounts(0, 0))
    rec.layers("writer.full_write_s") = secs { commit = write(Map.empty) }
    ctx.sc.removeSparkListener(ctx.listener)
    rec.layers("commit.ms") = commit._1
    rec.layers("commit.fs_read_ops") = commit._3.readOps.toDouble
    rec.layers("commit.fs_write_ops") = commit._3.writeOps.toDouble
    val tasks = commit._2.lastStageTaskMs.map(_.toDouble)
    rec.layers("writer.task_max_over_median") =
      if (tasks.isEmpty) Double.NaN else tasks.max / math.max(1.0, median(tasks))
  }
}
