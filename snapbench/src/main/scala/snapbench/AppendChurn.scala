package snapbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.core.{RoutingStrategyV5, ShardConfig}
import graft.sinks.EsSnapshot
import graft.sources.Ingest

/** `append_churn`: the one-snapshot-per-micro-batch shape. One repo takes
  * `Appends` sequential small appends (`Ingest.toIndexable` +
  * `EsSnapshot.write`), each followed by a targeted lookup of a few of its
  * ids through the pushed `shard` filter, and ends with `compactRepo`. The
  * generation count grows through the run: it is the input property this
  * workload varies, so the number of appends is fixed, not time-bound. */
object AppendChurn {
  import Main._

  val Appends = 32
  val DocsPerAppend = 2000
  val BodyWords = 110
  val LookupIds = 4
  /** Lookups after each append, each of its own random ids. */
  val LookupsPerAppend = 2
  val Keep = 5
  val WarmupAppends = 6
  val Index = "churn"

  def run(ctx: Ctx): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    val in = new File(ctx.work, "batches")
    val routing = RoutingStrategyV5(Shards)
    def batchDir(i: Int) = new File(in, f"b$i%03d")
    def ids(i: Int) = (0 until DocsPerAppend).map(j => s"a${ctx.seed}-$i-$j")
    setup(ctx, SetupReps) {
      rmrf(in)
      for (i <- 0 until Appends)
        Gen.ndjson(batchDir(i), ctx.seed * 1000 + i, s"a${ctx.seed}-$i",
          DocsPerAppend, 0, 1, BodyWords, 1)
    }
    rec.env ++= Seq("appends" -> Appends.toString,
      "docs_per_append" -> DocsPerAppend.toString,
      "input_bytes" -> (0 until Appends).map(i =>
        new File(batchDir(i), "part-000.ndjson").length).sum.toString)
    val rnd = new java.util.SplittableRandom(ctx.seed)

    def append(repo: File, i: Int, kind: String): Unit = rec.timed(kind) {
      val docs = Ingest.toIndexable(
        Ingest.ndjsonRaw(spark, Seq(batchDir(i).getPath)), Index, "id", Shards)
      EsSnapshot.write(docs, repo.getPath, ShardConfig(Shards),
        snapshotName = Some(s"s$i"))
    }
    /** Looks up a few of append i's ids; returns (plan ms, partitions). */
    def lookup(repo: File, i: Int, kind: String): Option[(Double, Int)] = {
      val want = Seq.fill(LookupIds)(s"a${ctx.seed}-$i-${rnd.nextInt(DocsPerAppend)}").distinct
      val shards = want.map(routing.shardFor).distinct
      val r = rec.timed(kind) {
        val t0 = System.nanoTime()
        val rdd = EsSnapshot.readTable(spark, repo.getPath, Some(s"s$i"))
          .filter(col("shard").isin(shards: _*))
          .select(get_json_object(col("json"), "$.id").as("id"))
          .filter(col("id").isin(want: _*))
          .queryExecution.toRdd
        val parts = rdd.partitions.length
        val planMs = (System.nanoTime() - t0) / 1e6
        (rdd.map(_.getUTF8String(0).toString).collect().toSet, planMs, parts)
      }
      r.flatMap { case (got, planMs, parts) =>
        rec.check(s"churn.lookup", got == want.toSet,
          s"append $i lookup of ${want.mkString(",")} found ${got.mkString(",")}",
          rec.lastOp)
        if (got == want.toSet) Some((planMs, parts)) else None
      }
    }
    def fileCount(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(fileCount).sum).getOrElse(0) else 1

    // warm-up on a throwaway repo: class loading, codegen and JIT; appends
    // keep speeding up over the first eight of a fresh JVM
    val warm = new File(ctx.work, "warm-repo")
    rmrf(warm)
    for (i <- 0 until WarmupAppends) {
      append(warm, i, "warmup_append"); lookup(warm, i, "warmup_lookup")
    }
    rec.timed("warmup_compact")(EsSnapshot.compactRepo(spark, warm.getPath, keep = 2))
    rmrf(warm)

    val start = System.nanoTime()
    var lifecycles = 0
    // per traced append: (generation, commit ms, fs read ops, fs write ops, counts)
    val commits = scala.collection.mutable.ArrayBuffer.empty[
      (Int, Double, Long, Long, Trace.SparkCounts)]
    val plans = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Int)]
    var lastLifecycleS = 0.0
    // another lifecycle only if it should end within `seconds`
    while (lifecycles < 1 || elapsedS(start) + lastLifecycleS <= ctx.seconds) {
      val lifecycleStart = System.nanoTime()
      val repo = new File(ctx.work, "repo")
      rmrf(repo)
      for (i <- 0 until Appends) {
        // traced runs trace every other append, so the overhead is
        // measured against untraced appends at the same generations
        if (ctx.traced && i % 2 == 1) {
          ctx.sc.addSparkListener(ctx.listener)
          val (_, sc, fs, returned) = traced(ctx)(append(repo, i, "append_traced"))
          if (rec.lastOp.exists(_.error.isEmpty))
            commits += ((i, math.max(0L, returned - sc.lastJobEndMs).toDouble,
              fs.readOps, fs.writeOps, sc))
          for (_ <- 1 to LookupsPerAppend) {
            val t0 = System.nanoTime()
            lookup(repo, i, "lookup_traced").foreach { case (planMs, parts) =>
              plans += ((planMs, (System.nanoTime() - t0) / 1e6 - planMs, parts))
            }
          }
          ctx.sc.removeSparkListener(ctx.listener)
        } else {
          append(repo, i, "append")
          for (_ <- 1 to LookupsPerAppend) lookup(repo, i, "lookup")
        }
        if (i % 8 == 7) rec.heapMb += Trace.liveHeapMb()
      }
      val before = fileCount(repo)
      val f0 = Trace.fs()
      rec.timed("compact")(EsSnapshot.compactRepo(spark, repo.getPath, keep = Keep))
      val fsDelta = Trace.fs() - f0
      rec.layers("retention.fs_read_ops") = fsDelta.readOps.toDouble
      rec.layers("retention.files_deleted") = (before - fileCount(repo)).toDouble

      // untimed: every surviving snapshot reads back exactly its own docs
      for (i <- Appends - Keep until Appends) {
        val got = EsSnapshot.readTable(spark, repo.getPath, Some(s"s$i"))
          .select(get_json_object(col("json"), "$.id")).collect().map(_.getString(0))
        rec.check("churn.compacted_readback", got.sorted.toSeq == ids(i).sorted,
          s"snapshot s$i read back ${got.length} docs, expected $DocsPerAppend",
          rec.ops.reverseIterator.find(_.kind == "compact"))
      }
      lifecycles += 1
      lastLifecycleS = elapsedS(lifecycleStart)
    }
    rec.env("lifecycles") = lifecycles.toString

    if (ctx.traced) {
      val cs = commits.toSeq
      rec.layers("commit.ms") = medianOf(cs)(_._2)
      rec.layers("commit.fs_read_ops") = medianOf(cs)(_._3.toDouble)
      rec.layers("commit.fs_write_ops") = medianOf(cs)(_._4.toDouble)
      rec.layers("commit.ms_per_generation") = slope(cs.map(c => (c._1.toDouble, c._2)))
      rec.layers("sched.jobs") = medianOf(cs)(_._5.jobs.toDouble)
      rec.layers("sched.stages") = medianOf(cs)(_._5.stages.toDouble)
      rec.layers("sched.tasks") = medianOf(cs)(_._5.tasks.toDouble)
      rec.layers("shuffle.write_bytes") = medianOf(cs)(_._5.shuffleWriteBytes.toDouble)
      rec.layers("shuffle.write_ms") = medianOf(cs)(_._5.shuffleWriteNs / 1e6)
      rec.layers("shuffle.fetch_wait_ms") = medianOf(cs)(_._5.fetchWaitMs.toDouble)
      rec.layers("shuffle.spill_bytes") = medianOf(cs)(_._5.spillBytes.toDouble)
      rec.layers("read.plan_ms") = medianOf(plans.toSeq)(_._1)
      rec.layers("read.scan_ms") = medianOf(plans.toSeq)(_._2)
      rec.layers("read.partitions") = medianOf(plans.toSeq)(_._3.toDouble)
      rec.layers("read.pruned_ratio") = medianOf(plans.toSeq)(1.0 - _._3.toDouble / Shards)
    }
  }

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.size.toDouble
    if (n < 2) return Double.NaN
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    pts.map { case (x, y) => (x - mx) * (y - my) }.sum /
      pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
  }
}
