package snapbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters read from outside the program: a benchmark-registered Spark
  * listener, file-system call counts and JVM MX beans. Untraced runs
  * attach no listener and install no counting file system; they read only
  * the MX beans, at op boundaries. */
object Trace {

  /** Spark's own job, stage and task counters, summed since attachment. */
  final case class SparkCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                               shuffleWriteBytes: Long = 0, shuffleWriteNs: Long = 0,
                               fetchWaitMs: Long = 0, spillBytes: Long = 0,
                               lastJobEndMs: Long = 0,
                               lastStageTaskMs: Seq[Long] = Nil) {
    def -(o: SparkCounts): SparkCounts = SparkCounts(jobs - o.jobs,
      stages - o.stages, tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleWriteNs - o.shuffleWriteNs, fetchWaitMs - o.fetchWaitMs,
      spillBytes - o.spillBytes, lastJobEndMs, lastStageTaskMs)
  }

  class Listener extends SparkListener {
    @volatile private var c = SparkCounts()
    // task durations of each running stage, so the writer stage's skew
    // (the last stage of a write job) can be read after the job ends
    private val stageTasks = scala.collection.mutable.Map.empty[Int, List[Long]]

    def counts: SparkCounts = synchronized(c)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      c = c.copy(jobs = c.jobs + 1, lastJobEndMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val ts = stageTasks.remove(e.stageInfo.stageId).getOrElse(Nil)
      c = c.copy(stages = c.stages + 1, lastStageTaskMs = ts)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      stageTasks(e.stageId) = e.taskInfo.duration :: stageTasks.getOrElse(e.stageId, Nil)
      if (m == null) c = c.copy(tasks = c.tasks + 1)
      else c = c.copy(tasks = c.tasks + 1,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteNs = c.shuffleWriteNs + m.shuffleWriteMetrics.writeTime,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.snapbench.Bus.drain(sc)

  /** Local file-system calls counted by [[CountingFs]]. */
  final case class FsCounts(readOps: Long, writeOps: Long) {
    def -(o: FsCounts): FsCounts = FsCounts(readOps - o.readOps, writeOps - o.writeOps)
  }

  def fs(): FsCounts = FsCounts(CountingFs.reads.get, CountingFs.writes.get)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Live heap after a full collection, in MB. The second collection
    * follows the context cleaner's release of blocks the first freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
