package snapbench

import scala.collection.mutable

/** What one run observed: timed op samples (or their failures), set-up
  * times, correctness checks and named layer figures. Serialized as one
  * JSON object; `run.py` turns it into the benchmark's metrics. */
final class Record {
  import Record.Op

  val ops = mutable.ArrayBuffer.empty[Op]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val heapMb = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val env = mutable.LinkedHashMap.empty[String, String]

  /** Times `body` as one op of `kind`. A throw records the exception's
    * class and message and contributes no time sample. */
  def timed[T](kind: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val v = body
      ops += Op(kind, (System.nanoTime() - t0) / 1e6, None)
      Some(v)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        ops += Op(kind, 0, Some(Record.describe(e)))
        None
    }
  }

  /** An untimed correctness check. A failed check fails the op it guards:
    * that op's sample is withdrawn and replaced by the failure. */
  def check(name: String, ok: Boolean, detail: => String, guards: Option[Op] = None): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) guards.foreach { op =>
      val i = ops.lastIndexOf(op)
      if (i >= 0) ops(i) = op.copy(ms = 0, error = Some(s"check $name failed: $detail"))
    }
  }

  def lastOp: Option[Op] = ops.lastOption

  def toJson: String = {
    import Record.{num, str}
    val sb = new StringBuilder("{")
    sb ++= "\"ops\":[" ++= ops.map { o =>
      s"""{"kind":${str(o.kind)},"ms":${num(o.ms)},"error":${o.error.map(str).getOrElse("null")}}"""
    }.mkString(",") ++= "],"
    sb ++= "\"setup_s\":[" ++= setupS.map(num).mkString(",") ++= "],"
    sb ++= "\"heap_mb\":[" ++= heapMb.map(num).mkString(",") ++= "],"
    sb ++= "\"checks\":[" ++= checks.map { case (n, ok, d) =>
      s"""{"name":${str(n)},"ok":$ok,"detail":${str(d)}}"""
    }.mkString(",") ++= "],"
    sb ++= "\"layers\":{" ++= layers.map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString(",") ++= "},"
    sb ++= "\"env\":{" ++= env.map { case (k, v) => s"${str(k)}:${str(v)}" }
      .mkString(",") ++= "}}"
    sb.toString
  }
}

object Record {
  final case class Op(kind: String, ms: Double, error: Option[String])

  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
    val tail = if (root ne e) s" (root: ${root.getClass.getName}: ${
      Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString})" else ""
    s"${e.getClass.getName}: $msg$tail"
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
