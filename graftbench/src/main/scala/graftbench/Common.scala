package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result and span files. */
object Json {
  final case class Raw(text: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Running SHA-256 over the generated inputs: two runs with the same
  * seed print the same digest, so they provably saw the same bytes. */
final class InputDigest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = { md.update(s.getBytes(StandardCharsets.UTF_8)); md.update(10: Byte) }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

/** What one workload run reports back to the runner. */
final class Report {
  val fields = mutable.LinkedHashMap.empty[String, Any]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  def sample(name: String, seconds: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds

  /** Count one checked operation; `problem` is None when it was correct. */
  def check(what: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 50) failures += s"$what: $p"
    }
  }

  def json: String = Json.obj(
    (fields.toSeq ++ Seq(
      "samples" -> samples,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq)): _*)
}

final case class Ctx(spark: SparkSession, sessionSeconds: Double, seed: Long,
                     seconds: Double, trace: Boolean, work: String, data: String,
                     tracer: Tracer, report: Report) {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Seconds since `t0` (a System.nanoTime reading). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timeIt[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, since(t0))
  }

  /** Records a latency sample; a traced run also files it by whether the
    * operation was traced, for the tracing-overhead figure. */
  def record(name: String, seconds: Double, traced: Boolean): Unit = {
    report.sample(name, seconds)
    if (trace) report.sample(name + (if (traced) "_traced" else "_untraced"), seconds)
  }

  /** Runs `body`; an exception counts as a failed operation and yields None. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        report.check(what, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"
          .take(300)))
        None
    }
}

object Stats {
  def dirBytes(path: java.io.File): Long =
    if (!path.exists()) 0L
    else if (path.isFile) path.length()
    else Option(path.listFiles()).toSeq.flatten.map(dirBytes).sum

  def deleteTree(path: java.io.File): Unit = {
    if (path.isDirectory) Option(path.listFiles()).toSeq.flatten.foreach(deleteTree)
    path.delete(); ()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
