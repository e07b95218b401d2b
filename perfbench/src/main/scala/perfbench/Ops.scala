package perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One attempted op: a query, a pipeline phase or a final check. */
final case class OpResult(name: String, seconds: Double, ok: Boolean, error: String = "")

/** Raised by an op whose output does not match what was expected. */
final class WrongOutput(msg: String) extends Exception(msg)

object Ops {

  /** Time `body`. A throw, including a failed output check, makes the op
    * failed; its wall time still counts, so a failure never reads as a
    * speed-up.
    */
  def run(name: String)(body: => Unit): OpResult = {
    val t0 = System.nanoTime()
    val err = try { body; "" } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
    OpResult(name, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new WrongOutput(what)

  /** Compare a checksum against its golden; a missing golden is a failure. */
  def checkGolden(goldens: Map[String, Checksum.Result], key: String,
      got: Checksum.Result): Unit =
    check(goldens.get(key).contains(got),
      s"$key: got $got, golden ${goldens.get(key).getOrElse("missing")}")
}

/** Golden row counts and checksums, one `name<TAB>rows<TAB>hash` line each. */
object Goldens {
  def load(path: java.nio.file.Path): Map[String, Checksum.Result] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else new String(java.nio.file.Files.readAllBytes(path), "UTF-8").split("\n")
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map {
        case Array(n, rows, hash) => n -> Checksum.Result(rows.toLong, hash)
        case bad => throw new IllegalArgumentException(s"bad golden line: ${bad.mkString("\t")}")
      }.toMap

  def write(path: java.nio.file.Path, g: Map[String, Checksum.Result]): Unit = {
    val body = g.toSeq.sortBy(_._1).map { case (n, r) => s"$n\t${r.rows}\t${r.hash}" }
    java.nio.file.Files.write(path, body.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** What one run works with. `record` (golden-writing mode) collects
  * checksums instead of comparing them.
  */
final class Ctx(val spark: SparkSession, val dir: String, val env: Env,
    val rec: Recorder, val goldens: Map[String, Checksum.Result],
    val traced: Boolean,
    val record: Option[collection.concurrent.Map[String, Checksum.Result]] = None) {

  def verify(key: String, got: Checksum.Result): Unit = record match {
    case Some(m) => m.put(key, got)
    case None => Ops.checkGolden(goldens, key, got)
  }

  /** Run output checks with counting paused, so their Spark jobs do not
    * land in the traced pass's counters.
    */
  def unrecorded[T](body: => T): T = {
    val was = rec.enabled
    if (was) { rec.drain(spark); rec.enabled = false }
    try body finally if (was) { rec.drain(spark); rec.enabled = true }
  }
}
