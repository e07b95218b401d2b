package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Everything a run creates lives under `work`, inside the checkout:
  * generated inputs, pipeline roots, Spark's local and warehouse dirs
  * and (through `java.io.tmpdir`, set by the launcher) the engine's
  * scratch artifacts.
  */
final case class Env(work: Path, genScript: String, cpus: Int) {
  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }
}

object Setup {

  def session(env: Env): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${env.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", env.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", env.dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", env.dir("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Generate the input tables into a fresh directory by running the
    * generator script; fails the run if the generator fails.
    */
  def generateInputs(env: Env, name: String): String = {
    val out = env.work.resolve(name)
    deleteRecursively(out)
    val p = new ProcessBuilder("python3", env.genScript, out.toString)
      .inheritIO().redirectOutput(ProcessBuilder.Redirect.to(
        env.work.resolve("gen.log").toFile)).start()
    val rc = p.waitFor()
    require(rc == 0, s"input generator exited with $rc")
    out.toString
  }

  def deleteRecursively(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      val all = try s.toArray(n => new Array[Path](n)) finally s.close()
      all.sortBy(p => -p.getNameCount).foreach(Files.deleteIfExists(_))
    }

  /** Bytes of all regular files under `root` (0 when absent). */
  def sizeOf(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Bytes under the engine's scratch dir `tmp`: first-touch artifacts
    * (`artifact_*`, built once per run) and everything else.
    */
  def scratchBytes(tmp: Path): (Long, Long) = {
    val st = Files.list(tmp)
    val entries = try st.iterator().asScala.toList finally st.close()
    val (artifacts, other) = entries.partition(_.getFileName.toString.startsWith("artifact_"))
    (artifacts.map(sizeOf).sum, other.map(sizeOf).sum)
  }
}
