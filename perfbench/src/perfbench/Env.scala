package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Session factory and per-setup scratch space. The session always has
  * the same fixed settings (the ones `graft.Bench` uses by default);
  * no environment variable or config file can change them. */
object Env {

  val cpus: Int = Runtime.getRuntime.availableProcessors

  /** One setup's private directories under the run's scratch root:
    * temp files (where the engine keeps its fingerprint-keyed
    * artifacts), the SQL warehouse, Spark's local dir, the streaming
    * checkpoints and the export outputs. */
  final class Scratch(val root: Path) {
    private def dir(name: String): Path = Files.createDirectories(root.resolve(name))
    val tmp: Path = dir("tmp")
    val warehouse: Path = dir("warehouse")
    val local: Path = dir("local")
    val checkpoints: Path = dir("checkpoints")
    val out: Path = dir("out")
  }

  def session(scratch: Scratch): SparkSession = {
    // the engine builds its persisted artifacts under java.io.tmpdir:
    // a fresh directory per setup makes every setup pay for them
    System.setProperty("java.io.tmpdir", scratch.tmp.toString)
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", math.min(cpus, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", scratch.warehouse.toString)
      .config("spark.local.dir", scratch.local.toString)
      .config("spark.sql.streaming.checkpointLocation", scratch.checkpoints.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Copy a directory tree (the query tables are a few MB). */
  def copyTree(from: Path, to: Path): Path = {
    Files.createDirectories(to)
    Files.walk(from).forEach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }
    to
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))

  def treeBytes(p: Path): (Long, Long) = {
    var files, bytes = 0L
    Files.walk(p).forEach { f =>
      if (Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_")) {
        files += 1; bytes += Files.size(f)
      }
    }
    (files, bytes)
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  /** Collect garbage before a timed section, so that a pause owed to an
    * earlier phase does not land in it. */
  def settle(): Unit = System.gc()

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
