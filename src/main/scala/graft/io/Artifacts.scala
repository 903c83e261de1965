package graft.io

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The one store for per-dataset artifacts: everything a query reads
  * that is built once from a dataset and reused by later queries
  * (bucketed tables, file-skipping layouts, ANN indexes, maintained MV
  * state, input fixtures) and the small per-dataset facts computed
  * once per JVM (embedding width, the events time span, trained
  * quantizers). No other module decides where such an artifact lives
  * or when it can be reused.
  *
  * On-disk artifacts ([[dir]]) live in `graft_<kind>_<pathKey>` under
  * `java.io.tmpdir`, read on every call, so a runtime change of the
  * temp dir moves the store with it. The key covers the dataset path,
  * a fingerprint of its files, the kind, a version tag and every build
  * parameter. A directory is reused only when it holds [[Marker]],
  * which the store writes after `build` returns; a directory without
  * it (a build that threw, or one a killed JVM left half-written) is
  * deleted and rebuilt. Before a build, stale generations of the same
  * kind and dataset are collected. Layouts therefore persist across
  * JVMs (table maintenance is durable, not session state), and a
  * regenerated dataset or a bumped version tag invalidates them.
  *
  * In-memory artifacts ([[memo]], [[sessionMemo]]) are memoized per
  * (kind, dataset) for the life of the JVM, or of a session when the
  * value is bound to one (a DataFrame). */
object Artifacts {

  /** Written into an artifact directory once its build has returned.
    * Spark's file listing skips names starting with `_`, so a parquet
    * read of the directory never sees it. */
  val Marker = "_GRAFT_ARTIFACT"

  private def base: String = System.getProperty("java.io.tmpdir")

  /** The directory of artifact `kind` of `dataset`, built by `build`
    * (which gets the path and writes there) unless a finished build is
    * already on disk. Builds are serialized, so one key builds once. */
  def dir(dataset: String, kind: String, version: String, params: Any*)(
      build: String => Unit): String = synchronized {
    val out = new File(path(dataset, kind, (version +: params).mkString("|")))
    if (!new File(out, Marker).isFile) {
      deleteTree(out)
      gcStaleSiblings(out)
      build(out.getPath)
      Files.createDirectories(out.toPath)
      Files.write(new File(out, Marker).toPath, Array.emptyByteArray)
    }
    out.getPath
  }

  /** A per-dataset output directory that a query rewrites on every run
    * (an export round-trip, a purge): never reused, so no marker. */
  def output(dataset: String, kind: String): String = {
    val out = new File(path(dataset, kind, "out"))
    if (!out.exists()) gcStaleSiblings(out)
    out.getPath
  }

  private def path(dataset: String, kind: String, version: String): String =
    s"$base/graft_${kind}_${pathKey(dataset, s"$kind|$version")}"

  private val memos = scala.collection.concurrent.TrieMap.empty[(String, String, Int), Any]

  /** `build`'s value for (kind, dataset), computed once per JVM. */
  def memo[T](kind: String, dataset: String)(build: => T): T =
    memos.getOrElseUpdate((kind, dataset, 0), build).asInstanceOf[T]

  /** [[memo]] for a value bound to `spark` (a DataFrame). */
  def sessionMemo[T](spark: SparkSession, kind: String, dataset: String)(build: => T): T =
    memos.getOrElseUpdate((kind, dataset, System.identityHashCode(spark)), build)
      .asInstanceOf[T]

  /** Drops every memo of `kind` (all datasets and sessions) and
    * returns the dropped values. */
  def forget[T](kind: String): Seq[T] =
    memos.keys.filter(_._1 == kind).toSeq.flatMap(memos.remove).map(_.asInstanceOf[T])

  /** Collision-proof, filesystem-safe key `<dataset>_<generation>`.
    * The dataset segment hashes the source path alone, so it is stable
    * across regenerations and is part of the GC prefix
    * (gcStaleSiblings keeps everything up to the last '_'): collecting
    * stale generations of one dataset never touches another dataset's
    * artifacts. The generation segment also hashes `version` and a
    * fingerprint of the dataset's parquet files (name + size + mtime),
    * so a REGENERATED dataset at the same path misses every artifact
    * built from its previous generation — serving those would be
    * silently wrong. Deliberately conservative: regenerating an
    * unrelated table also rebuilds events-derived artifacts (a cheap
    * false positive; a stale serve is the one that corrupts results). */
  private[graft] def pathKey(sfDir: String, version: String): String = {
    val dataset = md5(sfDir).take(8)
    val generation = md5(s"$sfDir|${dirFingerprint(sfDir)}|$version").take(16)
    s"${dataset}_$generation"
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** name:size:mtime of each parquet entry directly under `sfDir` —
    * the cheap content proxy (a real checksum would need a full scan).
    * Listed through the Hadoop FileSystem API so it works on any
    * scheme Spark can read, and directory-style parquet tables (a
    * Spark write is a DIRECTORY of part files) are fingerprinted by
    * their name + aggregate child size + max child mtime.
    *
    * Memoized per dir for the JVM lifetime: data regenerated UNDER a
    * live JVM is not re-detected until restart (a dataset swap while
    * queries run is undefined for any engine); the guarantee is
    * cross-JVM freshness. */
  private def dirFingerprint(sfDir: String): String = memo("fingerprint", sfDir) {
    val path = new org.apache.hadoop.fs.Path(sfDir)
    val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    def list(p: org.apache.hadoop.fs.Path) =
      try fs.listStatus(p).toSeq catch { case _: java.io.IOException => Seq.empty }
    list(path).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { st =>
        if (st.isDirectory) {
          val kids = list(st.getPath)
          val mt = (st.getModificationTime +: kids.map(_.getModificationTime)).max
          s"${st.getPath.getName}:d${kids.map(_.getLen).sum}:$mt"
        } else s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}"
      }
      .mkString(",")
  }

  /** Removes the sibling directories of `out` with the same
    * `graft_<kind>_<dataset>_` prefix but another generation: the
    * fingerprint-keyed dirs of earlier data generations would
    * otherwise pile up in the temp dir. */
  private def gcStaleSiblings(out: File): Unit = {
    val name = out.getName
    val prefix = name.substring(0, name.lastIndexOf('_') + 1)
    Option(out.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix) && f.getName != name)
      .foreach(deleteTree)
  }

  private def deleteTree(f: File): Unit =
    if (f.exists()) {
      try {
        Files.walk(f.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      } catch { case _: java.io.IOException => () }
    }
}
