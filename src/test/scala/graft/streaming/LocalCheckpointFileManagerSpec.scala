package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.GraftSpec
import graft.queries.QueryDef
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem,
  LocalFileSystem, Path}

/** The no-fork checkpoint manager writes what Hadoop's local file
  * system writes (modes, `.crc` side files, Spark's state checksums,
  * atomic commits) without starting a process, and every
  * `StreamingEtl` run uses it. */
class LocalCheckpointFileManagerSpec extends GraftSpec {

  private val Manager = "spark.sql.streaming.checkpointFileManagerClass"

  private def manager(dir: JPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def mode(p: JPath) =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Every path under `root`, relative, with its POSIX mode. */
  private def tree(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  private def write(fm: LocalCheckpointFileManager, p: Path, bytes: String,
      overwrite: Boolean = false): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(bytes.getBytes(UTF_8))
    out.close()
  }

  /** The file system a manager over `dir` writes through. */
  private def noForkFs(dir: JPath) =
    new Path(dir.toUri).getFileSystem(LocalCheckpointFileManager.noForkConf(new Configuration()))

  test("the manager's conf copy runs the no-fork file system; the shared FileSystem cache keeps Hadoop's") {
    val dir = tempDir("graft-lcfm")
    assert(noForkFs(dir).isInstanceOf[LocalCheckpointFileManager.NoForkLocalFileSystem])
    assert(noForkFs(dir) ne noForkFs(dir), "uncached: one instance per manager")
    for (conf <- Seq(new Configuration(), spark.sparkContext.hadoopConfiguration))
      assert(!FileSystem.get(new java.net.URI("file:///"), conf)
        .isInstanceOf[LocalCheckpointFileManager.NoForkLocalFileSystem])
  }

  /** Hadoop's own checksummed local file system, uncached. */
  private def hadoopLocal() = {
    val fs = new LocalFileSystem()
    fs.initialize(new java.net.URI("file:///"), new Configuration())
    fs
  }

  test("created files, dirs and .crc files get the modes Hadoop's LocalFileSystem gives") {
    val (ours, hadoops) = (tempDir("graft-lcfm-ours"), tempDir("graft-lcfm-hadoop"))
    val fm = manager(ours)
    fm.mkdirs(new Path(ours.toUri.toString + "/a/b"))
    write(fm, new Path(ours.toUri.toString + "/a/b/f"), "x")
    val local = hadoopLocal()
    try {
      local.mkdirs(new Path(hadoops.toUri.toString + "/a/b"),
        org.apache.hadoop.fs.permission.FsPermission.getDirDefault)
      val out = local.create(new Path(hadoops.toUri.toString + "/a/b/f"), false)
      out.write("x".getBytes(UTF_8))
      out.close()
    } finally local.close()
    assert(tree(ours) === tree(hadoops))
    assert(tree(ours).keySet === Set("a", "a/b", "a/b/f", "a/b/.f.crc"))
  }

  test("getFileLinkStatus equals Hadoop's answer for a symlink, a file and a dir") {
    val root = tempDir("graft-lcfm-link")
    val target = Files.write(root.resolve("t"), "abc".getBytes(UTF_8))
    Files.createSymbolicLink(root.resolve("l"), target)
    val ours = noForkFs(root).asInstanceOf[LocalFileSystem].getRawFileSystem
    val hadoop = hadoopLocal().getRawFileSystem
    def fields(st: FileStatus) =
      (st.getPath, st.isSymlink, if (st.isSymlink) st.getSymlink else null,
        st.isDirectory, st.getLen, st.getModificationTime, st.getPermission,
        st.getOwner)
    // a qualified path too: Hadoop's `readlink` gets the `file:` form
    // and prints nothing, so Hadoop calls even a symlink a file there
    for (f <- Seq(root.resolve("l"), target, root); p <- Seq(new Path(f.toString),
        new Path(f.toUri))) {
      assert(fields(ours.getFileLinkStatus(p)) === fields(hadoop.getFileLinkStatus(p)), p)
    }
    assert(ours.getFileLinkStatus(new Path(root.resolve("l").toString)).isSymlink)
  }

  test("createAtomic(overwrite = false) over an existing file throws and keeps the file") {
    val root = tempDir("graft-lcfm-atomic")
    val fm = manager(root)
    val p = new Path(root.toUri.toString + "/f")
    write(fm, p, "first")
    intercept[FileAlreadyExistsException](write(fm, p, "second"))
    assert(new String(Files.readAllBytes(root.resolve("f")), UTF_8) === "first")
    write(fm, p, "third", overwrite = true)
    assert(new String(Files.readAllBytes(root.resolve("f")), UTF_8) === "third")
  }

  test("cancel() leaves no temp file behind") {
    val root = tempDir("graft-lcfm-cancel")
    val out = manager(root).createAtomic(new Path(root.toUri.toString + "/f"), false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(tree(root).isEmpty)
  }

  /** A stateful stream (complete-mode window counts) over `in` into a
    * memory sink, checkpointed at `ckpt`; returns the batch ids it ran. */
  private def countStream(in: JPath, ckpt: JPath, view: String): Seq[Long] = {
    val events = spark.readStream.schema(graft.sources.Tables
      .eventsRawSchema(spark, Sf)).parquet(in.toString)
    val q = StreamingEtl.tumblingCounts(graft.sources.Tables.normalizeEventsTs(events))
      .writeStream.format("memory").queryName(view).outputMode("complete")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.map(_.batchId).toSeq
  }

  private val Sf = "/root/testdata/sf0.001"

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
      r.getLong(2), r.getDouble(3))).sorted.toSeq

  private def stageEvents(n: Int): JPath = {
    val in = tempDir("graft-lcfm-in")
    Files.copy(java.nio.file.Paths.get(s"$Sf/events.parquet"),
      in.resolve(s"events$n.parquet"))
    in
  }

  test("a stateful run writes the checkpoint files Hadoop's manager writes, modes and checksums included") {
    val in = stageEvents(0)
    val (ours, default) = (tempDir("graft-lcfm-ck"), tempDir("graft-lcfm-ck-default"))
    QueryDef.withConf(spark, Manager -> classOf[LocalCheckpointFileManager].getName) {
      countStream(in, ours, "lcfm_ours")
    }
    countStream(in, default, "lcfm_default")
    assert(sortedRows(spark.table("lcfm_ours")) === sortedRows(spark.table("lcfm_default")))
    // same names (metadata, offsets, commits, sources, state) and modes
    val (t, d) = (tree(ours), tree(default))
    assert(t === d)
    assert(t.keys.exists(_.endsWith(".delta.crc")), t.keys)
    assert(t.keys.exists(k => k.startsWith("offsets/.") && k.endsWith(".crc")), t.keys)
    // Spark's own state-file checksums (fileChecksum.enabled at its
    // default), each with its Hadoop side file
    assert(t.keys.exists(k => k.matches("state/0/\\d+/1\\.delta\\.crc") &&
      t.contains(k.replace("1.delta.crc", ".1.delta.crc.crc"))), t.keys)
  }

  test("a restart from a checkpoint the manager wrote resumes to the batch answer") {
    val in = stageEvents(0)
    val ckpt = tempDir("graft-lcfm-restart")
    val (first, second) =
      QueryDef.withConf(spark, Manager -> classOf[LocalCheckpointFileManager].getName) {
        val first = countStream(in, ckpt, "lcfm_restart")
        Files.copy(in.resolve("events0.parquet"), in.resolve("events1.parquet"))
        (first, countStream(in, ckpt, "lcfm_restart"))
      }
    assert(first.nonEmpty && second.nonEmpty && second.min > first.max,
      s"the restart resumes after the checkpoint's last batch: $first then $second")
    val events = graft.sources.Tables.events(spark, Sf)
    assert(sortedRows(spark.table("lcfm_restart")) ===
      sortedRows(StreamingEtl.tumblingCounts(events.union(events))))
  }

  test("a stateful StreamingEtl run starts no chmod or readlink process") {
    import jdk.jfr.consumer.RecordingStream
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart")
    rs.onEvent("jdk.ProcessStart", e => started.add(e.getString("command")))
    rs.startAsync()
    try {
      assert(StreamingEtl.tumblingCountsViaStream(spark, Sf).count() > 0)
      // a process of our own marks the end: once the stream has seen
      // it, it has seen every process the run started
      new ProcessBuilder("true").start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!started.asScala.exists(_.startsWith("true")) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally rs.close()
    val cmds = started.asScala.toSeq
    assert(cmds.exists(_.startsWith("true")), s"the recording saw no process: $cmds")
    val forks = cmds.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(forks.isEmpty, s"${forks.size} forks, e.g. ${forks.take(3)}")
  }
}
