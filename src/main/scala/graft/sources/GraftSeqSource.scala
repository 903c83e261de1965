package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, FileInputStream, FileOutputStream}
import java.util.{Map => JMap}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graftseq` — a minimal length-prefixed binary shard format for
  * packed training documents, with a full DataSource V2 READER:
  *
  * {{{
  * GraftSeqSource.writeShards(df, dir, nShards = 8)   // exporter
  * spark.read.format("graft.sources.GraftSeqSource")  // DSv2 read
  *   .load(dir)
  * }}}
  *
  * Record layout (big-endian): `[int64 doc_id][int32 n][n utf8 bytes]`.
  * One InputPartition per shard file, so a directory of k shards reads
  * with k-way parallelism and NO central bottleneck — the property
  * that matters when the shards are 100 GB each: Spark schedules one
  * task per shard, locality comes from the file system, and the
  * reader streams records without materializing a shard in memory.
  *
  * The point of shipping a DSv2 source (rather than mapPartitions
  * decoding): the format joins the engine's planning surface — it can
  * be joined, filtered, aggregated like any table, and column pruning
  * /predicates land in the normal optimizer pipeline above the scan.
  */
class GraftSeqSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftSeqSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new GraftSeqTable(properties.get("path"))
}

private class GraftSeqTable(path: String) extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graftseq($path)"
  override def schema(): StructType = GraftSeqSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSeqScanBuilder(Option(path).getOrElse(options.get("path")))
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftSeqWriteBuilder(
      Option(path).getOrElse(info.options().get("path")), info.schema())
}

/** DSv2 WRITE path with the two-phase commit protocol a real sink
  * needs: each task streams its records to a STAGED file (unique per
  * task attempt, so speculative/retried tasks cannot collide), its
  * commit message carries the staged path to the driver, and only the
  * driver's job-level commit renames the winners into place as
  * `shard_%05d.gseq` (one per input partition). A failed/aborted task
  * deletes its own staging; a failed job leaves the target directory
  * untouched — readers never observe a torn write. */
private class GraftSeqWriteBuilder(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  import org.apache.spark.sql.connector.write._
  require(schema.fieldNames.toSeq == Seq("doc_id", "text"),
    s"graftseq writes require (doc_id, text); got ${schema.fieldNames.mkString(",")}")
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo)
          : DataWriterFactory = new GraftSeqWriterFactory(path)
      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val dir = new java.io.File(path)
        dir.mkdirs()
        if (doTruncate)
          Option(dir.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".gseq")).foreach(_.delete())
        // this path shards by Spark partitionId, NOT doc_id mod — any
        // manifest left by writeShards no longer describes the layout
        // and would mis-prune doc_id-equality scans
        new java.io.File(dir, GraftSeqSource.ManifestName).delete()
        messages.collect { case m: GraftSeqCommit => m }
          .sortBy(_.partitionId)
          .foreach { m =>
            val staged = new java.io.File(m.stagedPath)
            val target = new java.io.File(dir, f"shard_${m.partitionId}%05d.gseq")
            if (!staged.renameTo(target))
              throw new java.io.IOException(
                s"graftseq commit: rename $staged -> $target failed")
          }
      }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        messages.collect { case m: GraftSeqCommit => m }
          .foreach(m => new java.io.File(m.stagedPath).delete())
    }
  }
}

private case class GraftSeqCommit(partitionId: Int, stagedPath: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private class GraftSeqWriterFactory(path: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write.DataWriter
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val stagedDir = new java.io.File(path, ".staged")
    stagedDir.mkdirs()
    private val staged =
      new java.io.File(stagedDir, f"part-$partitionId%05d-attempt-$taskId.gseq")
    private val out = new DataOutputStream(
      new BufferedOutputStream(new FileOutputStream(staged), 1 << 16))
    override def write(r: InternalRow): Unit = {
      out.writeLong(r.getLong(0))
      val bytes = r.getUTF8String(1).getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
      out.close()
      GraftSeqCommit(partitionId, staged.getAbsolutePath)
    }
    override def abort(): Unit = { out.close(); staged.delete() }
    override def close(): Unit = ()
  }
}

/** ScanBuilder with the two pushdowns that matter for this format:
  *
  *  - COLUMN PRUNING: `select doc_id` never decodes text — the reader
  *    skips the payload bytes (`skipBytes`), so a count or id-join
  *    reads 12 bytes per record instead of the document body;
  *  - SHARD PRUNING: an `doc_id = X` equality prunes the scan to the
  *    single shard `X mod nShards` (the assignment is part of the
  *    format contract) — DSv2's partition pruning, in a custom
  *    source. The filter is conservatively REPORTED as residual, so
  *    Spark still re-applies it above the scan; pruning only shrinks
  *    the input, never takes responsibility for exactness.
  */
private class GraftSeqScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = GraftSeqSource.Schema
  private var idEquality: Option[Long] = None
  private var countFromManifest: Option[Long] = None
  override def pruneColumns(requiredSchema: StructType): Unit =
    // streaming-source quirk: an empty schema (pure count) still needs
    // row objects; keep at least doc_id so the reader has a spine
    required =
      if (requiredSchema.isEmpty)
        StructType(GraftSeqSource.Schema.take(1))
      else requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    idEquality = filters.collectFirst {
      case EqualTo("doc_id", v: Long) => v
      case EqualTo("doc_id", v: java.lang.Long) => v.longValue()
    }
    filters // all residual: pruning shrinks input, Spark keeps exactness
  }
  override def pushedFilters(): Array[Filter] = Array.empty
  /** COUNT(*) pushdown: a global ungrouped count answers from the
    * manifest's per-shard row counts — ZERO shard bytes read, the
    * 100 TB property (a count over a petabyte export reads a 100-byte
    * ledger). Partial pushdown only (Spark still sums our output), and
    * only when no filter was seen (Spark additionally refuses to push
    * aggregates under unpushed filters) and the manifest actually
    * carries counts — old manifests or hand-rolled dirs decline and
    * take the normal scan. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    val isCountStar = agg.groupByExpressions().isEmpty &&
      agg.aggregateExpressions().length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (isCountStar && idEquality.isEmpty) {
      countFromManifest =
        GraftSeqSource.readManifestCounts(path).map(_.values.sum)
      countFromManifest.isDefined
    } else false
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false
  override def build(): Scan = countFromManifest match {
    case Some(total) => new GraftSeqCountScan(total)
    case None => new GraftSeqScan(path, required, idEquality)
  }
}

/** Metadata-only scan for a pushed COUNT(*): one partition, one row,
  * no shard file opened. The class name appears in the physical plan's
  * BatchScan description, which is what `GraftSeqSpec` asserts. */
private class GraftSeqCountScan(total: Long)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSeqCountScan(manifest count=$total)"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftSeqCountPartition(total))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private var emitted = false
          private val n = p.asInstanceOf[GraftSeqCountPartition].total
          override def next(): Boolean =
            if (emitted) false else { emitted = true; true }
          override def get(): InternalRow =
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(Array[Any](n))
          override def close(): Unit = ()
        }
    }
}

private case class GraftSeqCountPartition(total: Long) extends InputPartition

private class GraftSeqScan(path: String, required: StructType,
                           idEquality: Option[Long]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val files = Option(new java.io.File(path).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".gseq"))
      .sortBy(_.getName)
    // Shard pruning is only sound when a manifest CONFIRMS the
    // doc_id-mod placement contract: the DSv2 write path names shards
    // by Spark partitionId (no placement guarantee) and writes no
    // manifest, and writeShards emits no file for an empty shard — so
    // files.length is NOT a trustworthy shard count. Without the
    // manifest we scan every shard; the residual filter keeps
    // exactness either way, pruning only shrinks input.
    val kept = idEquality match {
      case Some(id) =>
        GraftSeqSource.readManifest(path) match {
          case Some(nShards) =>
            val shard = java.lang.Math.floorMod(id, nShards.toLong)
            // a missing file for the target shard means the shard was
            // empty at write time: no rows with this doc_id exist
            files.filter(_.getName == f"shard_$shard%05d.gseq")
          case None => files
        }
      case _ => files
    }
    kept.map(f => GraftSeqPartition(f.getAbsolutePath): InputPartition)
  }
  override def createReaderFactory(): PartitionReaderFactory = {
    val wantId = required.fieldNames.contains("doc_id")
    val wantText = required.fieldNames.contains("text")
    val idFirst = required.fieldNames.headOption.contains("doc_id")
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new GraftSeqReader(p.asInstanceOf[GraftSeqPartition].file,
          wantId, wantText, idFirst)
    }
  }
}

private case class GraftSeqPartition(file: String) extends InputPartition

private class GraftSeqReader(file: String, wantId: Boolean,
                             wantText: Boolean, idFirst: Boolean)
    extends PartitionReader[InternalRow] {
  private val in = new DataInputStream(
    new BufferedInputStream(new FileInputStream(file), 1 << 16))
  private val fileLen = new java.io.File(file).length()
  private var pos = 0L
  private var row: InternalRow = _
  override def next(): Boolean = {
    // a record boundary is the only valid EOF point; EOF inside a
    // record means a truncated shard and must fail loudly
    val first = in.read()
    if (first < 0) { row = null; return false }
    var id = first.toLong
    var i = 1
    while (i < 8) { id = (id << 8) | (in.readUnsignedByte() & 0xffL); i += 1 }
    val n = in.readInt()
    pos += 12L + n
    // a truncated payload must fail loudly on BOTH paths. The skip
    // path can't rely on the stream: FileInputStream.skip seeks past
    // EOF and reports success, and skipBytes returns 0 at EOF (an
    // infinite loop if trusted blindly) — so truncation is detected
    // against the file length, and skipped<=0 is kept as a backstop
    // for non-seekable streams.
    if (pos > fileLen)
      throw new java.io.EOFException(
        s"graftseq: truncated record in $file (record ends at $pos, file is $fileLen bytes)")
    val text: UTF8String =
      if (wantText) {
        val bytes = new Array[Byte](n)
        in.readFully(bytes)
        UTF8String.fromBytes(bytes)
      } else {
        // pruned: never materialize the payload
        var toSkip = n
        while (toSkip > 0) {
          val skipped = in.skipBytes(toSkip)
          if (skipped <= 0)
            throw new java.io.EOFException(
              s"graftseq: truncated record in $file ($toSkip payload bytes missing)")
          toSkip -= skipped
        }
        null
      }
    row =
      if (wantId && wantText)
        if (idFirst) InternalRow(id, text) else InternalRow(text, id)
      else if (wantId) InternalRow(id)
      else InternalRow(text)
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

object GraftSeqSource {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Sidecar recording the shard-placement contract. Only writeShards
    * (which enforces shard = floorMod(doc_id, nShards)) emits it; the
    * scan prunes to a single shard ONLY when this file confirms the
    * contract and its nShards. */
  private[sources] val ManifestName = "_graftseq_manifest"
  private val Assignment = "doc_id_mod"

  private[sources] def writeManifest(dir: String, nShards: Int,
                                     rowCounts: Option[Map[Long, Long]] = None): Unit = {
    val f = new java.io.File(dir, ManifestName)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.print(s"assignment=$Assignment\nnShards=$nShards\n")
      // per-shard record counts make COUNT(*) a metadata read (DSv2
      // aggregate pushdown); older manifests without the key simply
      // decline the pushdown
      rowCounts.foreach { rc =>
        val body = rc.toSeq.sorted.map { case (s, n) => s"$s:$n" }.mkString(",")
        w.print(s"rowCounts=$body\n")
      }
    } finally w.close()
  }

  /** True iff a COUNT(*) over this dir would answer from the manifest
    * (fixture guard for queries that demonstrate the pushdown). */
  def hasManifestCounts(dir: String): Boolean =
    readManifestCounts(dir).isDefined

  /** Per-shard row counts iff the manifest is valid AND carries them. */
  private[sources] def readManifestCounts(dir: String): Option[Map[Long, Long]] =
    readManifest(dir).flatMap { _ =>
      val f = new java.io.File(dir, ManifestName)
      // Using closes the handle — this runs once per scan build, and a
      // leaked fd per COUNT(*) pushdown would exhaust the process limit
      scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8")) { src =>
        src.getLines()
          .collectFirst { case l if l.startsWith("rowCounts=") =>
            l.stripPrefix("rowCounts=").split(",").filter(_.nonEmpty)
              .flatMap { kv =>
                kv.split(":", 2) match {
                  case Array(s, n) =>
                    scala.util.Try((s.trim.toLong, n.trim.toLong)).toOption
                  case _ => None
                }
              }.toMap
          }
      }
    }

  /** Returns the shard count iff a valid doc_id-mod manifest exists. */
  private[sources] def readManifest(dir: String): Option[Int] = {
    val f = new java.io.File(dir, ManifestName)
    if (!f.isFile) None
    else {
      val kv = scala.util.Using.resource(
        scala.io.Source.fromFile(f, "UTF-8")) { src =>
        src.getLines()
          .flatMap { l =>
            l.split("=", 2) match {
              case Array(k, v) => Some(k.trim -> v.trim)
              case _ => None
            }
          }.toMap
      }
      if (kv.get("assignment").contains(Assignment))
        kv.get("nShards").flatMap(s => scala.util.Try(s.toInt).toOption)
          .filter(_ > 0)
      else None
    }
  }

  /** Exporter: deterministic shard assignment (doc_id mod nShards),
    * records sorted by doc_id inside each shard so a shard's bytes are
    * reproducible on any cluster layout. One distributed pass: rows
    * are hash-repartitioned on the shard key (so a shard never spans
    * tasks) and sorted (shard, doc_id) within the task; the writer
    * rolls to a new file on each shard-key change — a task can own
    * several whole shards (hash partitioning may co-locate keys), but
    * a shard is always written contiguously by exactly one task. */
  def writeShards(df: DataFrame, dir: String, nShards: Int): Unit = {
    new java.io.File(dir).mkdirs()
    // stale manifest goes FIRST: a crash mid-export must leave a
    // manifest-less dir (COUNT(*) pushdown declines, scans answer),
    // never yesterday's ledger over today's bytes
    new java.io.File(dir, ManifestName).delete()
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    // ONE pass: the writer tasks count the rows they actually write
    // and the manifest is written LAST from those counts — a separate
    // pre-count over a non-deterministic input (sample/limit) could
    // disagree with the shard bytes, and the COUNT(*) pushdown would
    // then return a wrong answer with no error
    val counts = df.select(col("doc_id").cast("long"), col("text"))
      .repartition(nShards, pmod(col("doc_id"), lit(nShards)))
      .sortWithinPartitions(pmod(col("doc_id"), lit(nShards)), col("doc_id"))
      .mapPartitions { (it: Iterator[org.apache.spark.sql.Row]) =>
        val written = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        var cur = -1L
        var out: DataOutputStream = null
        try {
          it.foreach { r =>
            val shard = java.lang.Math.floorMod(r.getLong(0), nShards.toLong)
            if (shard != cur) {
              if (out != null) out.close()
              cur = shard
              out = new DataOutputStream(new BufferedOutputStream(
                new FileOutputStream(
                  new java.io.File(dir, f"shard_$shard%05d.gseq")), 1 << 16))
            }
            out.writeLong(r.getLong(0))
            val bytes = r.getString(1)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            out.writeInt(bytes.length)
            out.write(bytes)
            written(shard) = written.getOrElse(shard, 0L) + 1L
          }
        } finally if (out != null) out.close()
        written.iterator
      }.collect().toMap
    writeManifest(dir, nShards, Some(counts))
  }

  /** Read back through the DSv2 path. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("graft.sources.GraftSeqSource").load(dir)
}
