package graft.state

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** All engine state IO goes through the Hadoop `FileSystem` API, so the
  * state root works unchanged on any Spark-reachable store — local disk in
  * the sandbox, `hdfs://` / `s3a://` / `abfs://` on a real cluster (the
  * 10^10-URL posture: executors and the driver share no local disk).
  * Callers pass plain path strings; the scheme picks the filesystem.
  *
  * Durability note for object stores: directory rename is atomic on HDFS
  * and local filesystems (the two this engine's atomic-swap commit relies
  * on); S3A emulates rename by copy, so production on S3 should point the
  * state root at a consistent store (HDFS, or an Iceberg catalog replacing
  * `SnapshotStore` entirely — the module boundary exists for exactly that).
  */
private[graft] object StateIO {

  /** The active session's Hadoop conf (carries fs.* cluster settings);
    * plain defaults when no session exists (pure-JVM unit tests).
    */
  private def hconf: Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  private def fs(p: Path): FileSystem = p.getFileSystem(hconf)

  def isDir(path: String): Boolean = {
    val p = new Path(path)
    val f = fs(p)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  /** Child names of `dir`; empty when missing or not a directory. */
  def listNames(dir: String): Seq[String] = {
    val p = new Path(dir)
    val f = fs(p)
    if (!f.exists(p) || !f.getFileStatus(p).isDirectory) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
  }

  def mkdirs(path: String): Unit = {
    val p = new Path(path)
    fs(p).mkdirs(p)
  }

  def deleteRec(path: String): Unit = {
    val p = new Path(path)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }

  /** Move `src` onto `target`, replacing it — the commit primitive. One
    * rename (atomic on HDFS/local); the target is cleared first, so a crash
    * can only leave "old gone, new present under src", which readers treat
    * as uncommitted (they look for the target name).
    */
  def moveReplace(src: String, target: String): Unit = {
    val s = new Path(src); val t = new Path(target)
    val f = fs(t)
    if (f.exists(t)) f.delete(t, true)
    val parent = t.getParent
    if (parent != null && !f.exists(parent)) f.mkdirs(parent)
    if (!f.rename(s, t))
      throw new java.io.IOException(s"rename $src -> $target failed")
  }

  def writeString(path: String, content: String): Unit = {
    val p = new Path(path)
    val out = fs(p).create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readString(path: String): String = {
    val p = new Path(path)
    val in = fs(p).open(p)
    try {
      val bytes = org.apache.commons.io.IOUtils.toByteArray(in)
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** What a parquet write of `schema` needs besides its rows: the Hadoop
    * conf carrying the four keys Spark's `ParquetUtils.prepareWrite` sets
    * for `ParquetWriteSupport` and the row schema, and the codec. Built on
    * the driver from the session; serializable, so an engine builds one per
    * table and broadcasts it once for its tasks' writes ([[writeFile]]).
    */
  final case class WriteSpec(conf: SerializableConfiguration, codec: CompressionCodecName) {
    /** The name Spark gives part `part` of a write whose job id is `uuid`. */
    def fileName(part: Int, uuid: String): String =
      f"part-$part%05d-$uuid-c000${codec.getExtension}.parquet"
  }

  /** The [[WriteSpec]] of `schema` under the session's parquet settings;
    * `options` are the write's data source options (`compression`
    * overrides the session codec, as in `DataFrameWriter.option`).
    */
  def writeSpec(spark: SparkSession, schema: StructType,
      options: Map[String, String] = Map.empty): WriteSpec = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlConf.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.parquetAnnotateVariantLogicalType.toString)
    ParquetWriteSupport.setSchema(schema, conf)
    WriteSpec(new SerializableConfiguration(conf),
      CompressionCodecName.valueOf(new ParquetOptions(options, sqlConf).compressionCodecClassName))
  }

  /** Write `rows` as the parquet file `file` under `spec`, from the calling
    * thread — the driver's or a task's. The file is the one Spark's parquet
    * write gives the same rows: rows go through Spark's own
    * `ParquetWriteSupport` (schema conversion, value writers, Spark's
    * row-metadata footer key). That couples this writer to a Spark-internal
    * class; `StateIOSpec` pins its files against Spark-written ones (rows
    * and footer schema). A write that fails leaves no file; only its first
    * exception is thrown, later ones are added to it as suppressed.
    */
  def writeFile(spec: WriteSpec, rows: Iterator[InternalRow], file: String): Unit = {
    val p = new Path(file)
    val f = p.getFileSystem(spec.conf.value)
    val w = new RowWriter(p).withConf(spec.conf.value).withCompressionCodec(spec.codec).build()
    // no partial file: a closed writer leaves a readable file holding only
    // the rows written so far, where Spark's aborted task leaves none
    def discard(e: Throwable): Nothing = {
      try f.delete(p, false) catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }
    try rows.foreach(w.write)
    catch {
      case e: Throwable =>
        try w.close() catch { case c: Throwable => e.addSuppressed(c) }
        discard(e)
    }
    try w.close() catch { case e: Throwable => discard(e) }
  }

  /** Write `rows` of `schema` as ONE parquet file under `dir`
    * (`part-00000-<uuid>-c000.<codec>.parquet`, the name a one-task Spark
    * write gives it) from the calling thread — no Spark job — with the
    * session's parquet codec ([[writeSpec]], [[writeFile]]). `dir` is
    * replaced: deleted first when it exists, as a Spark "overwrite" write
    * does. Empty `rows` still write one file, carrying the schema, as Spark
    * does for an empty Dataset. A file in the way of `dir` fails the write
    * with an `IOException`.
    */
  def writeRows(spark: SparkSession, schema: StructType, rows: Iterator[InternalRow],
      dir: String): Unit = {
    val spec = writeSpec(spark, schema)
    deleteRec(dir)
    writeFile(spec, rows, s"$dir/${spec.fileName(0, java.util.UUID.randomUUID().toString)}")
  }

  /** Land a task-written table: move each of the `winners` (files under
    * `staging`, one per task that succeeded) into `dir` under its own name,
    * then delete `staging` with whatever else is in it — files of attempts
    * that failed, or lost to another attempt of their task. Only the driver
    * knows which attempt's result Spark kept, so this runs on the driver
    * once the job has ended.
    */
  def promote(staging: String, winners: Seq[String], dir: String): Unit = {
    val d = new Path(dir)
    val f = fs(d)
    winners.foreach { w =>
      val s = new Path(w)
      if (!f.rename(s, new Path(d, s.getName)))
        throw new java.io.IOException(s"rename $w -> $dir failed")
    }
    deleteRec(staging)
  }

  private final class RowWriter(file: Path)
      extends ParquetWriter.Builder[InternalRow, RowWriter](file) {
    override def self(): RowWriter = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }
}
