package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.engine.FetchLog
import graft.fetch.StepOutcome
import graft.frontier.BloomShard
import graft.model.{CrawlJob, ImageItem, JobState, JobStats, SpawnedJob}
import graft.state.StateIO

/** [[StateIO.writeRows]] — the driver-side parquet writer of the engine's
  * small state tables — and [[StateIO.writeFile]] in a task — the driver
  * tier's raw outcome files — against Spark's own parquet write of the same
  * rows: the rows read back equal through the engine's explicit schemas, and
  * the footers carry the same parquet schema and Spark row metadata. This
  * pins the writer's coupling to Spark's `ParquetWriteSupport`. Also
  * [[StateIO.promote]], which lands only the winning task attempts' files.
  */
class StateIOSpec extends SparkSpec {
  import spark.implicits._

  private val jobs = Seq(
    CrawlJob(-7L, "https://a.example/list?p=1", "a.example", "listing", priority = 90,
      createdStep = 2, errorCount = 1, notBeforeStep = 4,
      stats = JobStats(3, 5, 1, 12),
      state = JobState(currentPage = 4, finished = true, startedStep = 1, finishedStep = 3,
        data = Map("cursor" -> "c9", "empty" -> "")),
      query = Map("q" -> "cats", "page" -> "")),
    CrawlJob(42L, "", "", "detail"),
    CrawlJob(Long.MaxValue, "https://b.example/d/1", "b.example", "detail",
      query = Map("id" -> "1")))
  private val logs = Seq(
    FetchLog(3, "a.example", -7L, "https://a.example/list?p=1", "listing", 4, 200, 90, 2,
      "ok", 1, 12, 5L, 1L, finished = true),
    FetchLog(3, "", 42L, "", "detail", 1, 503, 50, 0, "retry", 0, 0, 0L, 0L,
      finished = false))
  private val shards = Seq(BloomShard(0, Array[Byte](1, 2, 3, -1)), BloomShard(1, Array.empty))
  private val keySchema = StructType(Seq(StructField("key", StringType)))
  private val jobSchema = Encoders.product[CrawlJob].schema
  private val logSchema = StructType(Encoders.product[FetchLog].schema.filterNot(_.name == "step"))
  private val shardSchema = Encoders.product[BloomShard].schema

  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  /** (parquet schema, Spark row metadata) of the one parquet file in `dir`. */
  private def footer(dir: String): (String, String) = {
    val Seq(file) = parquetFiles(dir)
    val in = HadoopInputFile.fromPath(new Path(file.getPath), spark.sessionState.newHadoopConf())
    val r = ParquetFileReader.open(in)
    try {
      val m = r.getFooter.getFileMetaData
      (m.getSchema.toString, m.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"))
    } finally r.close()
  }

  /** Writes `df`'s rows with both writers, reads each back through
    * `readSchema` and compares rows and footers. */
  private def sameAsSpark(name: String, df: DataFrame, readSchema: StructType): Unit =
    withClue(s"$name: ") {
      val local = s"${tmpDir(s"stateio-$name")}/t"
      val viaSpark = s"${tmpDir(s"stateio-$name-spark")}/t"
      val toRow = ExpressionEncoder(df.schema).createSerializer()
      StateIO.writeRows(spark, df.schema, df.collect().iterator.map(toRow), local)
      df.coalesce(1).write.parquet(viaSpark)
      val Seq(file) = parquetFiles(local)
      assert(file.getName.matches("part-00000-[0-9a-f-]{36}-c000\\.snappy\\.parquet"), file.getName)
      def read(dir: String): Seq[Row] = spark.read.schema(readSchema).parquet(dir).collect().toSeq
      assert(read(local) == df.collect().toSeq)
      assert(read(local) == read(viaSpark))
      assert(footer(local)._2 != null, "no Spark row metadata")
      assert(footer(local) == footer(viaSpark))
    }

  test("driver-written state files read back like Spark-written ones, with the same footer") {
    sameAsSpark("jobs", jobs.toDF(), jobSchema)
    sameAsSpark("log", logs.toDF().drop("step"), logSchema)
    sameAsSpark("bloom", shards.toDF(), shardSchema)
    sameAsSpark("deletes", Seq("k1", "", "k3").toDF("key"), keySchema)
    sameAsSpark("empty", Seq.empty[CrawlJob].toDF(), jobSchema)
  }

  test("the engine's product encoders write the rows they encode") {
    def roundTrip[T](enc: ExpressionEncoder[T], xs: Seq[T], schema: StructType): Seq[T] = {
      val dir = s"${tmpDir("stateio-typed")}/t"
      val toRow = enc.createSerializer()
      StateIO.writeRows(spark, enc.schema, xs.iterator.map(toRow), dir)
      spark.read.schema(schema).parquet(dir).as[T](enc).collect().toSeq
    }
    assert(roundTrip(ExpressionEncoder[CrawlJob](), jobs, jobSchema) == jobs)
    val back = roundTrip(ExpressionEncoder[BloomShard](), shards, shardSchema)
    assert(back.map(s => (s.pid, s.sketch.toSeq)) == shards.map(s => (s.pid, s.sketch.toSeq)))
  }

  test("a write replaces its dir; a plain file in the way fails it with an IOException") {
    val root = tmpDir("stateio-replace")
    val dir = s"$root/t"
    val toRow = ExpressionEncoder[CrawlJob]().createSerializer()
    StateIO.writeRows(spark, jobSchema, jobs.iterator.map(toRow), dir)
    StateIO.writeRows(spark, jobSchema, jobs.take(1).iterator.map(toRow), dir)
    assert(parquetFiles(dir).size == 1)
    assert(spark.read.schema(jobSchema).parquet(dir).as[CrawlJob].collect().toSeq == jobs.take(1))
    val blocker = new java.io.File(s"$root/blocker")
    assert(blocker.createNewFile())
    intercept[java.io.IOException](
      StateIO.writeRows(spark, jobSchema, jobs.iterator.map(toRow), s"$blocker/step=0"))
  }

  test("a write that fails partway leaves no file and throws the first failure") {
    val dir = s"${tmpDir("stateio-fail")}/t"
    val toRow = ExpressionEncoder[CrawlJob]().createSerializer()
    val boom = new IllegalStateException("row 2")
    val rows = jobs.iterator.zipWithIndex.map { case (j, i) =>
      if (i == 1) throw boom else toRow(j).copy() }
    val e = intercept[IllegalStateException](StateIO.writeRows(spark, jobSchema, rows, dir))
    assert(e eq boom)
    assert(Option(new java.io.File(dir).listFiles()).toSeq.flatten.isEmpty)
  }

  private val outcomes = Seq(
    StepOutcome(jobs.head, 200, "ok",
      Seq(ImageItem("k1", "n", "content", "http://a/1", "detail", 3, 0, "img-1",
          Array.emptyByteArray, 8, 6, "png", "a caption", -5L, Map("p" -> "v")),
        ImageItem("k2", "", "content", "", "detail", 0, 0, null, Array.emptyByteArray,
          0, 0, "jpeg", "", Long.MaxValue)),
      Seq(Array[Byte](-119, 80, 78, 71, 0, 1, 2), Array.emptyByteArray),
      Seq(SpawnedJob("detail", "http://b/1"), SpawnedJob("listing", null, Map("page" -> "2"))),
      hasNextPage = true, Map("cursor" -> "c2", "n" -> "")),
    StepOutcome(jobs(1), 503, "retry", Nil, Nil, Nil, hasNextPage = false, Map.empty),
    StepOutcome(jobs(2), 301, "redirect:http://c/", Nil, Nil, Nil, hasNextPage = false, null))

  test("a task-written raw outcome file reads back like Spark's uncompressed write") {
    val enc = ExpressionEncoder[StepOutcome]()
    val spec = StateIO.writeSpec(spark, enc.schema, Map("compression" -> "uncompressed"))
    val sink = spark.sparkContext.broadcast((spec, enc))
    val name = spec.fileName(0, java.util.UUID.randomUUID().toString)
    assert(name.matches("part-00000-[0-9a-f-]{36}-c000\\.parquet"), name)
    val inTask = s"${tmpDir("stateio-task")}/t"
    val viaSpark = s"${tmpDir("stateio-task-spark")}/t"
    spark.sparkContext.parallelize(outcomes, 1).foreachPartition { it =>
      val (sp, e) = sink.value
      StateIO.writeFile(sp, it.map(e.createSerializer()), s"$inTask/$name")
    }
    outcomes.toDS().coalesce(1).write.option("compression", "uncompressed").parquet(viaSpark)
    def read(dir: String): Seq[String] = spark.read.schema(enc.schema).parquet(dir)
      .select(org.apache.spark.sql.functions.to_json(org.apache.spark.sql.functions.struct("*")))
      .as[String].collect().toSeq
    assert(read(inTask) == outcomes.toDS().toDF()
      .select(org.apache.spark.sql.functions.to_json(org.apache.spark.sql.functions.struct("*")))
      .as[String].collect().toSeq)
    assert(read(inTask) == read(viaSpark))
    assert(read(inTask).head.contains("iVBORwABAg=="), "payload bytes not landed")
    assert(footer(inTask)._2 != null, "no Spark row metadata")
    assert(footer(inTask) == footer(viaSpark))
  }

  test("promote lands only the winning attempt's file and drops the staging dir") {
    val dir = s"${tmpDir("stateio-promote")}/step=3"
    val staging = s"$dir/_staging"
    val spec = StateIO.writeSpec(spark, jobSchema)
    val name = spec.fileName(0, java.util.UUID.randomUUID().toString)
    val toRow = ExpressionEncoder[CrawlJob]().createSerializer()
    // attempts 0 and 1 of partition 0 both wrote; Spark kept attempt 1's result
    StateIO.writeFile(spec, jobs.take(1).iterator.map(toRow), s"$staging/0/$name")
    StateIO.writeFile(spec, jobs.drop(1).iterator.map(toRow), s"$staging/1/$name")
    StateIO.promote(staging, Seq(s"$staging/1/$name"), dir)
    assert(parquetFiles(dir).map(_.getName) == Seq(name))
    assert(!new java.io.File(staging).exists(), "staging dir left behind")
    assert(new java.io.File(dir).list().toSeq.sorted == Seq(s".$name.crc", name))
    assert(spark.read.schema(jobSchema).parquet(dir).as[CrawlJob].collect().toSeq == jobs.drop(1))
  }
}
