package graftbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent (rows, hash) of a query's output, folded inside the
  * tasks over the query's own physical plan: the plan runs exactly as a noop
  * write would run it (no column is pruned, no sort is dropped), and only
  * one (count, hash) pair per partition comes back to the driver.
  *
  * Doubles and floats are hashed at 10 significant digits, so a different
  * summation order of the same rows does not change the hash.
  */
object OutputHash extends Serializable {

  private def canon(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else f"$d%.9e"

  def value(v: Any, t: DataType): Int = if (v == null) 0x5bd1e995 else t match {
    case DoubleType => MurmurHash3.stringHash(canon(v.asInstanceOf[Double]))
    case FloatType => MurmurHash3.stringHash(canon(v.asInstanceOf[Float].toDouble))
    case StringType => MurmurHash3.bytesHash(v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => MurmurHash3.bytesHash(v.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val a = v.asInstanceOf[ArrayData]
      var h = 0x3c6ef372
      var i = 0
      while (i < a.numElements()) {
        h = MurmurHash3.mix(h, value(if (a.isNullAt(i)) null else a.get(i, et), et)); i += 1
      }
      MurmurHash3.finalizeHash(h, a.numElements())
    case st: StructType => row(v.asInstanceOf[InternalRow], st)
    case MapType(kt, vt, _) =>
      val m = v.asInstanceOf[MapData]
      val (ks, vs) = (m.keyArray(), m.valueArray())
      (0 until m.numElements()).map { i =>
        MurmurHash3.mix(value(ks.get(i, kt), kt), value(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))
      }.sum
    case _ => MurmurHash3.stringHash(v.toString)
  }

  def row(r: InternalRow, st: StructType): Int = {
    var h = 0x9747b28c
    var i = 0
    while (i < st.length) {
      val t = st.fields(i).dataType
      h = MurmurHash3.mix(h, value(if (r.isNullAt(i)) null else r.get(i, t), t)); i += 1
    }
    MurmurHash3.finalizeHash(h, st.length)
  }

  /** Execute `df` and return (rows, order-independent hash). */
  def apply(df: DataFrame): (Long, Long) = {
    val st = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += row(r, st) & 0xffffffffL }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

final case class QueryRef(rows: Long, hash: Option[Long])

object Queries {

  /** The queries one measured run executes, in seed-permuted order. A cold
    * pass over all 62 takes ~86 s on 4 cores at this data size, more than a
    * run may take, so a run executes this fixed panel of 17 (~13 s cold),
    * drawn from every module but the graph one, whose queries take 3-6 s
    * each; q50 is a crawl, which the crawl workloads measure.
    */
  val panel: Seq[String] = Seq(
    // relational
    "q01_stats_agg", "q02_priority_topk", "q04_politeness_cap", "q07_upsert_merge",
    "q11_session_stats", "q13_running_total", "q18_star_join",
    // text
    "q21_ngram_jaccard", "q23_simhash", "q24_lang_id", "q46_pii_redact",
    // vector
    "q30_cosine_near_dup", "q31_ann_topk", "q54_kmeans_lloyd",
    // multimodal
    "q41_image_decode", "q58_jpeg_fidelity",
    // streaming
    "q61_error_streaks")

  def loadRefs(refs: String): Map[String, QueryRef] = {
    import scala.jdk.CollectionConverters._
    Json.read(s"$refs/queries.json").fields().asScala.map { e =>
      val h = e.getValue.get("hash")
      e.getKey -> QueryRef(e.getValue.get("rows").asLong,
        if (h == null || h.isNull) None else Some(h.asText.toLong))
    }.toMap
  }

  final case class Timed(name: String, wallS: Double, planS: Double, span: Span)

  /** Run `name` once as a timed, checked operation. */
  private def once(spark: SparkSession, tracer: Tracer, res: Result, refs: Map[String, QueryRef],
      dataDir: String, name: String): Option[Timed] = res.op(name) {
    val fn = graft.SparkEntry.queries(name)
    // the timed operation builds the plan (some queries run jobs while
    // building it) and executes it once
    val ((out, qe), span) = tracer.phase("query", Map("name" -> name)) {
      val df = fn(spark, dataDir)
      (OutputHash(df), df.queryExecution)
    }
    val (rows, hash) = out
    refs.get(name) match {
      case None => Left("no reference")
      case Some(r) if r.rows != rows => Left(s"rows $rows != reference ${r.rows}")
      case Some(QueryRef(_, Some(h))) if h != hash => Left(f"hash $hash%x != reference $h%x")
      case _ => Right(Timed(name, span.seconds,
        qe.tracker.phases.values.map(_.durationMs).sum / 1e3, span))
    }
  }

  /** One untimed pass compiles every query's code (JIT and Spark codegen);
    * then timed passes, each in its own seed-permuted order. Each query
    * reports its median wall. Timing the single cold pass instead spread the
    * pack sum 0.15 and the median query 0.23 (IQR/median over 5 seeds, 4
    * cores): the first queries of an order pay for warming the code the
    * others share.
    */
  def run(spark: SparkSession, o: Opts, tracer: Tracer, listener: Option[JobListener],
      res: Result, dataDir: String, names: Seq[String]): Unit = {
    val refs = loadRefs(o.refs)
    val rnd = new scala.util.Random(o.seed)
    val w0 = System.nanoTime()
    rnd.shuffle(names).foreach(n => once(spark, tracer, res, refs, dataDir, n))
    res.detail("warmup_s") = (System.nanoTime() - w0) / 1e9
    val done = mutable.ArrayBuffer.empty[Timed]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    // three passes: with two, the pack sum spread 0.10 (IQR/median, 10 seeds)
    val nPasses = o.passes(perTenSeconds = 3)
    for (_ <- 0 until nPasses) {
      val p0 = System.nanoTime()
      rnd.shuffle(names).foreach(n => done ++= once(spark, tracer, res, refs, dataDir, n))
      passWalls += (System.nanoTime() - p0) / 1e9
    }
    if (res.failed > 0) return
    val perQuery = done.groupBy(_.name).map { case (n, ts) => n -> Stats.median(ts.map(_.wallS).toSeq) }
    res.e2e("pass_s") = perQuery.values.sum
    res.e2e("op_p50_s") = Stats.median(perQuery.values.toSeq)
    res.detail ++= Seq("query_pack_s" -> perQuery.values.sum,
      "query_p50_s" -> Stats.median(perQuery.values.toSeq), "queries" -> perQuery.size,
      "pass_walls_s" -> passWalls, "query_walls_s" -> perQuery)

    if (o.trace) {
      val l = listener.get
      Bus.drain(spark.sparkContext)
      val tasks = done.flatMap(t => l.tasksIn(t.span.startNs, t.span.endNs))
      val L = res.layers
      // per timed pass of the panel
      def perPass(x: Double) = x / nPasses
      L("ops.plan_s") = perPass(done.map(_.planS).sum)
      L("ops.exec_s") = perPass(done.map(t => t.wallS - t.planS).sum)
      L("ops.jobs") = perPass(done.map(t => l.jobsIn(t.span.startNs, t.span.endNs).size).sum)
      L("ops.tasks") = perPass(tasks.size)
      L("ops.shuffle_bytes") = perPass(tasks.map(_.shuffleWrite).sum.toDouble)
      L("ops.spill_bytes") = perPass(tasks.map(_.spill).sum.toDouble)
      L("ops.gc_s") = perPass(tasks.map(_.gcNs).sum / 1e9)
      L("ops.executor_run_s") = perPass(tasks.map(_.runNs).sum / 1e9)
      perQuery.foreach { case (n, w) => L(s"ops.$n.wall_s") = w }
    }
  }
}
