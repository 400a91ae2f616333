package graft.items

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.ImageItem

/** Item landing: last-writer-wins merge-on-key (the reference's
  * `update({key}, item, {upsert:true})`, src/db/item.js:86-99) plus
  * phash-based near-duplicate suppression (north rule).
  *
  * With a real Iceberg catalog the merge is `MERGE INTO`; here a superstep
  * only decides, with two kernels both tiers run: one winner per key
  * ([[firstItem]]) and the near-dup keys ([[suppressInBucket]], per phash
  * band bucket). Serializable: the distributed kernels' closures capture it.
  */
object Items extends Serializable {

  /** Read-side LWW resolution over appended deltas: latest createdStep wins
    * per key (ties impossible: one winner per key per step by construction).
    */
  def resolve(deltas: Dataset[ImageItem]): Dataset[ImageItem] = {
    val spark = deltas.sparkSession
    import spark.implicits._
    deltas
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("createdStep").desc)))
      .filter(col("rn") === 1)
      .drop("rn")
      .as[ImageItem]
  }

  /** Near-dup suppression ([[suppressInBucket]] per band bucket, as in
    * [[suppressedKeyDf]]) + created-vs-updated key lookup of a driver-sized
    * incoming side, fused into ONE pass over the existing items.
    *
    * The incoming side of a driver-tier superstep is politeness-bounded
    * (hosts × budget × items/page), so its buckets live on the driver and
    * ship via one broadcast; the existing-items side (the unbounded one) is
    * scanned once, not regrouped, each row probing its 8 buckets and the
    * incoming-key set.
    *
    * @param incoming (srcJob, key, image_id, phash) per incoming item row
    * @param existing all prior delta rows' (key, phash): Left = a driver-
    *        resident array (the engine's small-crawl mirror — the probe then
    *        runs with zero Spark jobs), Right = a DataFrame scanned
    *        distributed
    * @return (suppressed incoming keys, incoming keys that already exist)
    */
  def suppressAndSeenSets(
      incoming: Array[(Long, String, String, Long)],
      existing: Option[Either[Array[(String, Long)], DataFrame]],
      t: Int,
      hotBucketCap: Int = 256): (Set[String], Set[String]) = {
    if (incoming.isEmpty) return (Set.empty, Set.empty)

    // the incoming rows by band bucket, duplicates included; a hot bucket
    // emits nothing, so the existing pass below never probes one
    val probe: Map[Int, Array[(String, Long)]] =
      if (t < 0) Map.empty
      else incoming.iterator.flatMap { case (_, k, _, ph) =>
        (0 until 8).iterator.map(b => (bucket(b, ph), (k, ph)))
      }.toArray.groupMap(_._1)(_._2).filter(_._2.length <= hotBucketCap)

    // in-batch: the kernel per bucket, O(rows · 8 · cap) comparisons in a
    // large wave — parallel across driver cores (serializing it here would
    // cap N-vs-4N scaling), popcount before the string compare.
    val inBatch: Set[String] = {
      val res = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      java.util.Arrays.stream(probe.values.toArray[AnyRef]).parallel().forEach { rows =>
        suppressInBucket(rows.asInstanceOf[Array[(String, Long)]].iterator, Iterator.empty,
          t, hotBucketCap)(res.add)
      }
      import scala.jdk.CollectionConverters._
      res.asScala.toSet
    }

    val incKeys: Set[String] = incoming.map(_._2).toSet
    val (vsExisting, seenKeys) = existing match {
      case None => (Set.empty[String], Set.empty[String])
      case Some(Left(exArr)) =>
        // driver-resident existing meta (the engine's item-meta mirror):
        // the same probe the mapPartitions closure below runs, with zero
        // Spark jobs
        val sup = Set.newBuilder[String]
        val seen = Set.newBuilder[String]
        for ((oldKey, oldPh) <- exArr) {
          if (t >= 0) probeBands(probe, oldPh, t)(sup += _)
          if (incKeys.contains(oldKey)) seen += oldKey
        }
        (sup.result(), seen.result())
      case Some(Right(ex)) =>
        val spark = ex.sparkSession
        import spark.implicits._
        val probeBc = spark.sparkContext.broadcast(probe)
        val incKeysBc = spark.sparkContext.broadcast(incKeys)
        val tagged = ex.select(col("key"), col("phash")).as[(String, Long)]
          .mapPartitions { it =>
            val pm = probeBc.value
            val ik = incKeysBc.value
            val sup = scala.collection.mutable.HashSet.empty[String]
            val seen = scala.collection.mutable.HashSet.empty[String]
            it.foreach { case (oldKey, oldPh) =>
              if (t >= 0) probeBands(pm, oldPh, t)(sup += _)
              if (ik.contains(oldKey)) seen += oldKey
            }
            sup.iterator.map((false, _)) ++ seen.iterator.map((true, _))
          }.distinct().collect()
        (tagged.collect { case (false, k) => k }.toSet,
          tagged.collect { case (true, k) => k }.toSet)
    }
    (inBatch ++ vsExisting, seenKeys)
  }

  /** Band bucket `b` of a phash: the band index and its 8-bit value. */
  private def bucket(b: Int, ph: Long): Int = (b << 8) | ((ph >>> (b * 8)) & 255L).toInt

  /** Near-dup suppression within ONE band bucket, the kernel both tiers
    * run over the bucket's `incoming` (key, phash) rows, duplicates
    * included, and its `existing` rows' phashes. A bucket of more than
    * `hotBucketCap` incoming rows emits nothing (it buffers no more than
    * one over): its candidate pairs would be quadratic (the classic LSH
    * hot-bucket failure), and mass-identical payloads are collapsed by the
    * exact-duplicate path (equality on the full 64-bit phash), which stays
    * linear. Otherwise `hit` gets every incoming key within hamming `t` of a
    * lower-keyed incoming row or of an existing row (once per such row).
    * 8 bands × 8 bits: any pair within hamming ≤ 7 shares an intact band
    * (pigeonhole), so the buckets together see every pair within `t`.
    */
  private[graft] def suppressInBucket(incoming: Iterator[(String, Long)],
      existing: Iterator[Long], t: Int, hotBucketCap: Int)(hit: String => Unit): Unit = {
    val rows = incoming.take(math.min(hotBucketCap + 1L, Int.MaxValue).toInt).toArray
    if (rows.nonEmpty && rows.length <= hotBucketCap) {
      for ((k, ph) <- rows) probeNear(rows, ph, t)(k2 => if (k < k2) hit(k2))
      existing.foreach(probeNear(rows, _, t)(hit))
    }
  }

  /** The kernel's loop over the rows of one bucket: `hit` gets the key of
    * every row within hamming `t` of `ph`, allocating nothing per hit. */
  private def probeNear(rows: Array[(String, Long)], ph: Long, t: Int)
      (hit: String => Unit): Unit = {
    var i = 0
    while (i < rows.length) {
      if (java.lang.Long.bitCount(rows(i)._2 ^ ph) <= t) hit(rows(i)._1)
      i += 1
    }
  }

  /** [[probeNear]] over `ph`'s 8 buckets in `probe` (once per shared one). */
  private def probeBands(probe: Map[Int, Array[(String, Long)]], ph: Long, t: Int)
      (hit: String => Unit): Unit =
    for (b <- 0 until 8) probe.get(bucket(b, ph)).foreach(probeNear(_, ph, t)(hit))

  /** Key-set core of the near-duplicate suppression, usable at ANY incoming
    * size: the single-column DataFrame `key` of incoming rows that are
    * perceptual near-duplicates (hamming ≤ t on the 64-bit phash) of an
    * existing item or of a lower-keyed incoming row.
    *
    * Both sides are exploded into their 8 (bucket, key, phash) rows and
    * grouped by bucket (as *Distributed Streaming Set Similarity Join*
    * partitions records by signature), and each cogroup of a bucket's
    * incoming and existing rows runs [[suppressInBucket]], which streams
    * the existing rows unbuffered.
    */
  def suppressedKeyDf(
      incoming: DataFrame, // needs (key, phash); duplicate keys allowed
      existing: Option[DataFrame], // needs only (key, phash) — column-pruned
      t: Int,
      hotBucketCap: Int = 256): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._
    if (t < 0) return incoming.select(col("key")).limit(0)

    def banded(df: DataFrame) = df.select(col("key"), col("phash")).as[(String, Long)]
      .flatMap { case (k, ph) => (0 until 8).iterator.map(b => (bucket(b, ph), k, ph)) }
      .groupByKey(_._1)
    banded(incoming).cogroup(banded(existing.getOrElse(incoming.limit(0)))) { (_, inc, old) =>
      val keys = scala.collection.mutable.HashSet.empty[String]
      suppressInBucket(inc.map(r => (r._2, r._3)), old.map(_._3), t, hotBucketCap)(keys += _)
      keys.iterator
    }.distinct().toDF("key")
  }

  /** The item winner of two incoming rows (srcJob, pos, key, image_id,
    * phash) of one key, the kernel both tiers run: the lower (srcJob,
    * image_id, pos), `a` on a tie. The engine's delta reader ranks the
    * landed rows the same way. */
  private[graft] def firstItem(a: (Long, Int, String, String, Long),
      b: (Long, Int, String, String, Long)): (Long, Int, String, String, Long) = {
    val s = if (a._1 != b._1) java.lang.Long.compare(a._1, b._1) else a._4.compareTo(b._4)
    if (s < 0 || s == 0 && a._2 <= b._2) a else b
  }
}
