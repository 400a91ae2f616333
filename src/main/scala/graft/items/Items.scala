package graft.items

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.ImageItem

/** Item landing: last-writer-wins merge-on-key (the reference's
  * `update({key}, item, {upsert:true})`, src/db/item.js:86-99) plus
  * phash-based near-duplicate suppression (north rule).
  *
  * With a real Iceberg catalog the merge is `MERGE INTO`; here it is the
  * equivalent Spark plan: rank incoming per key, split created/updated via
  * key join, and rewrite the snapshot. One shuffle on `key` per superstep.
  */
object Items {

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

  /** Driver-resident variant of [[suppressedKeyDf]] + created-vs-updated
    * key lookup, fused into ONE distributed pass over the existing items.
    *
    * The incoming side of a driver-tier superstep is politeness-bounded
    * (hosts × budget × items/page), so its banding tables live on the driver
    * and ship via one broadcast; the existing-items side (the unbounded one)
    * is scanned distributed, each row probing the banded map and the
    * incoming-key set. Replicates [[suppressedKeyDf]] exactly:
    * 8×8-bit LSH bands, hot-bucket guard on the incoming side, exact hamming
    * verify, in-batch lower-key-wins.
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

    // hot-bucket counts over ALL incoming band rows (duplicates included,
    // matching bandedCols over the raw incoming frame)
    val counts = new scala.collection.mutable.HashMap[Int, Int]()
    if (t >= 0) for ((_, _, _, ph) <- incoming; b <- 0 until 8)
      counts.updateWith(bucket(b, ph))(c => Some(c.getOrElse(0) + 1))
    val hot: Set[Int] = counts.collect { case (bk, c) if c > hotBucketCap => bk }.toSet

    // probe side: per incoming row, its non-hot band buckets
    val probe = new scala.collection.mutable.HashMap[Int, List[(String, Long)]]()
    if (t >= 0) for ((_, k, _, ph) <- incoming; b <- 0 until 8) {
      val bk = bucket(b, ph)
      if (!hot(bk)) probe.updateWith(bk)(l => Some((k, ph) :: l.getOrElse(Nil)))
    }

    // in-batch: a probe-side row is suppressed by ANY lower-keyed incoming
    // row sharing a band bucket within hamming t (incB2 side is unfiltered).
    // With 8-bit bands a large wave makes most buckets dense (≤ cap), so
    // this is O(rows · 8 · cap) comparisons — parallel across driver cores
    // (a constant resource across cluster sizes; serializing it here would
    // cap N-vs-4N scaling), popcount before the string compare.
    val inBatch: Set[String] =
      if (t < 0) Set.empty
      else {
        val res = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
        java.util.Arrays.stream(incoming.asInstanceOf[Array[AnyRef]]).parallel()
          .forEach { row =>
            val (_, bKey, _, bPh) = row.asInstanceOf[(Long, String, String, Long)]
            probeNear(probe, bPh, t)(incKey => if (bKey < incKey) res.add(incKey))
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
          if (t >= 0) probeNear(probe, oldPh, t)(sup += _)
          if (incKeys.contains(oldKey)) seen += oldKey
        }
        (sup.result(), seen.result())
      case Some(Right(ex)) =>
        val spark = ex.sparkSession
        import spark.implicits._
        val probeBc = spark.sparkContext.broadcast(probe.toMap)
        val incKeysBc = spark.sparkContext.broadcast(incKeys)
        val tL = t
        val tagged = ex.select(col("key"), col("phash")).as[(String, Long)]
          .mapPartitions { it =>
            val pm = probeBc.value
            val ik = incKeysBc.value
            val sup = scala.collection.mutable.HashSet.empty[String]
            val seen = scala.collection.mutable.HashSet.empty[String]
            it.foreach { case (oldKey, oldPh) =>
              if (tL >= 0) probeNear(pm, oldPh, tL)(sup += _)
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

  /** The near-dup probe of [[suppressAndSeenSets]]: calls `hit` with the key
    * of every probe-side row in one of `ph`'s 8 band buckets whose phash is
    * within hamming `t` of `ph` (once per shared bucket). A callback, so
    * the probe allocates nothing per hit.
    */
  private def probeNear(probe: scala.collection.Map[Int, List[(String, Long)]], ph: Long,
      t: Int)(hit: String => Unit): Unit = {
    var b = 0
    while (b < 8) {
      var l = probe.getOrElse(bucket(b, ph), Nil)
      while (l.nonEmpty) {
        if (java.lang.Long.bitCount(l.head._2 ^ ph) <= t) hit(l.head._1)
        l = l.tail
      }
      b += 1
    }
  }

  /** Key-set core of the near-duplicate suppression, usable at ANY incoming
    * size: the single-column DataFrame `key` of incoming rows that are
    * perceptual near-duplicates (hamming ≤ t on the 64-bit phash) of an
    * existing item or of a lower-keyed incoming row.
    *
    * Scale path: LSH banding — 8 bands × 8 bits. Any pair within hamming ≤ 7
    * shares at least one intact band (pigeonhole), so candidate generation is
    * an equi-join on (band, value): shuffle-joinable at any scale, no O(n²)
    * pairwise scan. Candidates are verified exactly with
    * `bit_count(phash XOR phash) ≤ t` (codegen'd built-ins, no UDF).
    *
    * Hot-bucket guard: a band value carried by more than `hotBucketCap`
    * incoming rows would make candidate pairs quadratic (the classic LSH
    * hot-bucket failure); such values are skipped — mass-identical payloads
    * are instead collapsed by the exact-duplicate path (equality on the
    * full 64-bit phash), which stays linear. The hot set itself is bounded
    * by the 8×256-entry bucket space, so its anti-join side always
    * broadcasts. The incoming side is a wave too large for the driver
    * tier, so the band joins' strategy is left to Catalyst: sort-merge on
    * (bandIdx, bandVal).
    */
  def suppressedKeyDf(
      incoming: DataFrame, // needs (key, phash); duplicate keys allowed
      existing: Option[DataFrame], // needs only (key, phash) — column-pruned
      t: Int,
      hotBucketCap: Int = 256): DataFrame = {
    val none = incoming.select(col("key")).limit(0)
    if (t < 0) return none

    def bandedCols(df: DataFrame, side: String): DataFrame = {
      val bands = array((0 until 8).map(b =>
        shiftright(col("phash"), b * 8).bitwiseAND(lit(255L))): _*)
      df.select(col("key").as(s"${side}_key"), col("phash").as(s"${side}_phash"),
          posexplode(bands).as(Seq("bandIdx", "bandVal")))
    }

    val incAll = bandedCols(incoming.select(col("key"), col("phash")), "inc")
    val hotVals = incAll.groupBy(col("bandIdx"), col("bandVal"))
      .agg(count(lit(1)).as("c")).filter(col("c") > hotBucketCap)
      .select(col("bandIdx"), col("bandVal"))
    val inc = incAll.join(broadcast(hotVals), Seq("bandIdx", "bandVal"),
      "left_anti")

    val vsExisting = existing match {
      case Some(ex) =>
        val oldB = bandedCols(ex.select(col("key"), col("phash")), "old")
        inc.join(oldB, Seq("bandIdx", "bandVal"))
          .filter(bit_count(col("inc_phash").bitwiseXOR(col("old_phash"))) <= lit(t))
          .select(col("inc_key").as("key")).distinct()
      case None => none
    }

    val incB2 = bandedCols(incoming.select(col("key"), col("phash")), "b")
    val vsIncoming = inc.join(incB2, Seq("bandIdx", "bandVal"))
      .filter(col("b_key") < col("inc_key"))
      .filter(bit_count(col("inc_phash").bitwiseXOR(col("b_phash"))) <= lit(t))
      .select(col("inc_key").as("key")).distinct()

    vsExisting.union(vsIncoming).distinct()
  }
}
