package graft

import graft.items.Items

/** The three near-dup kernels agree: [[Items.suppressAndSeenSets]] over a
  * driver array and over a DataFrame of the existing (key, phash) rows, and
  * [[Items.suppressedKeyDf]] — on random phashes with planted near-dups, a
  * hot band bucket and duplicate keys.
  */
class NearDupParitySpec extends SparkSpec {

  private val rng = new scala.util.Random(20261019L)
  private def flip(ph: Long, bands: Seq[Int]): Long =
    bands.foldLeft(ph)((p, b) => p ^ (1L << (b * 8 + rng.nextInt(8))))
  private def flips(ph: Long, n: Int): Long = flip(ph, rng.shuffle((0 until 8).toList).take(n))

  // 300 rows share the values of bands 0 and 1: both buckets are hot (> 256)
  private val hotBase = 0xA55AL
  private def hotPhash(): Long = (rng.nextLong() & ~0xFFFFL) | hotBase
  private val random = (0 until 300).map(i => (f"r$i%04d", rng.nextLong()))
  private val hot = (0 until 300).map(i => (f"h$i%04d", hotPhash()))
  // within-batch near-dups (0 to 6 flipped bits) of random rows
  private val nearInBatch = (0 until 60).map { i =>
    val (_, ph) = random(i * 5)
    (f"n$i%04d", flips(ph, i % 7))
  }
  // a pair within hamming 6 whose only intact bands are the two hot ones
  private val hotOnlyPair = {
    val p = hotPhash()
    Seq(("hp0", p), ("hp1", flip(p, 2 until 8)))
  }
  // duplicate incoming keys (another source job landed the same item key)
  private val dupKeys = (0 until 10).map(i => random(i * 7 + 1))
  private val incomingRows = random ++ hot ++ nearInBatch ++ hotOnlyPair ++ dupKeys
  private val incoming: Array[(Long, String, String, Long)] =
    incomingRows.zipWithIndex.map { case ((k, ph), i) => (i.toLong / 3, k, "", ph) }.toArray

  private val existing: Array[(String, Long)] = (
    (0 until 200).map(i => (f"e$i%04d", rng.nextLong())) ++
    // near-dups of incoming rows, including hot ones
    (0 until 80).map { i =>
      val (_, ph) = incomingRows(i * 7)
      (f"d$i%04d", flips(ph, i % 7))
    } ++
    // incoming keys already landed (the created-vs-updated lookup)
    (0 until 40).map(i => (incomingRows(i * 11)._1, rng.nextLong())) ++
    // an existing near-dup sharing only the hot bands with its incoming row
    Seq(("hx", flip(hot(3)._2, 2 until 8)))).toArray

  private def sameKeys(a: Set[String], b: Set[String], what: String): Unit = {
    val diff = (a -- b) ++ (b -- a)
    assert(diff.isEmpty, s"$what differ on ${diff.toSeq.sorted.mkString(", ")}")
  }

  test("suppressAndSeenSets over an array == over a DataFrame == suppressedKeyDf") {
    import spark.implicits._
    val exDf = existing.toSeq.toDF("key", "phash").repartition(4)
    val incDf = incoming.toSeq.map(r => (r._2, r._4)).toDF("key", "phash")
    val hotKeys = hotOnlyPair.map(_._1).toSet + hot(3)._1
    for (t <- Seq(-1, 0, 6)) {
      val (supL, seenL) = Items.suppressAndSeenSets(incoming, Some(Left(existing)), t)
      val (supR, seenR) = Items.suppressAndSeenSets(incoming, Some(Right(exDf)), t)
      val supDf = Items.suppressedKeyDf(incDf, Some(exDf), t).as[String].collect().toSet
      sameKeys(supL, supR, s"t=$t: array vs DataFrame suppressed sets")
      sameKeys(seenL, seenR, s"t=$t: array vs DataFrame existed sets")
      sameKeys(supL, supDf, s"t=$t: suppressAndSeenSets vs suppressedKeyDf")
      val (supNone, seenNone) = Items.suppressAndSeenSets(incoming, None, t)
      assert(seenNone.isEmpty)
      sameKeys(supNone, Items.suppressedKeyDf(incDf, None, t).as[String].collect().toSet,
        s"t=$t: in-batch suppression without existing rows")

      assert(seenL == existing.map(_._1).toSet.intersect(incomingRows.map(_._1).toSet))
      if (t < 0) assert(supL.isEmpty)
      else {
        // the planted near-dups within t are found...
        assert(nearInBatch.indices.filter(_ % 7 <= t)
          .forall(i => supL(f"n$i%04d") || supL(random(i * 5)._1)))
        assert(supL.size > (if (t == 0) 5 else 50), s"t=$t: ${supL.size} suppressed")
        // ...except the pairs whose shared bands are all hot
        assert((supL intersect hotKeys).isEmpty, s"t=$t: the hot-bucket guard let a pair through")
      }
    }
    // without the guard the hot-only pairs are within t = 6
    val (noGuard, _) = Items.suppressAndSeenSets(incoming, Some(Left(existing)), 6,
      hotBucketCap = Int.MaxValue)
    assert(noGuard("hp1") && noGuard(hot(3)._1))
  }

  test("duplicate incoming rows count toward the hot-bucket guard on every path") {
    import spark.implicits._
    val r = new scala.util.Random(20261021L)
    // 257 copies of one (key, phash) from different source jobs make each of
    // its 8 buckets hot on their own
    val dupPh = r.nextLong()
    val copies = (0 until 257).map(i => (i.toLong, "m-dup", "", dupPh))
    // near-dups within hamming 6: the incoming one flips bands 0-2, the
    // existing one bands 5-7, so they share only the copies' buckets (3, 4)
    def flip(ph: Long, bands: Seq[Int]): Long =
      bands.foldLeft(ph)((p, b) => p ^ (1L << (b * 8 + r.nextInt(8))))
    val nearIn = (1000L, "z-in", "", flip(dupPh, 0 to 2))
    val nearEx = ("e-ex", flip(dupPh, 5 to 7))
    val incoming = (copies :+ nearIn).toArray
    val incDf = incoming.toSeq.map(x => (x._2, x._4)).toDF("key", "phash")
    val existing = Array(nearEx)
    val exDf = existing.toSeq.toDF("key", "phash")
    def paths(ex: Boolean, cap: Int): Set[String] = {
      val (supL, _) = Items.suppressAndSeenSets(incoming,
        Option.when(ex)(Left(existing)), 6, cap)
      val (supR, _) = Items.suppressAndSeenSets(incoming,
        Option.when(ex)(Right(exDf)), 6, cap)
      val supDf = Items.suppressedKeyDf(incDf, Option.when(ex)(exDf), 6, cap)
        .as[String].collect().toSet
      sameKeys(supL, supR, s"existing=$ex cap=$cap: array vs DataFrame suppressed sets")
      sameKeys(supL, supDf, s"existing=$ex cap=$cap: suppressAndSeenSets vs suppressedKeyDf")
      supL
    }
    // the guard: neither near-dup pair is found through the hot buckets
    assert(paths(ex = true, 256).isEmpty)
    assert(paths(ex = false, 256).isEmpty)
    // without it: the incoming near-dup by the lower-keyed copies, the
    // copies by the existing near-dup
    assert(paths(ex = false, Int.MaxValue) == Set("z-in"))
    assert(paths(ex = true, Int.MaxValue) == Set("m-dup", "z-in"))
  }
}
