package graft

import org.apache.spark.sql.functions._
import graft.ops.{TextOps, VectorOps}

/** Invariant tests for the newest pipeline ops (q46 PII redaction, q47 int8
  * quantization). Cross-engine value equality is the driver's DuckDB gate;
  * these assert the operator-level contracts that gate can't see.
  */
class PipelineOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q46: redacted text carries no residual PII and counts match the injection rule") {
    val rows = TextOps.q46PiiRedact(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (nEmail, nPhone, nIp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val red = r.getString(4)
      // counts follow the deterministic injection rule exactly
      assert(nEmail === (if (id % 3 != 0) 1L else 0L))
      assert(nPhone === (if (id % 2 == 0) 1L else 0L))
      assert(nIp === (if (id % 5 == 0) 1L else 0L))
      // nothing PII-shaped survives redaction
      assert(!red.contains("@"), s"doc $id leaked an email: $red")
      assert(!red.contains("+1-555"), s"doc $id leaked a phone: $red")
      assert(!red.matches(""".*\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b.*"""),
        s"doc $id leaked an IP: $red")
      // each injected token became its tag
      assert(red.sliding(7).count(_ == "<EMAIL>") === nEmail)
      assert(red.sliding(7).count(_ == "<PHONE>") === nPhone)
    }
  }

  test("redactPii is a no-op on clean text") {
    import spark.implicits._
    val out = Seq("no pii here at all", "just words and 42 numbers")
      .toDF("t").select(TextOps.redactPii(col("t")).as("r"))
      .as[String].collect()
    assert(out === Seq("no pii here at all", "just words and 42 numbers"))
  }

  test("q47: quantized range is [-127,127] and every vector saturates at its max-abs element") {
    val rows = VectorOps.q47QuantizeInt8(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qMin, qMax) = (r.getLong(4), r.getLong(5))
      assert(qMin >= -127L && qMax <= 127L)
      // the element realizing max|x| quantizes to exactly ±127
      assert(qMax === 127L || qMin === -127L,
        s"vec ${r.getLong(0)} has no saturated element ($qMin,$qMax)")
      assert(r.getLong(1) > 0L) // scale_x1e9
    }
  }

  test("q47: reconstruction x_i ~= q_i * scale within scale/2 per element") {
    import spark.implicits._
    // re-derive q per element and check the quantizer's defining bound
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
    e.take(50).foreach { case (_, v) =>
      val maxabs = v.map(x => math.abs(x.toDouble)).max
      if (maxabs > 0) {
        val scale = maxabs / 127.0
        v.foreach { x =>
          val q = math.round(x.toDouble / scale)
          assert(math.abs(x.toDouble - q * scale) <= scale / 2 + 1e-12)
        }
      }
    }
  }

  test("q59: every approximate ANN index reports a measured, nonzero recall@10") {
    // the regression tripwire behind the recall gate: a broken banding or
    // probe-selection change that silently zeroes an index's hits fails
    // here even before the oracle diff does. Floors sit just below the
    // MEASURED per-index recall on this deterministic corpus (sf0.001:
    // ivf_label 300, ivf_trained 300, lsh_multiprobe 200; sf0.01 measures
    // 400/400/300) so a banding/probe change that halves any index's
    // recall fails the suite, not just the oracle diff — the old blanket
    // >= 100 floor would have passed a badly detuned index.
    val floors = Map("ivf_label" -> 250L, "ivf_trained" -> 250L,
      "lsh_multiprobe" -> 150L)
    val rows = VectorOps.q59AnnRecall(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq ===
      Seq("ivf_label", "ivf_trained", "lsh_multiprobe"))
    rows.foreach { r =>
      val recall = r.getLong(2)
      assert(recall >= floors(r.getString(0)) && recall <= 1000,
        s"${r.getString(0)} recall@10 out of band: $recall (floor ${floors(r.getString(0))})")
      assert(recall === r.getLong(1) * 100)
    }
  }

  test("q64: kNN join emits ranked, verified, non-self neighbors per vector") {
    val rows = VectorOps.q64KnnJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    // ranks are 1..n(≤3) contiguous and cosine is non-increasing per vector
    rows.groupBy(_.getLong(0)).foreach { case (vid, nb) =>
      val sorted = nb.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq === (1L to sorted.length).toSeq,
        s"vec $vid ranks not contiguous")
      assert(sorted.length <= 3, s"vec $vid has ${sorted.length} > k neighbors")
      val cs = sorted.map(_.getLong(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"vec $vid cosine not non-increasing: ${cs.toSeq}")
      sorted.foreach(r => assert(r.getLong(2) !== vid, s"vec $vid is its own neighbor"))
    }
    // every emitted edge is one of q35's verified near-dup pairs (either
    // direction) — the kNN join adds ranking, never new pairs
    val verified = VectorOps.q35CosineLshVerify(spark, sf).collect()
      .flatMap(r => Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0))))
      .toSet
    rows.foreach { r =>
      assert(verified.contains((r.getLong(0), r.getLong(2))),
        s"edge (${r.getLong(0)}, ${r.getLong(2)}) not in the verified pair set")
    }
  }

  test("q48: sample is deterministic across runs and respects per-stratum rates") {
    val a = TextOps.q48StratifiedSample(spark, sf).collect()
    val b = TextOps.q48StratifiedSample(spark, sf).collect()
    assert(a.map(_.getLong(0)).toSeq === b.map(_.getLong(0)).toSeq) // reproducible
    assert(a.nonEmpty)
    a.foreach(r => assert(r.getLong(3) < r.getLong(2))) // bucket < rate by construction
    // empirical keep-rate per stratum within a loose tolerance of the target
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(_.getString(1)).view.mapValues(_.length.toLong).toMap
    docs.foreach { case (lang, total) =>
      if (total >= 20) {
        val rate = TextOps.MixRates.toMap.getOrElse(lang, 30) / 100.0
        val got = kept.getOrElse(lang, 0L).toDouble / total
        assert(math.abs(got - rate) < 0.25, s"$lang: got $got want ~$rate")
      }
    }
  }

  test("q49: packing is a gapless chop — offsets advance by n_tokens mod budget") {
    val rows = TextOps.q49SequencePack(spark, sf).collect()
    assert(rows.nonEmpty)
    val B = 256L
    var cum = 0L
    rows.foreach { r =>
      val (n, seq, off, endSeq) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(seq === cum / B)
      assert(off === cum % B)
      cum += n
      assert(endSeq === (cum - 1) / B)
    }
  }

  test("q47 handles the zero vector (scale 0, all q = 0)") {
    import spark.implicits._
    val tmp = tmpDir("q47zero")
    Seq((0L, Array.fill(64)(0.0f), 0), (1L, Array.fill(64)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = VectorOps.q47QuantizeInt8(spark, tmp).collect()
    val zero = out.find(_.getLong(0) == 0L).get
    assert(zero.getLong(1) === 0L && zero.getLong(2) === 0L &&
      zero.getLong(3) === 0L && zero.getLong(4) === 0L && zero.getLong(5) === 0L)
    val const = out.find(_.getLong(0) == 1L).get
    assert(const.getLong(4) === 127L && const.getLong(5) === 127L)
  }

  test("q52: vocab head is count-desc, token-asc deterministic and capped") {
    val v = TextOps.q52Vocab(spark, "/root/testdata/sf0.001").collect()
    assert(v.length <= 100)
    val pairs = v.map(r => (r.getLong(1), r.getString(0)))
    // ordering invariant: count desc, then token asc
    pairs.sliding(2).foreach { case Array((c1, t1), (c2, t2)) =>
      assert(c1 > c2 || (c1 == c2 && t1 < t2), s"ordering broke at ($c1,$t1) ($c2,$t2)")
    case _ => }
    // spot-check one count against a direct computation
    val (cnt, tok) = pairs.head
    val direct = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t"))
      .filter(col("t") === tok).count()
    assert(cnt === direct)
  }

  test("q53: exact per-source order statistics match a driver-side sort") {
    val got = TextOps.q53LengthQuantiles(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows.groupBy(_._1).foreach { case (src, g) =>
      val sorted = g.map(_._2).sorted
      val n = sorted.length
      def kth(q: Int) = sorted(((n.toLong * q + 99) / 100).toInt - 1)
      assert(got(src) === ((n.toLong, kth(50), kth(90), kth(99))), s"source $src")
    }
  }

  test("q54: Lloyd recovers planted clusters from a bad label init") {
    import spark.implicits._
    // two tight planted clusters around +x and -x; labels deliberately wrong
    // for half the points — one Lloyd round must reassign them correctly
    def v(sign: Double, jitter: Double): Seq[Float] =
      (0 until 64).map(i => (if (i == 0) sign else jitter / (i + 1)).toFloat)
    val e = Seq(
      (0L, 0, v(1.0, 0.01)), (1L, 0, v(0.9, -0.01)),
      (2L, 1, v(1.1, 0.02)), // mislabeled: belongs with cluster 0
      (3L, 1, v(-1.0, 0.01)), (4L, 1, v(-0.9, -0.02)),
      (5L, 0, v(-1.1, 0.02)) // mislabeled: belongs with cluster 1
    ).toDF("vec_id", "label", "embedding")
    val out = VectorOps.kmeansLloyd(e, iters = 2).collect()
    assert(out.map(_.getInt(0)).toSeq === Seq(0, 1))
    // balanced 3/3 split once the mislabeled points migrate
    assert(out.map(_.getLong(1)).toSeq === Seq(3L, 3L))
  }

  test("q54: every vector lands in exactly one cluster; reruns are identical") {
    val a = VectorOps.q54KmeansLloyd(spark, sf).collect()
    val b = VectorOps.q54KmeansLloyd(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    val total = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(a.map(_.getLong(1)).sum === total)
    a.foreach(r => assert(r.getLong(2) >= 0L, s"negative inertia: $r"))
  }

  test("q54: iterating never raises inertia (beyond integer-mean truncation)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    def inertia(it: Int): Long =
      VectorOps.kmeansLloyd(e, it).collect().map(_.getLong(2)).sum
    val (i0, i2) = (inertia(0), inertia(2))
    // each truncated-integer recompute sits within 1 of the true mean per
    // dim, raising inertia by < 64·n per round over the monotone chain;
    // 2 rounds ⇒ 128·n slack (negligible vs the ×10¹² d² scale)
    assert(i2 <= i0 + 128L * e.count(), s"inertia rose: $i0 -> $i2")
  }

  test("q55: duplicated docs drive the per-source n-gram dup rate to 1000") {
    import spark.implicits._
    val dir = tmpDir("q55")
    Seq(
      (0L, "a b c d", "en", "dup_src", 7L),
      (1L, "a b c d", "en", "dup_src", 7L), // exact dup of doc 0
      (2L, "p q r s t", "en", "uniq_src", 9L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val got = TextOps.q55DupNgrams(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // "a b c d" → 2 shingles per doc, each seen in BOTH docs: all occurrences dup
    assert(got("dup_src") === ((4L, 2L, 1000L)))
    // unique doc: 3 shingles, none duplicated
    assert(got("uniq_src") === ((3L, 3L, 0L)))
  }

  test("q55: occurrence count bounds distinct count; rate stays in [0,1000]") {
    val rows = TextOps.q55DupNgrams(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= r.getLong(2), s"occ < distinct: $r")
      val rate = r.getLong(3)
      assert(rate >= 0L && rate <= 1000L, s"rate out of range: $r")
    }
  }
}
