package graft.corpus

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model._

/** One fetchable page of the synthetic "web" (replaces live HTTP — the
  * sandbox has zero egress; reference fetched live at src/spider.js:66-82).
  *
  * `failTimes` > 0 ⇒ the first `failTimes` fetch attempts return 500, then
  * 200 — drives the retry path (reference: src/spider.js:213-260).
  * `phash` is computed from the DECODED stored bytes (post-encode), so an
  * engine that decodes what it fetched reproduces the value exactly.
  */
case class CorpusRow(
    url: String,
    host: String,
    routeId: String,
    statusCode: Int,
    failTimes: Int,
    contentType: String,
    body: Array[Byte],
    caption: String,
    imageId: String,
    w: Int,
    h: Int,
    fmt: String,
    phash: Long)

/** Deterministic 2-route site: per host, `/list?p=N` listing pages (JSON
  * bodies with relative links + a next-page bit) → `/img/<id>` image detail
  * pages — mirroring the reference's articles→post pattern
  * (reference README.md:186-271). Seeded; byte-identical across runs.
  */
case class CorpusSpec(
    hosts: Int = 4,
    listPages: Int = 5,
    detailsPerList: Int = 10,
    imgW: Int = 48,
    imgH: Int = 48,
    // plant rates (by detail-id modulus):
    jpegMod: Int = 3,      // id % 3 == 0 → jpeg, else png
    nearDupMod: Int = 7,   // id % 7 == 3 → near-dup (jittered re-render of id-1)
    flakyMod: Int = 11,    // id % 11 == 5 → fails once (500) then succeeds
    deadMod: Int = 13      // id % 13 == 7 → permanent 404 (no payload)
) {
  def totalDetails: Long = hosts.toLong * listPages * detailsPerList
  def hostName(i: Int): String = s"h$i.test"
  def listUrl(hostIdx: Int, p: Int): String = s"http://${hostName(hostIdx)}/list?p=$p"
  def detailUrl(hostIdx: Int, id: Long): String = s"http://${hostName(hostIdx)}/img/$id"
  def hostOf(id: Long): Int = (id / (listPages.toLong * detailsPerList)).toInt
}

object SyntheticCorpus {

  val LISTING = "listing"
  val DETAIL = "detail"

  def caption(imageId: Long, host: String): String =
    s"synthetic image $imageId served by $host"

  /** Build one detail-page row (image payload). `withPhash = false` skips
    * the ground-truth phash (a decode + DCT of synthetic bookkeeping): the
    * scraper recomputes its own phash from the fetched bytes, so fetchers
    * that never expose the corpus value (SynthFetcher at bench scale) need
    * not pay for it.
    */
  def detailRow(spec: CorpusSpec, id: Long, withPhash: Boolean = true): CorpusRow = {
    val hostIdx = spec.hostOf(id)
    val host = spec.hostName(hostIdx)
    val url = spec.detailUrl(hostIdx, id)
    if (id % spec.deadMod == 7) {
      CorpusRow(url, host, DETAIL, 404, 0, "text/plain",
        "not found".getBytes("UTF-8"), null, null, 0, 0, null, 0L)
    } else {
      val isNearDup = id % spec.nearDupMod == 3 && id > 0
      val renderId = if (isNearDup) id - 1 else id
      val jitter = if (isNearDup) 0.02 else 0.0
      val img = Images.synth(renderId, spec.imgW, spec.imgH, jitter)
      val isJpeg = id % spec.jpegMod == 0
      val (fmt, ct, bytes) =
        if (isJpeg) ("jpeg", "image/jpeg", Images.encodeJpeg(img))
        else ("png", "image/png", Images.encodePng(img))
      val ph = if (withPhash) Images.phashOfBytes(bytes) else 0L
      val fail = if (id % spec.flakyMod == 5) 1 else 0
      CorpusRow(url, host, DETAIL, 200, fail, ct, bytes,
        caption(id, host), id.toString, spec.imgW, spec.imgH, fmt, ph)
    }
  }

  /** Build one listing-page row (JSON body: relative detail links + next bit). */
  def listingRow(spec: CorpusSpec, hostIdx: Int, p: Int): CorpusRow = {
    val host = spec.hostName(hostIdx)
    val base = (hostIdx.toLong * spec.listPages + (p - 1)) * spec.detailsPerList
    val links = (0 until spec.detailsPerList).map(j => s"/img/${base + j}")
    val hasNext = p < spec.listPages
    val json =
      s"""{"links":[${links.map("\"" + _ + "\"").mkString(",")}],"hasNext":$hasNext}"""
    CorpusRow(spec.listUrl(hostIdx, p), host, LISTING, 200, 0,
      "application/json", json.getBytes("UTF-8"), null, null, 0, 0, null, 0L)
  }

  /** Distributed corpus build — image encoding runs on executors. */
  def build(spark: SparkSession, spec: CorpusSpec): Dataset[CorpusRow] = {
    import spark.implicits._
    val details = spark.range(spec.totalDetails).map(id => detailRow(spec, id))
    val listings = spark
      .createDataset(for { h <- 0 until spec.hosts; p <- 1 to spec.listPages } yield (h, p))
      .map { case (h, p) => listingRow(spec, h, p) }
    details.union(listings)
  }

  /** Driver-side corpus index for the sandbox fetcher (broadcast by the
    * engine). Production swaps this for a per-partition HTTP client.
    */
  def buildLocal(spec: CorpusSpec): Map[String, CorpusRow] = {
    val details = (0L until spec.totalDetails).map(id => detailRow(spec, id))
    val listings = for { h <- 0 until spec.hosts; p <- 1 to spec.listPages }
      yield listingRow(spec, h, p)
    (details ++ listings).map(r => r.url -> r).toMap
  }

  /** Seed jobs: page-1 listing of every host. */
  def seeds(spec: CorpusSpec): Seq[(String, String)] =
    (0 until spec.hosts).map(h => LISTING -> spec.listUrl(h, 1))

  /** The same seeds as query params for the listing urlTemplate — the
    * `nest.queue(routeKey, {query})` surface.
    */
  def seedQueries(spec: CorpusSpec): Seq[(String, Map[String, String])] =
    (0 until spec.hosts).map(h => LISTING -> Map("host" -> spec.hostName(h)))
}
