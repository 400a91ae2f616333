package graft.frontier

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.apache.spark.sql.Dataset
import org.apache.spark.util.sketch.BloomFilter

/** One shard of the partitioned URL-seen bloom filter. Shard ownership is
  * `pmod(urlKey, P)` — at a 10^10-key frontier with 1% fpp the total sketch
  * is ~12 GB, far beyond a driver-side or broadcast filter; sharding keeps
  * each piece executor-sized and lets insert/probe run as a co-partitioned
  * cogroup with NO driver collection (north rule: partitioned bloom seen-set).
  */
case class BloomShard(pid: Int, sketch: Array[Byte])

object BloomSeen {

  def pidOf(key: Long, partitions: Int): Int =
    ((key % partitions) + partitions) % partitions match { case p => p.toInt }

  private def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  private def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** P empty shards sized `capacityPerShard` each, built on the driver (the
    * seed's v0 sketch). */
  def emptyLocal(partitions: Int, capacityPerShard: Long,
      fpp: Double = 0.01): Array[BloomShard] =
    Array.tabulate(partitions)(p =>
      BloomShard(p, serialize(BloomFilter.create(capacityPerShard, fpp))))

  /** Fold `keys` into their shards. Runs as a cogroup keyed on pid — each
    * task deserializes one sketch, bulk-inserts its co-partitioned keys, and
    * re-serializes; shards with no new keys pass through untouched.
    */
  def insert(shards: Dataset[BloomShard], keys: Dataset[Long], partitions: Int): Dataset[BloomShard] = {
    val spark = shards.sparkSession
    import spark.implicits._
    val p = partitions
    shards.groupByKey(_.pid)
      .cogroup(keys.groupByKey(k => pidOf(k, p))) { (pid, ss, ks) =>
        val shard = ss.toSeq.headOption.getOrElse(
          throw new IllegalStateException(s"missing bloom shard $pid"))
        if (ks.isEmpty) Iterator(shard)
        else {
          val bf = deserialize(shard.sketch)
          ks.foreach(bf.putLong)
          Iterator(BloomShard(pid, serialize(bf)))
        }
      }
  }

  /** Driver-side probe over locally-held shards (small-frontier fast path):
    * each shard is deserialized once; result is aligned with `keys`.
    */
  def probeLocal(shards: Array[BloomShard], keys: Array[Long],
      partitions: Int): Array[Boolean] = {
    val byPid = shards.map(sh => sh.pid -> deserialize(sh.sketch)).toMap
    keys.map(k => byPid(pidOf(k, partitions)).mightContainLong(k))
  }

  /** Driver-side single-shard insert (small-frontier fast path). */
  def insertLocal(shard: BloomShard, keys: Array[Long]): BloomShard = {
    val bf = deserialize(shard.sketch)
    keys.foreach(bf.putLong)
    BloomShard(shard.pid, serialize(bf))
  }

  /** Bytes one shard occupies at `capacity`/`fpp` (optimal-m bloom math) —
    * used to decide broadcast vs cogroup probing without touching data.
    */
  def estimatedShardBytes(capacity: Long, fpp: Double): Long =
    (math.ceil(-capacity * math.log(fpp) / (math.log(2) * math.log(2))) / 8).toLong + 32

  /** Probe: (key, mightContain). Definite negatives are certainly unseen and
    * skip the exact anti-join; positives (incl. false positives at `fpp`) go
    * on to the exact check — the filter is a pre-filter, never authoritative.
    */
  def probe(shards: Dataset[BloomShard], keys: Dataset[Long], partitions: Int): Dataset[(Long, Boolean)] = {
    val spark = shards.sparkSession
    import spark.implicits._
    val p = partitions
    keys.groupByKey(k => pidOf(k, p))
      .cogroup(shards.groupByKey(_.pid)) { (_, ks, ss) =>
        if (ks.isEmpty) Iterator.empty
        else {
          val bf = ss.toSeq.headOption.map(s => deserialize(s.sketch))
          ks.map(k => (k, bf.exists(_.mightContainLong(k))))
        }
      }
  }
}
