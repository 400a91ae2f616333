package graft.state

/** Snapshot-versioned table store — the sandbox's Iceberg emulation.
  *
  * No Iceberg jars exist in this environment, so snapshot semantics are
  * provided by versioned Parquet directories plus a JSON manifest with an
  * atomic-rename commit:
  *
  * {{{
  *   root/v=N/table/part-....parquet   // one dir per state table
  *   root/v=N/_snapshot.json           // manifest: step, wave size, run totals
  * }}}
  *
  * A version directory becomes visible only via the final atomic rename of
  * `.staging-N` → `v=N`, so a killed run leaves either vN or vN+1 — never a
  * torn state. Resume = read `latestVersion`. The `state/` module isolates
  * this so a real Iceberg catalog can replace it without touching the engine
  * (same commit/latest/read contract). All IO goes through [[StateIO]]
  * (Hadoop `FileSystem`), so `root` may be a local path in the sandbox or
  * an `hdfs://` URI on a cluster — nothing here assumes a local disk.
  */
final class SnapshotStore(val root: String) {

  def versionDir(v: Int): String = s"$root/v=$v"
  def tablePath(v: Int, table: String): String = s"${versionDir(v)}/$table"

  def latestVersion: Option[Int] = {
    val vs = StateIO.listNames(root)
      .collect { case s if s.startsWith("v=") => s.substring(2).toInt }
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Stage version `v`: `write` receives the staging directory; on return the
    * manifest is written and the directory is atomically renamed to `v=N`.
    */
  def commit(v: Int, manifest: SnapshotStore.Manifest)(write: String => Unit): Unit = {
    val staging = s"$root/.staging-$v"
    StateIO.deleteRec(staging)
    StateIO.mkdirs(staging)
    write(staging)
    StateIO.writeString(s"$staging/_snapshot.json", manifest.json)
    StateIO.moveReplace(staging, versionDir(v))
  }

  def manifest(v: Int): SnapshotStore.Manifest =
    SnapshotStore.Manifest.parse(
      StateIO.readString(s"${versionDir(v)}/_snapshot.json"), v)

  /** Drop all versions below `keepFrom` (checkpoint retention). */
  def expire(keepFrom: Int): Unit =
    StateIO.listNames(root).foreach { n =>
      if (n.startsWith("v=") && n.substring(2).toInt < keepFrom)
        StateIO.deleteRec(s"$root/$n")
    }
}

object SnapshotStore {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Exact run totals up to a version's step (the engine's `RunSummary`
    * counters, without the per-run step count). */
  final case class Totals(fetched: Long, items: Long, deadLettered: Long)

  /** A version's `_snapshot.json`. `fetched` is the wave size of the step
    * that committed it (0 for the seed version). `pending` (unfinished
    * frontier rows) and `totals` are present only when the writing engine
    * counted them exactly; a manifest without them (an older engine, or a
    * step that ran the distributed plans) resumes by recounting the logs.
    */
  final case class Manifest(version: Int, step: Int, fetched: Long,
      pending: Option[Long], totals: Option[Totals]) {
    def json: String = {
      val o = mapper.createObjectNode()
        .put("version", version).put("step", step).put("fetched", fetched)
      pending.foreach(o.put("pending", _))
      totals.foreach { t =>
        o.putObject("totals").put("fetched", t.fetched).put("items", t.items)
          .put("deadLettered", t.deadLettered)
      }
      mapper.writeValueAsString(o)
    }
  }

  object Manifest {
    /** Parse the manifest of version `v`; only `step` is required. */
    def parse(json: String, v: Int): Manifest = {
      val n = mapper.readTree(json)
      def num(parent: com.fasterxml.jackson.databind.JsonNode, k: String) =
        Option(parent.get(k)).filter(_.isNumber)
      val step = num(n, "step").getOrElse(
        throw new IllegalStateException(s"manifest of v$v lacks step"))
      val totals = Option(n.get("totals")).filter(_.isObject).flatMap { t =>
        for (f <- num(t, "fetched"); i <- num(t, "items"); d <- num(t, "deadLettered"))
          yield Totals(f.asLong, i.asLong, d.asLong)
      }
      Manifest(num(n, "version").map(_.asInt).getOrElse(v), step.asInt,
        num(n, "fetched").map(_.asLong).getOrElse(0L),
        num(n, "pending").map(_.asLong), totals)
    }
  }
}
