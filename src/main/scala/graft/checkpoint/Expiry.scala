package graft.checkpoint

/** Snapshot expiry — the storage-scale maintenance operation (Iceberg's
  * `expire_snapshots` + `remove_orphan_files` analogue for SURVEY §2.2's
  * snapshot layer).
  *
  * WHY this exists at 10^10-URL scale: every wave's snapshot commits a
  * FULL frontier copy plus seen-sketch shards and fetched/article
  * deltas. Without expiry a 1000-wave crawl stores O(waves × frontier)
  * — the frontier alone re-written ~1000×, dominating checkpoint
  * storage by orders of magnitude over the useful state. Expiry brings
  * durable storage back to O(live state + delta tail): the crawl's real
  * footprint.
  *
  * WHAT is deleted (data dirs only — every manifest survives, so
  * per-partition lineage and committed row counts remain readable):
  *
  *   - `frontier` / `seen_sketch` at snapshots strictly between 0 and
  *     latest: resume reads ONLY the latest copy (the crawl is a pure
  *     function of the latest committed snapshot); snapshot 0 is kept
  *     whole (seed state + run constants robots/budgets/accounts —
  *     replay-from-seed stays possible; budgets refill every wave, so
  *     no per-host budget state is committed after snapshot 0).
  *   - `fetched` / `retracted` deltas before the newest `fetched_base`:
  *     the base (committed by the [[graft.CrawlDriver]] compaction,
  *     covering deltas 0..b-1 with active retractions applied) fully
  *     determines the seen set, and the base-aware readers
  *     ([[SnapshotCatalog.readWithBase]]) never open the folded deltas.
  *   - `articles_delta` before the newest `articles_base`, and
  *     superseded older base tables: the merge-on-read view reads base +
  *     tail only (gated by ArticleStoreSpec's inputFiles check).
  *
  * WHAT is forfeited — exactly Iceberg's trade: time travel to expired
  * snapshots (historical `articles(catalog, oldK)` views, the full
  * fetched history). Kill/resume, never-fetch-twice, the replay gate
  * from the latest snapshot, and the merged article view are all
  * unaffected (ExpirySpec proves each against an un-expired twin).
  *
  * Run it like Iceberg maintenance: a separate housekeeping call between
  * crawl runs, never on the wave-critical path.
  */
object Expiry {

  final case class Stats(dirsDeleted: Int, bytesFreed: Long) {
    def +(o: Stats): Stats = Stats(dirsDeleted + o.dirsDeleted, bytesFreed + o.bytesFreed)
  }

  /** Loop tables only the latest snapshot of which is ever read. */
  private val LatestOnly = Seq("frontier", "seen_sketch")

  /** Expire superseded table data up to the latest committed snapshot.
    * Safe to call at any time between runs; idempotent. */
  def expire(catalog: SnapshotCatalog): Stats = {
    val latest = catalog.latest.getOrElse(return Stats(0, 0))
    val baseA = catalog.latestCommittedWithTable(latest, "articles_base")
    val baseF = catalog.latestCommittedWithTable(latest, "fetched_base")
    var stats = Stats(0, 0)
    def drop(id: Int, name: String): Unit = {
      val freed = catalog.dropTableData(id, name)
      if (freed > 0L) stats = stats + Stats(1, freed)
    }
    // strictly between seed (0) and latest: whole-history tables
    (1 until latest).foreach { s =>
      LatestOnly.foreach(drop(s, _))
      // deltas folded into a base covering 0..b-1 (strictly below b)
      baseF.foreach { b => if (s < b) { drop(s, "fetched"); drop(s, "retracted") } }
      baseA.foreach { b => if (s < b) drop(s, "articles_delta") }
      // superseded older bases
      baseF.foreach { b => if (s < b) drop(s, "fetched_base") }
      baseA.foreach { b => if (s < b) drop(s, "articles_base") }
    }
    stats
  }

  /** Delete the leftovers of killed commits: snapshot dirs whose
    * manifest never landed (Iceberg's `remove_orphan_files` analogue —
    * [[expire]] reclaims SUPERSEDED data, this reclaims UNCOMMITTED
    * data). They are invisible to every read path, but a resumed run
    * that stops before re-committing the same id strands them forever.
    *
    * STRONGER contract than [[expire]]: no commit may be in flight —
    * the commit being written at `latest + 1` is manifest-less by
    * design and indistinguishable from a dead one on the filesystem.
    * Run it only between crawl runs, like Iceberg orphan cleanup. */
  def removeOrphans(catalog: SnapshotCatalog): Stats =
    catalog.uncommittedSnapshotIds.foldLeft(Stats(0, 0)) { (acc, id) =>
      acc + Stats(1, catalog.dropUncommittedSnapshot(id))
    }
}
