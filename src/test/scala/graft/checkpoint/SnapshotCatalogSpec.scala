package graft.checkpoint

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class SnapshotCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): (SnapshotCatalog, String) = {
    val dir = Files.createTempDirectory("catalog-spec").toString
    (new SnapshotCatalog(dir, spark), dir)
  }

  test("commit is atomic: uncommitted tmp dirs are invisible to latest/read") {
    val (c, dir) = freshCatalog()
    assert(c.latest === None)
    val counts = c.commit(0, -1, Map("t" -> Seq((1, "a"), (2, "b")).toDF("k", "v")))
    assert(counts("t") === 2L)
    // simulate a crash mid-commit: a tmp- turd with partial content
    Files.createDirectories(Paths.get(dir, "tmp-1", "t"))
    assert(c.latest === Some(0))
    // and a snapshot dir without manifest (rename happened, manifest lost)
    Files.createDirectories(Paths.get(dir, "snapshots", "000007"))
    assert(c.latest === Some(0), "manifest-less snapshot must be ignored")
  }

  test("manifest records per-table rows + files; delta union reads all") {
    val (c, _) = freshCatalog()
    c.commit(0, -1, Map("d" -> Seq(1, 2).toDF("x")))
    c.commit(1, 0, Map("d" -> Seq(3).toDF("x")))
    c.commit(2, 1, Map("d" -> Seq(4, 5, 6).toDF("x")))
    val m = c.manifest(2)
    assert(m.contains(""""snapshot_id":2""") && m.contains(""""parent_id":1"""))
    assert(m.contains(""""rows":3""") && m.contains(".parquet"))
    assert(c.readDeltasUpTo(2, "d").as[Int].collect().sorted.toSeq === Seq(1, 2, 3, 4, 5, 6))
    assert(c.readDeltasUpTo(1, "d").count() === 3)
    // meta round-trip (incl. JSON escaping of hostile values)
    c.commit(3, 2, Map("d" -> Seq(7).toDF("x")),
      meta = Map("n_shards" -> "16", "run_id" -> """r"un\0"""))
    assert(c.metaValue(3, "n_shards") === Some("16"))
    assert(c.metaValue(2, "n_shards") === None)
    assert(c.manifest(3).contains("""r\"un\\0"""))
    // the reader must UNDO the write-time escaping — a value with " or \
    // must round-trip exactly, not come back truncated/escaped
    assert(c.metaValue(3, "run_id") === Some("""r"un\0"""))
  }

  test("footer counts: executor-parallel path above the driver threshold, exact either way") {
    // round-4 verdict #6: a 10^5-file snapshot's commit must not read
    // footers driver-serially. Above DriverFooterMax the counts come from
    // one executor-parallel metadata job — same exact numbers.
    val (c, _) = freshCatalog()
    val n = SnapshotCatalog.DriverFooterMax * 3 // 12 files > threshold 4
    val big = spark.range(0L, 1000L).toDF("x").repartition(n)
    val small = spark.range(0L, 7L).toDF("y").coalesce(1)
    val counts = c.commit(0, -1, Map("big" -> big, "small" -> small))
    assert(counts("big") === 1000L, "distributed footer counts must be exact")
    assert(counts("small") === 7L, "driver-serial fallback must be exact")
    val m = c.manifest(0)
    assert(m.contains(""""rows":1000"""))
    // the manifest must list every committed file for the big table
    assert(n <= m.sliding(".parquet".length).count(_ == ".parquet"))
  }

  test("old-schema checkpoint resume: missing columns null-fill, consumers survive") {
    // a checkpoint written before the event-time column existed: its
    // `fetched` files lack discovered_ts. The fixed-schema reader
    // (Tables.forRead) must null-fill it and the seen set must be intact.
    import java.sql.Timestamp
    val (c, _) = freshCatalog()
    val oldFetched = Seq((0, 10L, 111L, "https://a/x", "a", 0))
      .toDF("wave", "priority", "url_hash", "url", "host", "partition_id")
    c.commit(0, -1, Map("fetched" -> oldFetched))

    val read = c.readTable(0, "fetched")
    assert(read.schema.fieldNames.contains("discovered_ts"))
    assert(read.filter($"discovered_ts".isNull).count() === 1)
    assert(graft.CrawlDriver.seenKeys(c, 0).as[Long].collect().toSeq === Seq(111L))

    // mixed history: a post-evolution snapshot adds timestamped rows;
    // the seen set spans both
    val newFetched = Seq((1, 10L, 222L, "https://a/y", "a", 0,
      new Timestamp(1000L))).toDF("wave", "priority", "url_hash", "url",
      "host", "partition_id", "discovered_ts")
    c.commit(1, 0, Map("fetched" -> newFetched))
    assert(graft.CrawlDriver.seenKeys(c, 1).as[Long].collect().toSet === Set(111L, 222L))
  }

  test("commit refuses to go backwards") {
    val (c, _) = freshCatalog()
    c.commit(0, -1, Map("d" -> Seq(1).toDF("x")))
    c.commit(1, 0, Map("d" -> Seq(2).toDF("x")))
    intercept[IllegalArgumentException] {
      c.commit(1, 0, Map("d" -> Seq(9).toDF("x")))
    }
  }
}
