package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IVF coarse-quantizer ANN ([[Ivf]]): assignment invariants and
  * determinism, exactness at nprobe=K, recall of a planted co-directional
  * near-dup at nprobe=1, and the partition-pruned probe scan that makes
  * the cell id a physical index key at scale. */
class IvfSpec extends SparkSpec {
  import spark.implicits._

  private def vec(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  /** 3 well-separated clusters on coordinate axes + the query (id 0)
    * inside cluster A; id 1 is the query's direction scaled (cos = 1). */
  private def plantedDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    val rows =
      Seq((0L, vec(10, 1, 0, 0), 0), (1L, vec(20, 2, 0, 0), 0)) ++ // A: query + co-dir dup
        (2L to 9L).map(i => (i, vec(9 + i * 0.1, 1.5, 0.1 * i, 0), 0)) ++ // A
        (10L to 19L).map(i => (i, vec(0, 0.1 * i, 9 + i * 0.05, 0), 1)) ++ // B
        (20L to 29L).map(i => (i, vec(0.1, 0, 0.2, 9 + i * 0.05), 2)) // C
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("ivf assignment: one cell per vector, in range, repartition-invariant") {
    val dir = plantedDir()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = 6
    val a1 = Ivf.assign(e, k).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1.size === e.count())
    assert(a1.values.forall(c => c >= 0 && c < k))
    // same corpus, different physical layout → identical assignment
    // (centroid sample is an order-stable TakeOrdered, argmax tie-break
    // is by index — nothing depends on partitioning)
    val a2 = Ivf.assign(e.repartition(7, col("vec_id")), k)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === a2)
  }

  /** Top-k for the query vector (id 0) through the inverted file:
    * [[Ivf.index]] with K cells, then [[Ivf.probeIndexed]]. */
  private def probeTopK(dir: String, topK: Int, nprobe: Int, k: Int): Seq[(Long, Double)] = {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val idxDir = s"$dir/ivf_index_k$k"
    Ivf.index(e, idxDir, k)
    val qe = e.filter(col("vec_id") === 0L).select("embedding").head().getSeq[Float](0)
    Ivf.probeIndexed(spark, idxDir, qe, excludeId = Some(0L), topK = topK, nprobe = nprobe)
      .select("vec_id", "cos_sim").as[(Long, Double)].collect().toSeq
  }

  test("ivf with nprobe = K is exactly brute-force top-k") {
    val dir = plantedDir()
    val k = 5
    val ivf = probeTopK(dir, topK = 8, nprobe = k, k = k)
    val brute = TextQueries.queries("q_embed_topk")(spark, dir)
      .limit(8).as[(Long, Double)].collect().toSeq
    // probing every cell searches the whole corpus → identical ranking
    assert(ivf.map(_._1).take(8) === brute.map(_._1).take(8))
    ivf.zip(brute).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
  }

  test("ivf recall: co-directional near-dup is found at nprobe = 1") {
    val dir = plantedDir()
    // id 1 is the query direction scaled → identical dot ORDER against
    // any centroid set → same argmax cell as the query, which is always
    // the first probed cell. nprobe=1 must therefore recover it at rank 1.
    val got = probeTopK(dir, topK = 3, nprobe = 1, k = 6)
    assert(got.head._1 === 1L, s"planted co-dir dup must rank first: ${got.toSeq}")
    assert(got.head._2 === 1.0)
  }

  private def indexScan(df: org.apache.spark.sql.DataFrame, idxDirHint: String)
      : org.apache.spark.sql.execution.FileSourceScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(idxDirHint)) => f
    }.getOrElse(fail(s"no file scan over $idxDirHint in probe plan"))

  test("indexed read path: probe scan is partition-pruned to nprobe cells") {
    val dir = plantedDir()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val k = 6
    val idxDir = s"$dir/ivf_index"
    Ivf.index(e, idxDir, k)
    val qe = e.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    val probed = Ivf.probeIndexed(spark, idxDir, qe, excludeId = Some(0L), nprobe = 2)
    val scan = indexScan(probed, "ivf_index")
    assert(scan.partitionFilters.nonEmpty, "cell predicate must be a partition filter")
    val totalCells = spark.read.parquet(idxDir).select("cell").distinct().count()
    val probedCount = scan.selectedPartitions.partitionCount
    assert(probedCount < totalCells,
      s"scan must touch only probed cells: $probedCount of $totalCells")
    assert(probedCount <= 2)
  }

  test("assignment is one narrow codegen'd pass: no exchange in the plan") {
    val dir = plantedDir()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val plan = Ivf.assign(e, 6).queryExecution.executedPlan.toString()
    // centroid sampling is its own tiny TakeOrdered job; the corpus-wide
    // assignment itself must be scan → project (the matrix rides as a
    // literal), never a shuffle — that's what makes it linear at 10^10
    assert(!plan.contains("Exchange"), s"assignment must not shuffle:\n${plan.take(600)}")
    // executedPlan.toString marks codegen'd operators with a "*(n)" star
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      s"assignment project must stay codegen'd:\n${plan.take(600)}")
  }

  test("index cache: sidecar-last completeness marker + content-fingerprinted key") {
    // round-4 advice: (a) a crash between the parquet commit and the
    // centroid sidecar must read as ABSENT (rebuild), never a
    // permanently-broken cache; (b) rewriting the corpus at the same
    // path must change the cache key — no stale index served.
    val dir = plantedDir()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val key = s"$dir/embeddings.parquet"
    val fp1 = Ivf.contentFingerprint(key)
    val first = Ivf.indexedTopK(spark, e, cacheKey = key, topK = 3).collect()
    assert(first.nonEmpty)

    // simulate the crash window: parquet _SUCCESS present, sidecar gone
    def h32(s: String) = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL)
    val base = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm" else System.getProperty("java.io.tmpdir")
    def dirFor(fp: String) = java.nio.file.Paths.get(
      s"$base/graft-ivf-index-${h32(key)}-${h32(fp)}-k${Ivf.DefaultCells}")
    val idxDir = dirFor(fp1)
    assert(java.nio.file.Files.exists(idxDir.resolve("_centroids.csv")),
      s"cache must exist where the key points: $idxDir")
    java.nio.file.Files.delete(idxDir.resolve("_centroids.csv"))
    val rebuilt = Ivf.indexedTopK(spark, e, cacheKey = key, topK = 3).collect()
    assert(java.nio.file.Files.exists(idxDir.resolve("_centroids.csv")),
      "a sidecar-less cache must be rebuilt, not served broken")
    assert(rebuilt.map(_.getLong(0)).toSeq === first.map(_.getLong(0)).toSeq)

    // rewrite the corpus at the SAME path → fingerprint must move, AND
    // the superseded index generation must be physically reclaimed
    // (RAM-backed /dev/shm would otherwise leak one index per rewrite)
    Thread.sleep(5) // ensure a distinct mtime even on coarse clocks
    val e2 = e.limit(20).cache()
    e2.count()
    e2.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val fp2 = Ivf.contentFingerprint(key)
    assert(fp1 !== fp2, "rewritten corpus must change the cache fingerprint")
    val fresh = spark.read.parquet(s"$dir/embeddings.parquet")
    Ivf.indexedTopK(spark, fresh, cacheKey = key, topK = 3).collect()
    assert(java.nio.file.Files.exists(dirFor(fp2).resolve("_centroids.csv")),
      "rewritten corpus must get a fresh index generation")
    assert(!java.nio.file.Files.exists(idxDir),
      "the superseded index generation must be deleted, not leaked")
  }

  test("reclaim keeps all k variants of the LIVE generation; stale generations go") {
    // round-5 advice: the reclaim prefix must be fingerprint-scoped —
    // building for one k must not delete still-valid current-fingerprint
    // indexes of the same corpus at other k values
    val dir = plantedDir()
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val key = s"$dir/embeddings.parquet"
    def h32(s: String) = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s).toLong & 0xffffffffL)
    val base = if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      "/dev/shm" else System.getProperty("java.io.tmpdir")
    val prefix = s"$base/graft-ivf-index-${h32(key)}-"
    val fp = h32(Ivf.contentFingerprint(key))
    // a sibling k variant of the CURRENT generation, and a stale one
    val liveSibling = java.nio.file.Paths.get(s"$prefix$fp-k999")
    val staleGen = java.nio.file.Paths.get(s"${prefix}deadbeef-k999")
    for (d <- Seq(liveSibling, staleGen)) {
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.writeString(d.resolve("part-0.parquet"), "x")
    }
    try {
      Ivf.indexedTopK(spark, e, cacheKey = key, topK = 3).collect()
      assert(java.nio.file.Files.exists(liveSibling),
        "same-fingerprint k variant must survive a build at another k")
      assert(!java.nio.file.Files.exists(staleGen),
        "different-fingerprint generation must be reclaimed")
    } finally {
      for (d <- Seq(liveSibling, staleGen) if java.nio.file.Files.exists(d)) {
        java.nio.file.Files.deleteIfExists(d.resolve("part-0.parquet"))
        java.nio.file.Files.deleteIfExists(d)
      }
    }
  }

  test("registered queries run against testdata shape; topk executes the PRUNED plan") {
    val dir = plantedDir()
    val assign = TextQueries.queries("q_ann_ivf_assign")(spark, dir)
    assert(assign.columns.toSeq === Seq("vec_id", "cell"))
    assert(assign.count() === 30)
    val topk = TextQueries.queries("q_ann_ivf_topk")(spark, dir)
    assert(topk.columns.toSeq === Seq("vec_id", "cell", "cos_sim"))
    assert(topk.count() > 0)
    // round-3 verdict directive #2: the REGISTERED query's executed plan
    // must be the partition-pruned inverted-file scan, not a corpus-wide
    // reassignment — gate it here, on the registered path itself
    val scan = indexScan(topk, "graft-ivf-index-")
    assert(scan.partitionFilters.nonEmpty,
      "registered q_ann_ivf_topk must partition-prune on cell")
    assert(scan.selectedPartitions.partitionCount <= Ivf.DefaultProbes,
      s"registered probe scan must open at most nprobe=${Ivf.DefaultProbes} cells")
  }
}
