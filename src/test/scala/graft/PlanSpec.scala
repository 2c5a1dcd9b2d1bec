package graft

import graft.frontier.Wave
import graft.synth.{Synth, SynthConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan gates: the properties that make this engine viable at
  * 100 TB must hold in the PLAN, not just produce correct rows — filter
  * pushdown into the parquet scan, column pruning of the fat `html`
  * column, broadcast of small join sides, whole-stage codegen on the hot
  * path. A refactor that silently regresses any of these fails here.
  */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString()

  private def formatted(df: DataFrame): String = {
    import org.apache.spark.sql.execution.ExplainMode
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  val sf = "/root/testdata/sf0.001"

  test("q_fetch_join: predicates are pushed into the parquet scans") {
    val plan = formatted(SparkEntry.queries("q_fetch_join")(spark, sf))
    assert(plan.contains("PushedFilters"), plan.take(800))
    assert(plan.contains("GreaterThan(l_quantity,45.0)") ||
      plan.contains("GreaterThan(l_quantity"), "quantity filter not pushed")
    assert(plan.contains("EqualTo(o_orderstatus,F)"), "status filter not pushed")
  }

  test("q_fk_chain: dimension tables broadcast, no shuffle of nation/region") {
    val plan = planOf(SparkEntry.queries("q_fk_chain")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
  }

  test("page index prunes the fat html column at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    val cfg = SynthConfig(nAccounts = 2, articlesPerAccount = 5, longTail = 5)
    Synth.pages(spark, cfg).toDF().write.mode("overwrite").parquet(s"$dir/pages")
    val idx = Wave.pageIndex(spark.read.parquet(s"$dir/pages"))
    val plan = formatted(idx)
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(!readSchema.contains("html"),
      s"html must never be read by the fetch index: $readSchema")
    assert(readSchema.contains("url") && readSchema.contains("text"))
  }

  test("fused expressions run INSIDE whole-stage codegen (no fallback break)") {
    val cfg = SynthConfig(nAccounts = 2, articlesPerAccount = 5, longTail = 0)
    val arts = graft.extract.Extract.articles(
      Synth.pages(spark, cfg).toDF().filter(!col("url").contains("profile_ext")))
    val plan = planOf(arts)
    // executedPlan.toString marks codegen'd operators with "*(n)"; the
    // operator carrying the fused expression must have that prefix — a
    // CodegenFallback would print an unstarred Project around it
    // codegen'd operators render as "*(n) Project [...]" (tree-drawing
    // prefixes like "+- " may precede the star)
    def starred(line: String): Boolean = line.contains("*(")
    val extractLine = plan.linesIterator
      .find(l => l.toLowerCase.contains("extractarticle") && l.contains("Project"))
      .getOrElse("")
    assert(starred(extractLine), s"extractarticle not codegen'd:\n$plan")
    val idx = Wave.pageIndex(Synth.pages(spark, cfg).toDF())
    idx.collect() // finalize the adaptive plan so codegen stars render
    val urlLine = planOf(idx).linesIterator
      .find(l => l.toLowerCase.contains("urlparts") && l.contains("Project"))
      .getOrElse("")
    assert(starred(urlLine), s"urlparts not codegen'd:\n${planOf(idx)}")
    // and the generated code actually compiles: force an execution
    assert(arts.count() === 10L)
  }

  test("wave fetch join broadcasts the frontier slice (not the page index)") {
    import spark.implicits._
    val before = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "128m")
    try {
      val cfg = SynthConfig(nAccounts = 2, articlesPerAccount = 5, longTail = 10)
      val pagesIdx = Wave.pageIndex(Synth.pages(spark, cfg).toDF())
      val frontier = Synth.seedFrontier(spark, cfg).toDF()
      val joined = frontier.join(pagesIdx.select($"url_hash", $"text"), Seq("url_hash"))
      val plan = planOf(joined)
      assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    } finally before.foreach(v =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
  }

  test("robots gate shuffle regime: no broadcast anywhere, verdicts identical") {
    // Common-Crawl regime: the aggregated rules, the budgets table and
    // the hot-host salt counts are multi-GB. Nothing hints a broadcast,
    // so a threshold the tables exceed (here -1: never broadcast) makes
    // the planner shuffle-join every host lookup, with rows identical to
    // the broadcast plan
    val cfg = SynthConfig(nAccounts = 3, articlesPerAccount = 4, longTail = 30)
    val frontier = Synth.seedFrontier(spark, cfg).toDF()
    val robots = Synth.robots(spark, cfg).toDF()
    val budgets = Synth.budgets(spark, cfg).toDF()
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // two rows per bucket: the hosts with more seed rows are salted, so
    // the salt-count lookup has rows to join
    val salted = Wave.WaveConfig(targetBucketRows = 2)
    assert(frontier.groupBy("host").count().filter(col("count") > 2).count() > 0,
      "some host must be salted for this test to bite")
    def decisions() = Wave.enforceBudgets(frontier, budgets, salted, frontier).toDF()
      .drop("partition_id") // lineage, not a decision: it follows the plan
    val (aB, dB) = Wave.robotsGate(frontier, robots)
    val (allowedB, deniedB, decB) = (rows(aB), rows(dB), rows(decisions()))
    assert(deniedB.nonEmpty, "the gate must deny some seed rows for this test to bite")
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (aS, dS) = Wave.robotsGate(frontier, robots)
      val plan = planOf(aS)
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
        s"shuffle regime must not broadcast:\n${plan.take(900)}")
      assert(rows(aS) === allowedB, "allowed differ")
      assert(rows(dS) === deniedB, "denied differ")
      val decS = decisions()
      assert(rows(decS) === decB, "budget decisions differ")
      val broadcasts = allNodes(decS.queryExecution.executedPlan)
        .filter(n => n.nodeName == "BroadcastExchange" || n.nodeName == "BroadcastHashJoin")
      assert(broadcasts.isEmpty, "budgets and salt-count lookups must not broadcast:\n" +
        broadcasts.map(_.simpleString(400)).mkString("\n"))
    }
  }

  /** Every physical node of `p`, descending into adaptive plans, query
    * stages, reused exchanges, subqueries and cached relations. */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(allNodes)
  }

  test("a crawl wave's robots and budgets lookups build on the long host hash") {
    // a string-keyed hash relation reserves a full memory page however
    // few rows it holds, so the wave's broadcast robots-rules, budgets
    // and salt-count lookups are keyed on xxhash64(host) (Wave.joinByHost):
    // this gates every plan the crawl loop executes — chain warm-up,
    // commit writes — in the crawl sessions' configuration (AQE off,
    // 128m broadcast threshold)
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.joins.HashJoin
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val marker = "planspec-hash-key-marker"
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) markerSeen = true
        else plans.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val cfg = SynthConfig(nAccounts = 3, articlesPerAccount = 6, longTail = 40)
    val pagesIdx = Wave.pageIndex(Synth.pages(spark, cfg).toDF()).cache()
    val confs = Map("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "128m")
    val before = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("planspec-wave").toString
      val catalog = new graft.checkpoint.SnapshotCatalog(dir, spark)
      val rc = CrawlDriver.RunConfig(dir, nWaves = 1, seenCapacity = 50000L, nShards = 4)
      CrawlDriver.init(spark, catalog, Synth.seedFrontier(spark, cfg).toDF(),
        Synth.robots(spark, cfg).toDF(), Synth.budgets(spark, cfg).toDF(), rc)
      CrawlDriver.run(spark, catalog, pagesIdx, rc)
      // listener events arrive in order on the listener bus: once a
      // marker query's event is in, every crawl plan's is too
      spark.range(1).selectExpr(s"'$marker' AS m").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(50)
      assert(markerSeen, "query listener never saw the marker query")
      import scala.jdk.CollectionConverters._
      val joins = plans.asScala.toSeq.flatMap(qe => allNodes(qe.executedPlan))
        .collect { case j: HashJoin => j }
      def lookups(valueCol: String) = joins.filter { j =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        build.output.exists(_.name == valueCol)
      }
      Seq("__rules", "tokens_per_round", "n_salts").foreach { valueCol =>
        val found = lookups(valueCol)
        assert(found.nonEmpty, s"no hash join builds $valueCol:\n" +
          joins.map(_.simpleString(200)).mkString("\n"))
        found.foreach { j =>
          val keys = if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
          assert(j.nodeName == "BroadcastHashJoin" && keys.map(_.dataType) == Seq(LongType),
            s"$valueCol lookup must build on the long host hash alone:\n${j.simpleString(400)}")
        }
      }
    } finally {
      spark.listenerManager.unregister(listener)
      before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      pagesIdx.unpersist()
    }
  }

  test("dedup queries shuffle the 8-byte hash, never the document text") {
    Seq("q_dedup_exact", "q_dedup_norm").foreach { q =>
      val plan = planOf(SparkEntry.queries(q)(spark, sf))
      assert(plan.contains("hashpartitioning(__h"),
        s"$q must exchange on the text hash:\n${plan.take(800)}")
      // map-side partial aggregation before the exchange: the shuffle
      // payload is (hash, partial keeper/copies/len), not the corpus body
      assert(plan.linesIterator.filter(_.contains("Exchange"))
        .forall(!_.contains("text")), s"$q shuffles text:\n${plan.take(800)}")
      assert(plan.contains("partial_min") || plan.contains("partial_count"),
        s"$q must partial-aggregate map-side")
    }
  }

  test("seen filter: ShardedProbe probe, NO broadcast of seen state") {
    // structural 10^10 gate: the sketch state reaches executors through
    // the ShardedProbe operator's shard-keyed exchange (each task sees
    // only its shards), never as a broadcast variable/join; the exact
    // join sees only the maybe-slice
    import spark.implicits._
    import graft.seen.ShardedSeen
    val seen = (1L to 100L).toDF("url_hash")
    val shards = ShardedSeen.updatedShards(ShardedSeen.emptyShards(spark), seen,
      spark.range(0).selectExpr("id as url_hash"), 1000, 2)
    val frontier = (1L to 1000L).map(i => (s"u$i", i, "detail", 0L))
      .toDF("url", "url_hash", "kind", "priority")
    val out = ShardedSeen.confirmFlag(graft.plans.GraftPlanner.probeDedupe(frontier,
      shards.toDF(), 2, ShardedSeen.DefaultMaxShardBufferRows), seen)
    val plan = planOf(out)
    assert(plan.contains("ShardedProbe"), s"probe must be the ShardedProbe operator:\n${plan.take(800)}")
    assert(!plan.contains("BroadcastHashJoin") && !plan.contains("BroadcastExchange"),
      s"seen state must never broadcast:\n${plan.take(800)}")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      "exact confirm must be a shuffle-side join")
    assert(plan.toLowerCase.contains("union"), "definitely-new path must bypass the join")
    // the exact join is fed by a filter on the probe flag (maybe-slice only)
    assert(plan.contains("__maybe"), plan.take(800))
  }

  test("Wave.run on a fresh session with no install call plans ShardedProbe") {
    // the probe installs its planner strategy on the frontier's session:
    // a newSession() (fresh experimental strategies), or any caller's
    // session reaching Wave.run through SparkEntry.entry, plans the same
    // operator as the crawl
    import graft.seen.ShardedSeen
    val fresh = spark.newSession()
    import fresh.implicits._
    val cfg = SynthConfig(nAccounts = 2, articlesPerAccount = 4, longTail = 10)
    val r = Wave.run(fresh,
      frontier = Synth.seedFrontier(fresh, cfg).toDF(),
      seenExact = Seq.empty[Long].toDF("url_hash"),
      shards = ShardedSeen.emptyShards(fresh),
      nShards = 2,
      robots = Synth.robots(fresh, cfg).toDF(),
      budgets = Synth.budgets(fresh, cfg).toDF(),
      pagesIdx = Wave.pageIndex(Synth.pages(fresh, cfg).toDF()))
    try {
      val nodes = allNodes(r.decisions.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[graft.plans.ShardedProbeExec]),
        s"wave must plan the ShardedProbe operator:\n${nodes.head.treeString.take(1500)}")
      assert(!nodes.exists(_.nodeName == "CoGroup"), "no cogroup fallback")
    } finally r.cached.foreach(_.unpersist())
  }

  test("no battery query plans an aggregate buffer wider than 64 fields") {
    // a wide buffer cannot codegen and costs a generated projection over
    // every field per task — approx_count_distinct at rsd 0.01 is 1,639
    // LongType fields; the one-field HllCountDistinct replaces it
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val wide = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (q, f) =>
      allNodes(f(spark, sf).queryExecution.executedPlan).collect {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.flatMap(_.aggregateFunction.aggBufferAttributes).size
      }.filter(_ > 64).map(w => s"$q: $w buffer fields")
    }
    assert(SparkEntry.queries.size === 46)
    assert(wide.isEmpty, wide.distinct.mkString("; "))
  }

  test("q_embed_neardup_exact: the vec_id % 10 = 0 sample cap sits below both join inputs") {
    // the oracle-audit twin is a cross join over its sample block:
    // without the cap under each side it is quadratic in the corpus
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = SparkEntry.queries("q_embed_neardup_exact")(spark, sf)
    df.collect() // finalize the adaptive plan
    val joins = allNodes(df.queryExecution.executedPlan).collect { case j: BaseJoinExec => j }
    assert(joins.size === 1, joins.map(_.simpleString(200)).mkString("\n"))
    val cap = """\(vec_id % 10L?\) = 0L?\)""".r // literals print as 10L once folded to bigint
    def capped(side: org.apache.spark.sql.execution.SparkPlan): Boolean =
      allNodes(side).exists {
        case f: FilterExec => cap.findFirstIn(f.condition.sql).isDefined
        case _ => false
      }
    joins.head.children.foreach { side =>
      assert(capped(side), s"join input without the sample cap:\n${side.treeString.take(800)}")
    }
  }

  test("q_semi_join: no broadcast hint, the planner sizes the key set") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = SparkEntry.queries("q_semi_join")(spark, sf)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.isEmpty, s"analyzed plan carries hints: $hints")
    assert(planOf(df).contains("LeftSemi"))
  }

  test("q_minhash_pairs / q_lsh_pairs_md5 scan documents once (signatures computed once)") {
    // the self-join's two sides share one exchange only while their
    // signature expressions compare equal; a second documents scan means
    // the signature pipeline runs twice
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    // every node once: a reused exchange is not descended into
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _: ReusedExchangeExec => Nil
      case _ => (p.children ++ p.subqueries).flatMap(nodes)
    })
    Seq("q_minhash_pairs", "q_lsh_pairs_md5").foreach { q =>
      val df = SparkEntry.queries(q)(spark, s"${TestData.root}/sf0.01")
      assert(df.collect().nonEmpty, s"$q returned no pairs")
      val scans = nodes(df.queryExecution.executedPlan).collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "documents.parquet") => s
      }
      assert(scans.size === 1, s"$q:\n${df.queryExecution.executedPlan.treeString.take(3000)}")
    }
  }
}
