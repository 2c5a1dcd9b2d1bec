package graft.plans

import graft.seen.ShardSketch
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Cast, Expression, GenericInternalRow, JoinedRow, Literal, Pmod}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** Custom whole-operator implementation of the fused first-wins dedupe +
  * sharded-sketch probe (SURVEY §3 J2/W3/G5) — the crawl loop's hottest
  * non-extraction stage.
  *
  * WHY a custom physical operator (prompt preference (c)): the Dataset
  * `cogroup` expression of the same semantics pays a full
  * ExpressionEncoder round-trip per frontier row — every url/host/biz
  * string is decoded to a java String, boxed into an external Row,
  * buffered, sorted, then re-encoded to UnsafeRow. This operator works
  * on the exchange's UnsafeRows DIRECTLY: one `copy()` per row into the
  * buffer, a field-level comparator (no tuple allocation, no string
  * decode — UTF8String binary compare), and a mutable JoinedRow for
  * output. Same single shuffle, none of the serde.
  *
  * Physics: both children are required ClusteredDistribution on the
  * SAME int shard key (`pmod(url_hash, nShards)` on the frontier side,
  * the stored `shard` column on the sketch side) with
  * `requiredNumPartitions = nShards`, so EnsureRequirements co-locates a
  * frontier slice with exactly its shards' sketch rows — the sketch
  * state reaches executors through the exchange, never a broadcast,
  * never the driver (the 10^10 contract).
  * Murmur3 may map several shard ids to one partition; the per-partition
  * sketches are MERGED, which can only widen `maybe` (bloom/cuckoo
  * merge has no false negatives) — safe because every maybe is exactly-
  * confirmed downstream.
  *
  * Determinism: rows are buffered per partition and sorted by
  * (url_hash, priority, kind, url); the first row per url_hash wins —
  * byte-identical to [[graft.frontier.Wave.dedupeInBatch]]'s window for
  * ASCII kinds/urls (UTF8String binary order = java String order on
  * ASCII; a url_hash collision between different non-ASCII urls could
  * order differently, which changes no crawl decision — both rows carry
  * the same url_hash, so the same key is fetched either way).
  */
final case class ShardedProbe(
    left: LogicalPlan,
    right: LogicalPlan,
    nShards: Int,
    maxBufferRows: Long,
    /** Output attr passed in the constructor so plan copies during
      * analysis/optimization keep a stable exprId. */
    maybeAttr: AttributeReference)
  extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ maybeAttr
  // __maybe is born here, not read from a child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(maybeAttr)
  // consume EVERY child column: output mirrors left.output, so column
  // pruning below this node would silently change the operator's own
  // schema (and drop the url_hash/priority/kind/url keys the exec
  // needs). The frontier is slim; opacity costs nothing.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): ShardedProbe =
    copy(left = newLeft, right = newRight)
}

object ShardedProbe {
  /** Columns the exec resolves by name — the construction-time contract. */
  val FrontierKeyCols: Seq[String] = Seq("url_hash", "priority", "kind", "url")
  val SketchCols: Seq[String] = Seq("shard", "bytes")
}

final case class ShardedProbeExec(
    nShards: Int,
    maxBufferRows: Long,
    maybeAttr: AttributeReference,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ maybeAttr
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(maybeAttr)
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(left.output ++ right.output)

  private def leftOrd(name: String): Int = left.output.indexWhere(_.name == name)

  /** Frontier side clusters on pmod(url_hash, n) cast to INT so its
    * values murmur-hash identically to the sketch side's INT `shard`
    * column — the co-partitioning contract. */
  override def requiredChildDistribution: Seq[Distribution] = {
    val hashAttr = left.output(leftOrd("url_hash"))
    val shardExpr: Expression =
      Cast(Pmod(hashAttr, Literal(nShards.toLong)), IntegerType)
    val shardAttr = right.output(right.output.indexWhere(_.name == "shard"))
    // NO requiredNumPartitions: co-partitioning is the contract, the
    // width follows the session's shuffle parallelism (EnsureRequirements
    // makes both sides compatible). Several shard ids sharing a partition
    // just means their sketches merge — probe-safe (no false negatives),
    // and stage width tracks the cluster size instead of nShards.
    Seq(
      ClusteredDistribution(Seq(shardExpr)),
      ClusteredDistribution(Seq(shardAttr)))
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val hashIdx = leftOrd("url_hash")
    val prioIdx = leftOrd("priority")
    val kindIdx = leftOrd("kind")
    val urlIdx = leftOrd("url")
    require(hashIdx >= 0 && prioIdx >= 0 && kindIdx >= 0 && urlIdx >= 0,
      s"frontier side must carry url_hash/priority/kind/url: ${left.output.map(_.name)}")
    val bytesIdx = right.output.indexWhere(_.name == "bytes")
    require(bytesIdx >= 0, s"sketch side must carry bytes: ${right.output.map(_.name)}")
    val maxBuf = maxBufferRows
    val outTypes = output.map(_.dataType).toArray

    left.execute().zipPartitions(right.execute()) { (frontIt, sketchIt) =>
      val sketch = sketchIt
        .map(r => ShardSketch.deserialize(r.getBinary(bytesIdx)))
        .reduceOption(_.merge(_))
      val buf = new java.util.ArrayList[InternalRow](1024)
      frontIt.foreach { r =>
        require(buf.size < maxBuf,
          s"frontier partition exceeds maxBufferRows=$maxBuf — raise nShards " +
            "so wave/nShards fits in task memory")
        buf.add(r.copy()) // rows are recycled by the upstream exchange
      }
      val cmp = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = {
          val h = java.lang.Long.compare(a.getLong(hashIdx), b.getLong(hashIdx))
          if (h != 0) return h
          val p = java.lang.Long.compare(a.getLong(prioIdx), b.getLong(prioIdx))
          if (p != 0) return p
          val k = a.getUTF8String(kindIdx).compareTo(b.getUTF8String(kindIdx))
          if (k != 0) return k
          a.getUTF8String(urlIdx).compareTo(b.getUTF8String(urlIdx))
        }
      }
      buf.sort(cmp)
      val joined = new JoinedRow
      val flagRow = new GenericInternalRow(1)
      // consumers (shuffle writers, SparkPlan.collect) expect UnsafeRow
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(outTypes)
      var i = -1
      var lastHash = 0L
      var first = true
      new Iterator[InternalRow] {
        private var nextRow: InternalRow = advance()
        private def advance(): InternalRow = {
          while (i + 1 < buf.size) {
            i += 1
            val r = buf.get(i)
            val h = r.getLong(hashIdx)
            if (first || h != lastHash) {
              first = false; lastHash = h
              return r
            }
            lastHash = h
          }
          null
        }
        override def hasNext: Boolean = nextRow != null
        override def next(): InternalRow = {
          val r = nextRow
          nextRow = advance()
          flagRow.update(0, sketch.exists(_.mightContain(r.getLong(hashIdx))))
          toUnsafe(joined(r, flagRow))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): ShardedProbeExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[ShardedProbe]] → [[ShardedProbeExec]]; [[GraftPlanner.probeDedupe]]
  * installs it on the frontier's session (the public
  * `experimental.extraStrategies` API). */
object ShardedProbeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: ShardedProbe =>
      ShardedProbeExec(p.nShards, p.maxBufferRows, p.maybeAttr,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}

object GraftPlanner {
  /** Idempotently install the strategy on a live session. */
  def install(spark: SparkSession): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(ShardedProbeStrategy))
      exp.extraStrategies = exp.extraStrategies :+ ShardedProbeStrategy
  }

  /** The probe+dedupe DataFrame over the custom operator: frontier
    * columns + `__maybe`. Installs the strategy on the frontier's
    * session, so any session (a `newSession()` included) plans the
    * custom exec. Semantics ≡ the Dataset-cogroup reference twin
    * (spec-pinned). */
  def probeDedupe(frontier: DataFrame, shards: DataFrame, nShards: Int,
      maxBufferRows: Long): DataFrame = {
    val spark = frontier.sparkSession
    install(spark)
    // fail at PLAN CONSTRUCTION, not mid-execute: the exec resolves
    // these columns by name, so a renamed/projected-away column is
    // rejected here, before any job runs (round-3 advice). The check
    // lives at this single construction point rather than in the node's
    // constructor because Catalyst canonicalization clones the node
    // with normalized ("none") attribute names.
    require(ShardedProbe.FrontierKeyCols.forall(frontier.columns.contains),
      s"ShardedProbe frontier side must carry ${ShardedProbe.FrontierKeyCols.mkString("/")}; " +
        s"got ${frontier.columns.mkString(", ")}")
    require(ShardedProbe.SketchCols.forall(shards.columns.contains),
      s"ShardedProbe sketch side must carry ${ShardedProbe.SketchCols.mkString("/")}; " +
        s"got ${shards.columns.mkString(", ")}")
    val node = ShardedProbe(
      org.apache.spark.sql.graft.ColumnBridge.logicalPlan(frontier),
      org.apache.spark.sql.graft.ColumnBridge.logicalPlan(shards),
      nShards, maxBufferRows,
      AttributeReference("__maybe", BooleanType, nullable = false)())
    org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, node)
  }
}
