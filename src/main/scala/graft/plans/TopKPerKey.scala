package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Alias,
  Attribute,
  AttributeReference,
  AttributeSet,
  Expression,
  GenericInternalRow,
  JoinedRow,
  SortOrder,
  UnsafeProjection,
  UnsafeRow
}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** Whole-operator extension: per-key top-k with bounded heaps.
  *
  * `row_number().over(Window.partitionBy(key).orderBy(o)) <= k` sorts
  * EVERY key group in full — O(n log n) per group and the whole group
  * buffered — to keep only k rows. This operator keeps a k-bounded
  * heap per key in one pass: O(n log k), memory O(keys × k) per
  * partition. At 100 TB with heavy keys that is the difference
  * between a spilling sort and a streaming pass.
  *
  * Wiring is the standard custom-operator stack: a resolved logical
  * node, a planner [[Strategy]] mapping it to [[TopKPerKeyExec]], and
  * a DataFrame-level API ([[TopK.perKey]]). `graft.GraftExtensions`
  * injects the strategy (and the row_number rewrite) into every graft
  * session.
  */
object TopK {

  /** Logical node. Constructed already-resolved (expressions are bound
    * to `child.output` by [[perKey]]), so the analyzer passes it
    * through and only the planner needs to know it.
    */
  case class TopKPerKey(
      key: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      rankAttr: Attribute,
      child: LogicalPlan
  ) extends UnaryNode {
    override def output: Seq[Attribute]                = child.output :+ rankAttr
    override def producedAttributes: AttributeSet      = AttributeSet(rankAttr)
    override protected def withNewChildInternal(c: LogicalPlan): TopKPerKey = copy(child = c)
  }

  /** Physical operator: hash of bounded heaps after a hash shuffle on
    * the key. Rows stream through once; output is each key's top k
    * with a 1-based rank column.
    */
  case class TopKPerKeyExec(
      key: Seq[Expression],
      order: Seq[SortOrder],
      k: Int,
      rankAttr: Attribute,
      child: SparkPlan
  ) extends UnaryExecNode {
    override def output: Seq[Attribute]           = child.output :+ rankAttr
    override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(key) :: Nil

    override protected def doExecute(): RDD[InternalRow] = {
      val kLocal      = k
      val keyExprs    = key
      val orderLocal  = order
      val childOutput = child.output
      val outAttrs    = output
      child.execute().mapPartitions { iter =>
        val keyProj  = UnsafeProjection.create(keyExprs, childOutput)
        val ordering = GenerateOrdering.generate(orderLocal, childOutput)
        val outProj  = UnsafeProjection.create(outAttrs, outAttrs)
        val heaps    = new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
        while (iter.hasNext) {
          val row = iter.next()
          val kr  = keyProj(row)
          var pq  = heaps.get(kr)
          if (pq == null) {
            // PQ head = the WORST kept row (reverse ordering) so
            // replacement is an O(log k) peek/poll
            pq = new java.util.PriorityQueue[InternalRow](kLocal + 1, ordering.reverse)
            heaps.put(kr.copy(), pq)
          }
          if (pq.size < kLocal) pq.add(row.copy())
          else if (ordering.compare(row, pq.peek()) < 0) {
            pq.poll(); pq.add(row.copy())
          }
        }
        import scala.jdk.CollectionConverters._
        val joined = new JoinedRow
        // rank type follows the attribute: Long from the DataFrame API,
        // Int when the rule grafts onto row_number()'s original output
        val rankIsLong = rankAttr.dataType == LongType
        heaps.values().asScala.iterator.flatMap { pq =>
          val arr = pq.toArray(new Array[InternalRow](pq.size())).sorted(ordering)
          arr.iterator.zipWithIndex.map { case (r, i) =>
            val rank: Any = if (rankIsLong) (i + 1).toLong else i + 1
            outProj(joined(r, new GenericInternalRow(Array[Any](rank))))
          }
        }
      }
    }

    override protected def withNewChildInternal(c: SparkPlan): TopKPerKeyExec = copy(child = c)
  }

  object TopKStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case TopKPerKey(key, order, k, rank, child) =>
        TopKPerKeyExec(key, order, k, rank, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Optimizer rule: recognizes the ubiquitous hand-written top-k
    * pattern —
    * {{{
    *   df.withColumn("rnk", row_number().over(Window.partitionBy(k).orderBy(o)))
    *     .filter($"rnk" <= 3)
    * }}}
    * — and grafts [[TopKPerKey]] in its place, so EVERY such query gets
    * the bounded-heap operator (O(n log k), no per-group full sort)
    * without knowing it exists. This is the Catalyst-native way to ship
    * an engine optimization: users keep writing the idiom, the planner
    * upgrades it.
    *
    * Matched shapes (both produced by the DataFrame idiom):
    *  - Filter(rank ≤/< lit, Window[single row_number alias])
    *  - Filter(rnk ≤/< lit, Project[.., rnk = (cast of) rank, ..],
    *    Window[single row_number alias]) — the `.cast("long")` variant.
    * The rewrite preserves every output attribute id (the rank keeps
    * row_number's IntegerType; the exec emits ranks in the attribute's
    * type), so parent operators are untouched. Conservative by
    * construction: single window expression, non-empty partition spec,
    * whole filter condition is the one rank bound.
    *
    * Kill switch: `spark.graft.topk.autoRewrite=false` (session conf,
    * default true) leaves the window plan untouched — the standard
    * escape hatch every injected rewrite needs in production, and what
    * keeps an un-rewritten control query comparable in the gate.
    */
  object RewriteRowNumberTopK
      extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
    import org.apache.spark.sql.catalyst.expressions.{
      Cast,
      EqualTo,
      GreaterThan,
      GreaterThanOrEqual,
      Literal,
      LessThan,
      LessThanOrEqual,
      RowNumber,
      WindowExpression,
      WindowSpecDefinition
    }
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window}
    import org.apache.spark.sql.types.{IntegerType, LongType}

    private def rankBound(cond: Expression, rank: Attribute): Option[Int] = cond match {
      case LessThanOrEqual(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rank) =>
        Some(v)
      // bounds beyond Int.MaxValue mean "keep everything" (row_number is
      // int) — leave those to the window rather than truncate k
      case LessThanOrEqual(a: Attribute, Literal(v: Long, LongType))
          if a.semanticEquals(rank) && v <= Int.MaxValue =>
        Some(v.toInt)
      case LessThan(a: Attribute, Literal(v: Int, IntegerType)) if a.semanticEquals(rank) =>
        Some(v - 1)
      case LessThan(a: Attribute, Literal(v: Long, LongType))
          if a.semanticEquals(rank) && v <= Int.MaxValue =>
        Some(v.toInt - 1)
      // the argmax idiom: rnk = 1 is top-1 per key (rnk = k for k > 1
      // is NOT a top-k — it keeps only the k-th row — so only 1 matches)
      case EqualTo(a: Attribute, Literal(v: Int, IntegerType))
          if a.semanticEquals(rank) && v == 1 =>
        Some(1)
      case EqualTo(a: Attribute, Literal(v: Long, LongType)) if a.semanticEquals(rank) && v == 1L =>
        Some(1)
      // literal-on-the-left orientations ("3 >= rnk", "1 = rnk")
      case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: Attribute)
          if a.semanticEquals(rank) =>
        Some(v)
      case GreaterThanOrEqual(Literal(v: Long, LongType), a: Attribute)
          if a.semanticEquals(rank) && v <= Int.MaxValue =>
        Some(v.toInt)
      case GreaterThan(Literal(v: Int, IntegerType), a: Attribute) if a.semanticEquals(rank) =>
        Some(v - 1)
      case GreaterThan(Literal(v: Long, LongType), a: Attribute)
          if a.semanticEquals(rank) && v <= Int.MaxValue =>
        Some(v.toInt - 1)
      case EqualTo(Literal(v: Int, IntegerType), a: Attribute)
          if a.semanticEquals(rank) && v == 1 =>
        Some(1)
      case EqualTo(Literal(v: Long, LongType), a: Attribute) if a.semanticEquals(rank) && v == 1L =>
        Some(1)
      case _ => None
    }

    private object RowNumberWindow {
      def unapply(p: LogicalPlan): Option[(Alias, Seq[Expression], Seq[SortOrder], LogicalPlan)] =
        p match {
          case Window(
                Seq(al @ Alias(WindowExpression(RowNumber(), WindowSpecDefinition(part, order, _)), _)),
                _,
                _,
                child,
                _
              ) if part.nonEmpty && order.nonEmpty =>
            Some((al, part, order, child))
          case _ => None
        }
    }

    /** Does this projection alias re-expose the window's rank as-is or
      * WIDENED by a cast? (A narrowing cast — rank to byte/short —
      * changes values past the type's range, so it must not match.)
      */
    private def rankThrough(e: Expression, rank: Attribute): Boolean = e match {
      case a: Attribute => a.semanticEquals(rank)
      case c: Cast if c.dataType == LongType || c.dataType == IntegerType =>
        rankThrough(c.child, rank)
      case _ => false
    }

    // only an explicit "false" disables — a malformed value ("yes",
    // "1") must not throw mid-optimization, it just leaves the rewrite
    // on (the safe default for a conservative, semantics-preserving rule)
    override def apply(plan: LogicalPlan): LogicalPlan = if (
      conf.getConfString("spark.graft.topk.autoRewrite", "true").trim.equalsIgnoreCase("false")
    ) plan
    else plan.transformUp {
      case f @ Filter(cond, RowNumberWindow(al, part, order, child)) =>
        rankBound(cond, al.toAttribute)
          .filter(_ > 0)
          .map(k => TopKPerKey(part, order, k, al.toAttribute, child): LogicalPlan)
          .getOrElse(f)
      case f @ Filter(cond, Project(projList, RowNumberWindow(al, part, order, child))) =>
        val rankAliases = projList.collect {
          case p @ Alias(c, _) if rankThrough(c, al.toAttribute) => p.toAttribute
        } ++ projList.collect { case a: Attribute if a.semanticEquals(al.toAttribute) => a }
        rankAliases
          .flatMap(r => rankBound(cond, r))
          .headOption
          .filter(_ > 0)
          .map(k => Project(projList, TopKPerKey(part, order, k, al.toAttribute, child)): LogicalPlan)
          .getOrElse(f)
    }
  }

  /** DataFrame API: top `k` rows per `keyCols` group in the order of
    * `orderCols`, with a `rnk` column (1-based). Plans on a session
    * built with `graft.GraftExtensions`, which injects [[TopKStrategy]].
    */
  def perKey(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    val child = df.queryExecution.analyzed
    val key = keyCols.map(n =>
      child.output
        .find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(s"no column $n in ${child.output.map(_.name)}"))
    )
    val order = orderCols.map { c =>
      org.apache.spark.sql.graft.Bridge.expr(c) match {
        case so: SortOrder => bindByName(so, child.output).asInstanceOf[SortOrder]
        case e             => SortOrder(bindByName(e, child.output), org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    val rank = AttributeReference("rnk", LongType, nullable = false)()
    org.apache.spark.sql.graft.Bridge.ofRows(spark, TopKPerKey(key, order, k, rank, child))
  }

  /** Resolve UnresolvedAttributes in a driver-built expression against
    * the child's output by name.
    */
  private def bindByName(e: Expression, output: Seq[Attribute]): Expression =
    e.transformUp {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        output
          .find(_.name == u.name)
          .getOrElse(throw new IllegalArgumentException(s"no column ${u.name}"))
    }
}
