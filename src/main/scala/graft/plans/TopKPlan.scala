package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Descending, Expression, GenericInternalRow, JoinedRow, NullsLast, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Per-key top-k as a first-class Catalyst operator — the full
  * (c)-tier extension stack: a logical [[TopKNode]], a planner
  * [[TopKStrategy]], and a two-node physical pipeline
  * ([[TopKPartialExec]] → exchange/sort inserted by Spark's
  * EnsureRequirements → [[TopKFinalExec]]).
  *
  * Results are identical to the window formulation with explicit
  * nulls-LAST ordering (`row_number() over (partition by keys order by
  * ... nulls last) <= k`, i.e. `desc` / `asc_nulls_last`) — tested
  * differentially; note Spark's bare `asc` defaults to nulls FIRST,
  * which this operator deliberately does not reproduce. Pass tiebreak
  * columns for a total order, as you would for a deterministic window.
  *
  * Honest comparison with the built-in formulation: since 3.5, Spark
  * plans `row_number().over(Window.partitionBy(keys).orderBy(...)) <= k`
  * as Sort → WindowGroupLimit(Partial) → Exchange → Sort →
  * WindowGroupLimit(Final) → Window → Filter — i.e. it ALSO prunes to
  * ≤ k·keys·partitions rows before the shuffle, but only after FULLY
  * SORTING each input partition (O(n log n) per partition,
  * spill-eligible). Phase 1 here replaces that pre-shuffle sort with
  * bounded per-key heaps: O(n log k) work, O(heapKeys·k) memory, no
  * sort buffer over the input — the same shuffle volume for strictly
  * less map-side work. Post-shuffle both sort only the pruned
  * survivors. What the plan-node formulation adds over a
  * `mapPartitions` over `Row`:
  *
  *  - the partial prune declares `outputPartitioning = child's`, and
  *    the final node declares `requiredChildDistribution =
  *    ClusteredDistribution(keys)` + `requiredChildOrdering`, so the
  *    planner OWNS the data movement: it inserts the hash exchange
  *    and the (spillable, radix-capable) SortExec only when needed,
  *    can satisfy the distribution from an existing partitioning
  *    (e.g. a bucketed scan or an upstream aggregate on the same
  *    keys — zero-exchange plan), and AQE can re-plan the exchange
  *    at runtime;
  *  - rows stay in Tungsten `UnsafeRow` format end-to-end (no
  *    Row encode/decode at the operator boundary);
  *  - the node appears in `explain()` as a named operator with its
  *    pruning bound, auditable like any built-in.
  *
  * Phase 1 memory is bounded by `maxHeapKeys` per-key heaps of ≤ k
  * rows per input partition; rows of keys beyond the bound stream
  * through unpruned (exact either way — phase 2 ranks after a full
  * sort). Phase 2 is a streaming group-boundary scan over the
  * planner's sort: O(1) rows of state post-shuffle.
  */
/** Ranking semantics for [[TopKNode]]: which window function the
  * k-bound filter mimics.
  */
sealed trait TopKMode
/** Exactly k rows per key, ties broken by sort order arrival. */
case object RowNumberMode extends TopKMode
/** rank(): keep rows with FEWER than k rows strictly before them —
  * tie groups straddling the cut survive whole. */
case object RankTiesMode extends TopKMode
/** dense_rank(): keep every row of the top k DISTINCT order values. */
case object DenseRankMode extends TopKMode

object TopKPlan {

  /** DataFrame API over the plan node. Registers [[TopKStrategy]] on
    * the session's `experimental.extraStrategies` (idempotent) so no
    * `spark.sql.extensions` config is required; sessions built with
    * `graft.GraftExtensions` get the strategy injected at build time
    * too.
    */
  def topKPerKey(df: DataFrame, keys: Seq[String],
                 orderCols: Seq[(String, Boolean)], k: Int,
                 rankCol: String = "rank",
                 maxHeapKeys: Int = 100000,
                 mode: TopKMode = RowNumberMode): DataFrame = {
    require(keys.nonEmpty && orderCols.nonEmpty && k > 0)
    val spark = df.sparkSession
    ensureStrategy(spark)
    val child = df.queryExecution.analyzed
    require(!child.output.exists(_.name == rankCol),
      s"input already has a '$rankCol' column; pass a different rankCol")
    def resolve(n: String): Attribute =
      child.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"no column '$n' in ${child.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (c, asc) =>
      SortOrder(resolve(c), if (asc) Ascending else Descending, NullsLast,
        Seq.empty)
    }
    val rankAttr = AttributeReference(rankCol, IntegerType, nullable = false)()
    GraftSqlBridge.ofRows(spark,
      TopKNode(keys.map(resolve), order, k, maxHeapKeys, rankAttr, child,
        mode))
  }

  def ensureStrategy(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(TopKStrategy))
      ex.extraStrategies = ex.extraStrategies :+ TopKStrategy
  }
}

/** Logical per-key top-k: emits `child.output :+ rank` with at most k
  * rows per distinct value of `keys`, ranked 1..k in `order` —
  * row_number semantics by default; [[RankTiesMode]] switches to
  * rank() semantics (a row survives iff FEWER than k rows sort
  * strictly before it, so tie groups straddling the k-th place are
  * kept whole), [[DenseRankMode]] to dense_rank() (every row of the
  * top k DISTINCT order values survives) — in both the output may
  * exceed k rows per key.
  */
case class TopKNode(keys: Seq[Expression], order: Seq[SortOrder], k: Int,
                    maxHeapKeys: Int, rankAttr: Attribute,
                    child: LogicalPlan,
                    mode: TopKMode = RowNumberMode) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKNode =
    copy(child = newChild)
}

/** Plans [[TopKNode]] as partial-prune → (planner-inserted exchange +
  * sort) → final rank.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKNode(keys, order, k, maxHeapKeys, rankAttr, child, mode) =>
      TopKFinalExec(keys, order, k, rankAttr,
        TopKPartialExec(keys, order, k, maxHeapKeys, planLater(child), mode),
        mode) :: Nil
    case _ => Nil
  }
}

/** Phase 1: map-side prune. Keeps, per input partition, a bounded
  * "worst-first" heap of the best k rows for each of at most
  * `maxHeapKeys` keys; rows of further keys stream through unpruned.
  * No distribution/ordering requirements — runs wherever the child
  * already is, so the shuffle the final node requires carries
  * ≤ k·keys·partitions rows instead of N.
  */
case class TopKPartialExec(keys: Seq[Expression], order: Seq[SortOrder],
                           k: Int, maxHeapKeys: Int,
                           child: SparkPlan,
                           mode: TopKMode = RowNumberMode) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions({ rows =>
      val keyProj = UnsafeProjection.create(keys, child.output)
      val ord: Ordering[InternalRow] =
        new LazilyGeneratedOrdering(order, child.output)
      // max-heap under "sorts-first is best": head = current worst.
      // Rows of keys beyond the maxHeapKeys bound are emitted
      // IMMEDIATELY (no buffering, no copy — straight passthrough of
      // the source row), so memory stays O(maxHeapKeys · k) rows even
      // on a partition of entirely distinct keys; heap survivors
      // follow once the input is exhausted (++ is by-name).
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      val passthrough = rows.flatMap { r =>
        heaps.get(keyProj(r)) match {
          case Some(h) if mode == RowNumberMode =>
            if (h.size < k) h.enqueue(r.copy())
            else if (ord.compare(r, h.head) < 0) { h.dequeue(); h.enqueue(r.copy()) }
            Iterator.empty[InternalRow]
          case Some(h) if mode == RankTiesMode =>
            // rank()-with-ties pruning: a row may be dropped ONLY when
            // k rows sort STRICTLY before it. Rows tying the current
            // k-th best might still rank <= k — stream them through
            // unpruned; phase 2 ranks exactly. Same on eviction: the
            // displaced row is dropped only if the new k-th best is
            // strictly better, else it rides along unpruned.
            if (h.size < k) { h.enqueue(r.copy()); Iterator.empty[InternalRow] }
            else {
              val c = ord.compare(r, h.head)
              if (c > 0) Iterator.empty[InternalRow]
              else if (c == 0) Iterator.single[InternalRow](r)
              else {
                val evicted = h.dequeue(); h.enqueue(r.copy())
                if (ord.compare(h.head, evicted) < 0) Iterator.empty[InternalRow]
                else Iterator.single[InternalRow](evicted)
              }
            }
          case Some(h) =>
            // dense_rank pruning: drop a row only when k DISTINCT
            // values sort strictly before it. The heap holds one
            // representative row per distinct value (ties never
            // enqueue), worst at head; every undropped row streams
            // through immediately — phase 2 keeps whole value groups,
            // so nothing needs buffering here.
            val c = if (h.size < k) -1 else ord.compare(r, h.head)
            if (c > 0) Iterator.empty[InternalRow]
            else {
              if (c != 0 && !h.iterator.exists(e => ord.compare(e, r) == 0)) {
                h.enqueue(r.copy())
                if (h.size > k) h.dequeue()
              }
              Iterator.single[InternalRow](r)
            }
          case None if heaps.size < maxHeapKeys =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            h.enqueue(r.copy())
            heaps.put(keyProj(r).copy(), h)
            // dense mode emits inline (the heap only tracks the value
            // threshold); buffering the first row too would re-emit it
            // at the flush
            if (mode == DenseRankMode) Iterator.single[InternalRow](r)
            else Iterator.empty[InternalRow]
          case None => Iterator.single[InternalRow](r)
        }
      }
      // row_number/rank modes buffered their candidate rows — flush
      // them; dense mode already emitted every surviving row inline
      passthrough ++ (if (mode == DenseRankMode) Iterator.empty
                      else heaps.valuesIterator.flatMap(_.iterator))
    }, preservesPartitioning = true)

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

/** Phase 2: exact rank emission. Declares the clustered distribution +
  * (keys, order) sort it needs; EnsureRequirements inserts the
  * exchange and a spillable SortExec, after which ranking is a
  * streaming group-boundary pass — O(1) rows of state.
  */
case class TopKFinalExec(keys: Seq[Expression], order: Seq[SortOrder],
                         k: Int, rankAttr: Attribute,
                         child: SparkPlan,
                         mode: TopKMode = RowNumberMode) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr :: Nil)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(keys.map(SortOrder(_, Ascending)) ++ order)

  override protected def doExecute(): RDD[InternalRow] =
    child.execute().mapPartitions({ rows =>
      val keyProj = UnsafeProjection.create(keys, child.output)
      val outProj = UnsafeProjection.create(output, child.output :+ rankAttr)
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val tieOrd: Ordering[InternalRow] =
        new LazilyGeneratedOrdering(order, child.output)
      var cur: UnsafeRow = null
      var count = 0
      var rank = 0
      // start of the current tie group (only consulted with ties on;
      // copied only at group changes, not per row)
      var groupStart: InternalRow = null
      rows.flatMap { r =>
        val key = keyProj(r)
        if (cur == null || key != cur) {
          cur = key.copy(); count = 0; rank = 0; groupStart = null
        }
        count += 1
        if (mode == RowNumberMode) rank = count
        else if (rank > k) () // sorted: later rows only rank higher
        else if (groupStart == null || tieOrd.compare(r, groupStart) != 0) {
          rank = if (mode == DenseRankMode) rank + 1 else count
          groupStart = r.copy()
        }
        if (rank <= k) {
          rankRow.setInt(0, rank)
          Iterator.single[InternalRow](outProj(joined(r, rankRow)))
        } else Iterator.empty
      }
    }, preservesPartitioning = true)

  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}
