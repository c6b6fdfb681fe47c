package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Group-wise top-k as a first-class operator (SURVEY §3 tier (c):
  * LogicalPlan + Strategy + SparkPlan).
  *
  * The window formulation (`row_number over (partition by k order by
  * o) <= k`) shuffles and fully sorts *every* row of every group.
  * This operator keeps a bounded heap per key instead: a partial
  * pass caps each (partition, key) at k rows before the shuffle, so
  * shuffle volume is ≤ k·keys·partitions regardless of fact size,
  * and nothing is globally sorted. At 100 TB that is the difference
  * between shuffling the table and shuffling a bounded digest.
  *
  * Deliberately NOT auto-applied as an optimizer rule rewriting
  * `Filter(rn <= k, Window(row_number, ...))`: when the window
  * ordering is not a total order, row_number breaks ties by the
  * arbitrary-but-fixed partition iteration order, while the partial
  * heap would keep an arbitrary k-subset of the tied rows — the
  * rewrite could change which tied rows survive, silently flipping
  * results that an oracle compare (or a user) depends on. Callers
  * opt in through this API with a tiebreaker column in `order`
  * (every ANN site orders by (score, id) — total), which is the same
  * contract DataFrames require anywhere determinism matters.
  */
case class TopKPerKey(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

/** Physical node: per-partition hashmap of bounded heaps. `partial`
  * instances run before the shuffle (no distribution requirement);
  * the final instance requires clustering on the keys.
  */
case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    flushKeys: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val orderExprs = order
    val limit = k
    val isPartial = partial
    val childOutput = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrd = new LazilyGeneratedOrdering(orderExprs, childOutput)
      // heap keeps the k smallest under reverse ordering == top-k
      // under `order`; kept as a sorted buffer since k is small
      val heaps = collection.mutable.HashMap
        .empty[UnsafeRow, collection.mutable.ArrayBuffer[UnsafeRow]]

      def add(row: InternalRow): Unit = {
        val key = keyProj(row).copy()
        val buf = heaps.getOrElseUpdate(key,
          collection.mutable.ArrayBuffer.empty[UnsafeRow])
        val r = row.asInstanceOf[UnsafeRow].copy()
        if (buf.length < limit) {
          buf += r
          if (buf.length == limit) {
            val sorted = buf.sorted(rowOrd.asInstanceOf[Ordering[UnsafeRow]])
            buf.clear(); buf ++= sorted
          }
        } else if (rowOrd.compare(r, buf.last) < 0) {
          // insert in order, drop the current worst
          var i = buf.length - 1
          buf.remove(i)
          i = buf.indexWhere(b => rowOrd.compare(r, b) < 0)
          if (i < 0) buf += r else buf.insert(i, r)
        }
      }

      if (isPartial) {
        // BOUNDED partial state: the map holds one heap per distinct
        // key seen in this partition — on a corpus-keyed input (e.g.
        // the kNN-graph build, key = every vector) that is O(keys)
        // memory with no spill path. Same discipline as Spark's
        // partial hash aggregation under memory pressure: past the
        // key cap, FLUSH the accumulated heaps downstream and reset.
        // Correctness is unaffected (the final pass does the exact
        // per-key top-k on clustered input); a flush only means less
        // pre-shuffle reduction for the flushed stretch. While AT the
        // cap, rows whose key is already resident keep folding into
        // their heap (no memory growth) — only a genuinely NEW key
        // triggers the flush, so key-clustered input doesn't forfeit
        // reduction every maxKeys distinct keys.
        val maxKeys = flushKeys
        new Iterator[InternalRow] {
          private var drain: Iterator[InternalRow] = Iterator.empty
          // the row that arrived with a new key while at the cap; it
          // opens the next accumulation batch after the flush drains
          private var pending: InternalRow = null
          private def refill(): Unit = {
            if (drain.hasNext) return
            if (pending != null) { add(pending); pending = null }
            var atCap = false
            while (!atCap && iter.hasNext) {
              val row = iter.next()
              if (heaps.size < maxKeys || heaps.contains(keyProj(row))) add(row)
              else { pending = row.asInstanceOf[UnsafeRow].copy(); atCap = true }
            }
            if (heaps.nonEmpty) {
              drain = heaps.values.flatMap(_.iterator).toArray.iterator
              heaps.clear()
            }
          }
          override def hasNext: Boolean = { refill(); drain.hasNext }
          override def next(): InternalRow = { refill(); drain.next() }
        }
      } else {
        // final pass: input is clustered on the keys and already
        // reduced to ≤ k·partitions rows per key by the partials
        iter.foreach(add)
        heaps.iterator.flatMap(_._2.iterator)
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Session conf for the distinct-key cap on a partial instance's
    * in-memory state before it flushes heaps downstream and resets
    * (spill-free bounded memory). Read at PLANNING time and baked
    * into the exec node — no process-global mutable state, so a spec
    * exercising the flush path with a tiny cap can't leak it into a
    * concurrently planned query on another session. The default
    * covers any realistic per-partition key count at ≤ k rows each.
    */
  private[graft] val flushKeysConf = "spark.graft.topk.partialFlushKeys"
  private[graft] val flushKeysDefault: Int = 1 << 20
}

/** Plans TopKPerKey as partial → (shuffle to clustered) → final. */
object TopKStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(keys, order, k, child) =>
      // fail fast with the conf NAME on a mis-tuned value: a cap <= 0
      // would make the partial pass park every row in `pending` with
      // nothing accumulated and silently emit zero rows, and a bare
      // .toInt surfaced a typo as an uncontextualized
      // NumberFormatException mid-plan
      val flushKeys = graft.Confs.positiveInt(TopKPerKeyExec.flushKeysConf,
        org.apache.spark.sql.internal.SQLConf.get
          .getConfString(TopKPerKeyExec.flushKeysConf,
            TopKPerKeyExec.flushKeysDefault.toString))
      val partial =
        TopKPerKeyExec(keys, order, k, partial = true, flushKeys, planLater(child))
      TopKPerKeyExec(keys, order, k, partial = false, flushKeys, partial) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}

  /** Sort spec: column name + direction. (Column.desc carries the
    * ColumnNode-level SortOrder — not usable inside a custom logical
    * node — so attributes are resolved by name against the child.)
    */
  final case class Sort(name: String, descending: Boolean = false)
  def asc(name: String): Sort = Sort(name)
  def desc(name: String): Sort = Sort(name, descending = true)

  /** API: group-wise top-k: the DataFrame over the logical node,
    * which [[TopKStrategy]] (part of every [[graft.GraftExtensions]]
    * session) plans.
    */
  def apply(df: DataFrame, keyCols: Seq[String], order: Seq[Sort],
      k: Int): DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    val spark = df.sparkSession
    val plan = df.queryExecution.analyzed
    def attr(n: String): Attribute = plan.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"column $n not in ${plan.output.map(_.name).mkString(",")}"))
    val keys = keyCols.map(attr)
    val sortOrder = order.map(s =>
      SortOrder(attr(s.name), if (s.descending) Descending else Ascending))
    GraftShim.ofRows(spark, new TopKPerKey(keys, sortOrder, k, plan))
  }
}
