package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Last-writer-wins fold of change events, partition-local: every row of a
  * doc_id must already share one partition (the bucket invariant — callers
  * route by bucket or read one bucket group per task). Input layout by
  * name: payload…, `lsn`, `op`, `_from_base`. Output: payload…, `_lsn`,
  * `_tombstone` and, when `classified`, `_action` — the winner of each
  * doc_id run, its tombstone flag and its net transition
  * (keep / stale / insert / update / delete / delete_noop).
  *
  * `output` carries the declared names, types and nullability; it is fresh
  * (produced here), so nothing above the fold can prune or push through
  * it. Built by [[graft.operators.MergeOnRead.localLww]]; planned to
  * [[LwwFoldExec]] by [[LwwFoldStrategy]], which [[GraftExtensions]]
  * registers. */
case class LwwFold(output: Seq[Attribute], classified: Boolean, child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  // the fold reads every input column (the payload is copied out whole)
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): LwwFold =
    copy(child = newChild)
}

/** The fold over `InternalRow`s. The child arrives sorted by (doc_id, lsn,
  * _from_base) — declared as [[requiredChildOrdering]], so the planner adds
  * the in-partition sort and never an exchange — and the last row of each
  * doc_id run wins: base rows sort after batch rows at equal LSN, so the
  * strict `batch.lsn > target._lsn` contract holds (a replayed event at its
  * applied LSN is a stale no-op). Only doc_id, op and _from_base are read
  * per row; each row is copied into one reused candidate buffer, and the
  * winner leaves through one [[UnsafeProjection]] — no payload column is
  * decoded. */
case class LwwFoldExec(output: Seq[Attribute], classified: Boolean, child: SparkPlan)
    extends UnaryExecNode {

  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet = child.outputSet

  private def input(name: String): Attribute =
    child.output.find(_.name == name).getOrElse(throw new IllegalStateException(
      s"LWW fold input lacks column $name: ${child.output.map(_.name).mkString(", ")}"))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq("doc_id", "lsn", "_from_base").map(n => SortOrder(input(n), Ascending)))

  // rows stay in their partition; a partitioning keyed on input columns
  // names attributes this node does not output, so it becomes unknown
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case p: Expression if !p.references.subsetOf(outputSet) =>
      UnknownPartitioning(child.outputPartitioning.numPartitions)
    case p => p
  }

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildInternal(newChild: SparkPlan): LwwFoldExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val in       = child.output
    val docId    = input("doc_id")
    val docIdx   = in.indexOf(docId)
    val docType  = docId.dataType
    val opIdx    = in.indexOf(input("op"))
    val fromIdx  = in.indexOf(input("_from_base"))
    // fold state rides next to the winner as two extra input columns
    val state    = Seq(AttributeReference("_fold_tomb", BooleanType)(),
      AttributeReference("_fold_action", StringType)())
    val nPayload = output.size - (if (classified) 3 else 2)
    val exprs    = output.take(nPayload).map(a => input(a.name)) ++
      Seq(input("lsn"), state.head) ++ (if (classified) state.tail else Nil)
    val projSchema = in ++ state
    val classify = classified
    child.execute().mapPartitions({ rows =>
      val project = UnsafeProjection.create(exprs, projSchema)
      val st      = new GenericInternalRow(2)
      val joined  = new JoinedRow
      var buf: UnsafeRow  = null
      var cand: InternalRow = null
      var baseLive  = false // the run holds a live (non-tombstone) base row
      var batchSeen = false
      def isDelete(r: InternalRow): Boolean = {
        val op = r.getUTF8String(opIdx)
        op != null && op == LwwFoldExec.D
      }
      def keep(r: InternalRow): Unit = {
        if (r.getBoolean(fromIdx)) baseLive = !isDelete(r) else batchSeen = true
        cand = r match {
          case u: UnsafeRow =>
            if (buf == null) buf = u.copy() else buf.copyFrom(u)
            buf
          case other => other.copy()
        }
      }
      new Iterator[InternalRow] {
        // the child may reuse its row object: `look` is consumed (copied)
        // before the child iterator is advanced again
        private var look: InternalRow = if (rows.hasNext) rows.next() else null
        override def hasNext: Boolean = look != null
        override def next(): InternalRow = {
          baseLive = false; batchSeen = false
          keep(look)
          look = null
          val key = InternalRow.copyValue(cand.get(docIdx, docType))
          while (look == null && rows.hasNext) {
            val r = rows.next()
            if (java.util.Objects.equals(r.get(docIdx, docType), key)) keep(r)
            else look = r
          }
          val delete = isDelete(cand)
          st.setBoolean(0, delete)
          if (classify) st.update(1,
            if (cand.getBoolean(fromIdx)) { if (batchSeen) LwwFoldExec.Stale else LwwFoldExec.Keep }
            else if (!delete) { if (baseLive) LwwFoldExec.Update else LwwFoldExec.Insert }
            else { if (baseLive) LwwFoldExec.Delete else LwwFoldExec.DeleteNoop })
          numOutputRows += 1
          project(joined(cand, st))
        }
      }
    }, preservesPartitioning = true)
  }
}

object LwwFoldExec {
  private val D          = UTF8String.fromString("D")
  private val Stale      = UTF8String.fromString("stale")
  private val Keep       = UTF8String.fromString("keep")
  private val Update     = UTF8String.fromString("update")
  private val Insert     = UTF8String.fromString("insert")
  private val Delete     = UTF8String.fromString("delete")
  private val DeleteNoop = UTF8String.fromString("delete_noop")
}

/** Plans [[LwwFold]] as [[LwwFoldExec]] (registered by [[GraftExtensions]]). */
object LwwFoldStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case LwwFold(output, classified, child) =>
      LwwFoldExec(output, classified, planLater(child)) :: Nil
    case _ => Nil
  }
}
