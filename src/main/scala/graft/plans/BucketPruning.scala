// Bridge package: DataSourceStrategy.normalizeExprs is protected[sql];
// see PortableHash.scala.
package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EmptyRow, Equality, Expression,
  In, InSet, IsNaN, IsNull, Literal, Or, SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FileSourceStrategy,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.apache.spark.util.collection.BitSet

/**
 * Planner strategy: bucket pruning for a scan whose filter holds an `IN`
 * (or `InSet`) list on the bucket column, with ONE bucket-id projection
 * for all the list's values.
 *
 * Spark's `FileSourceStrategy` derives the pruned bucket set value by
 * value, and creates a fresh `UnsafeProjection` of `HashPartitioning`'s
 * partition id for each value. The stored-index probes filter a bucketed
 * table by a few hundred to a few thousand probe keys, and plan that scan
 * more than once per probe, so planning `isin` took about 100/215/315 ms
 * for 400/1,300/2,000 keys. This strategy plans the same scan through
 * `FileSourceStrategy` with the relation's bucket spec hidden (so it
 * derives no bucket set), then puts the spec back on the scan together
 * with the bucket set computed here: the same set, by the same rules
 * (equality, `IN`, `InSet`, `IS NULL`, `isnan`, `AND`/`OR`), from one
 * projection. Filters, pushed filters, output and the bucketed scan's
 * partitioning are FileSourceStrategy's own.
 *
 * It applies only to single-column bucket specs with more than one
 * bucket, with bucketing enabled, and when some filter holds a value
 * list; every other scan plans exactly as before. `StorageSpec` pins the
 * selected buckets and rows against FileSourceStrategy alone.
 */
object BucketPruning extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ScanOperation(_, _, filters, l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
        if fs.bucketSpec.exists(s => s.bucketColumnNames.length == 1 && s.numBuckets > 1) &&
          fs.sparkSession.sessionState.conf.bucketingEnabled &&
          filters.exists(_.exists(e => e.isInstanceOf[In] || e.isInstanceOf[InSet])) =>
      val hidden = l.copy(relation = fs.copy(bucketSpec = None)(fs.sparkSession))
      val buckets = bucketSet(
        DataSourceStrategy.normalizeExprs(filters.filter(_.deterministic), l.output),
        fs.bucketSpec.get)
      FileSourceStrategy(plan.transformDown { case r: LogicalRelation if r eq l => hidden })
        .map(_.transform {
          case s: FileSourceScanExec if s.relation eq hidden.relation =>
            s.copy(relation = fs, optionalBucketSet = buckets)
        })
    case _ => Nil
  }

  /** FileSourceStrategy's bucket set for `filters` (None = every bucket),
    * with one bucket-id projection shared by every value. */
  private def bucketSet(filters: Seq[Expression], spec: BucketSpec): Option[BitSet] =
    if (filters.isEmpty) None
    else {
      val name = spec.bucketColumnNames.head
      val n = spec.numBuckets
      var bucketOf: Any => Int = null
      def of(a: Attribute, values: Iterable[Any]): BitSet = {
        if (bucketOf == null) {
          val id = UnsafeProjection.create(
            HashPartitioning(Seq(a), n).partitionIdExpression :: Nil, a :: Nil)
          val row = new SpecificInternalRow(Seq(a.dataType))
          bucketOf = v => { row.update(0, v); id(row).getInt(0) }
        }
        val set = new BitSet(n)
        values.foreach(v => set.set(bucketOf(v)))
        set
      }
      def go(e: Expression): BitSet = e match {
        case Equality(a: Attribute, Literal(v, _)) if a.name == name => of(a, Seq(v))
        case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) && a.name == name =>
          of(a, list.map(_.eval(EmptyRow)))
        case InSet(a: Attribute, values) if a.name == name => of(a, values)
        case IsNull(a: Attribute) if a.name == name => of(a, Seq(null))
        case IsNaN(a: Attribute) if a.name == name && a.dataType == FloatType =>
          of(a, Seq(Float.NaN))
        case IsNaN(a: Attribute) if a.name == name && a.dataType == DoubleType =>
          of(a, Seq(Double.NaN))
        case And(left, right) => go(left) & go(right)
        case Or(left, right) => go(left) | go(right)
        case _ =>
          val all = new BitSet(n)
          all.setUntil(n)
          all
      }
      val set = go(filters.reduce(And))
      if (set.cardinality() == n) None else Some(set)
    }
}
