package graft.spark

import graft.sources.lake.{ConfPairs, ParquetFooter}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.LongType

/**
 * Physical-planning extension (the §4.2 ladder's deepest rung: custom
 * `Strategy` + `SparkPlan`): a bare `count(*)` over an unfiltered parquet
 * relation never needs to scan data — every parquet footer already
 * carries exact per-row-group row counts. This strategy plans that
 * aggregate as [[FooterCountExec]], a leaf operator that reads ONLY the
 * footers (a few KB per file, distributed across the cluster) — at 100 TB
 * the difference between a full-table scan and a metadata pass over the
 * file listing the FileIndex alreadys holds.
 *
 * Scope is deliberately narrow and safe: global aggregate, single
 * `count(1)` with no DISTINCT / no FILTER clause, child is the parquet
 * relation itself (optionally under the optimizer's empty column-pruning
 * Project) — any real filter/projection/grouping falls through to normal
 * planning. Footer counts are exact by the parquet spec, so the rewrite
 * is always answer-preserving. Conf-gated off by default:
 * `spark.graft.footerCount.enabled=true`; hook in with
 * `spark.experimental.extraStrategies ++= Seq(FooterCountStrategy)` or
 * via [[GraftExtensions]].
 */
object FooterCountStrategy extends org.apache.spark.sql.execution.SparkStrategy {

  private def parquetRelation(p: LogicalPlan): Option[HadoopFsRelation] =
    p match {
      case lr: LogicalRelation => lr.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] => Some(r)
        case _ => None
      }
      case Project(projectList, child) if projectList.isEmpty =>
        parquetRelation(child)
      case _ => None
    }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case agg @ Aggregate(Nil,
        Seq(Alias(AggregateExpression(Count(Seq(Literal(1, _))), _, false, None, _), _)),
        child, _)
        if SQLConf.get.getConfString("spark.graft.footerCount.enabled", "false") == "true" =>
      parquetRelation(child) match {
        case Some(rel) => FooterCountExec(agg.output.head, rel) :: Nil
        case None => Nil
      }
    case _ => Nil
  }
}

/**
 * Leaf operator: sum of parquet footer row counts over the relation's
 * data files. File list comes from the driver-side FileIndex (already
 * materialized metadata); footer reads are distributed one task per file
 * batch, then reduced to the single aggregate row.
 */
case class FooterCountExec(resultAttr: Attribute,
    @transient relation: HadoopFsRelation) extends LeafExecNode {

  override def output: Seq[Attribute] = Seq(resultAttr)

  override protected def doExecute(): RDD[InternalRow] = {
    val files = relation.location.inputFiles.toSeq
    val hadoopConf = new ConfPairs(relation.sparkSession.sessionState.newHadoopConf())
    val sc = relation.sparkSession.sparkContext
    val partials: RDD[Long] =
      if (files.isEmpty) sc.parallelize(Seq(0L), 1)
      else sc.parallelize(files, math.max(1, math.min(files.size, sc.defaultParallelism)))
        .mapPartitions { it =>
          var s = 0L
          it.foreach { p =>
            val r = ParquetFooter.open(p, hadoopConf.value)
            try s += r.getRecordCount finally r.close()
          }
          Iterator.single(s)
        }
    partials.coalesce(1).mapPartitions { it =>
      val total = it.sum
      val proj = UnsafeProjection.create(Array[org.apache.spark.sql.types.DataType](LongType))
      Iterator.single(proj(new GenericInternalRow(Array[Any](total))).copy())
    }
  }

  override def simpleString(maxFields: Int): String =
    s"FooterCount [files=${relation.location.inputFiles.length}]"
}
