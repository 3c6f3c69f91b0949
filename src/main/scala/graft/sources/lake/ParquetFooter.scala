package graft.sources.lake

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import GraftLake.ColStats

/** Footer-only parquet reads: the lake's per-file stats and the
  * footer-answered `COUNT(*)` ([[graft.spark.FooterCountExec]]). A
  * standalone object, so executor closures that call it capture only
  * their arguments, never the `GraftLake` module. */
private[graft] object ParquetFooter {

  /** Open `file` for a footer-only read with options built from `conf`,
    * the caller's session Hadoop conf — the one place library code opens
    * a parquet reader (`FooterLintSpec` holds it to that). The options
    * overload is the point: the no-options `open(InputFile)` builds its
    * options from a fresh default Hadoop `Configuration`, so every call
    * re-parses `core-default.xml` and scans the classpath, and it ignores
    * the session's conf. Measured in r15 (javac microbench against the
    * Spark 4.1 jars, C1 only, 4-vCPU VM, warm JVM): 20–25 ms per file
    * without options, 1.2–1.6 ms with them. A 4-file ingest epoch's
    * driver time fell from ~190 ms to ~90 ms with this and the one-fold
    * write path (perfbench `ingest`, traced). The record filter is
    * pinned to NOOP so no row group is ever dropped: stats and counts
    * always cover the whole file. */
  def open(file: String, conf: Configuration): ParquetFileReader = {
    val path = new Path(file)
    ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).withRecordFilter(FilterCompat.NOOP).build())
  }

  /** (rows, compressed bytes, min/max/nullCount per column) of one file,
    * merged over its row groups. Kinds: "long" (INT32/INT64), "double"
    * (FLOAT/DOUBLE), "string" (BINARY/UTF8). Absent or unknown stats stay
    * None — pruning treats that file as always-overlapping
    * (conservative). */
  def stats(file: String, conf: Configuration): (Long, Long, Map[String, ColStats]) = {
    val r = open(file, conf)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val bytes = blocks.map(_.getCompressedSize).sum
      val perCol = scala.collection.mutable.Map.empty[String, ColStats]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { cc =>
          val name = cc.getPath.toDotString
          val st = cc.getStatistics
          val kind = cc.getPrimitiveType.getPrimitiveTypeName match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => Some("long")
            case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some("double")
            case PrimitiveTypeName.BINARY => Some("string")
            case _ => None
          }
          kind.foreach { k =>
            val nulls = if (st == null || st.getNumNulls < 0) -1L else st.getNumNulls
            val (mn, mx) =
              if (st == null || st.isEmpty || !st.hasNonNullValue) (None, None)
              else k match {
                case "string" =>
                  (Some(st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8),
                   Some(st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
                case _ => (Some(st.genericGetMin.toString), Some(st.genericGetMax.toString))
              }
            val merged = perCol.get(name) match {
              case None => ColStats(mn, mx, nulls, k)
              case Some(prev) =>
                def m2(a: Option[String], b: Option[String], lt: Boolean) =
                  (a, b) match {
                    case (Some(x), Some(y)) =>
                      Some(if (GraftLake.cmp(k, x, y) < 0 == lt) x else y)
                    case _ => None // any block without stats poisons the bound
                  }
                ColStats(m2(prev.min, mn, lt = true), m2(prev.max, mx, lt = false),
                  if (prev.nullCount < 0 || nulls < 0) -1L else prev.nullCount + nulls, k)
            }
            perCol(name) = merged
          }
        }
      }
      (rows, bytes, perCol.toMap)
    } finally r.close()
  }
}
