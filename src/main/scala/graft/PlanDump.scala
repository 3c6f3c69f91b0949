package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round tooling: dump `explain("formatted")` for named queries
  * to `<outDir>/<name>.txt` — the judge checks plan claims against these
  * files (they cannot run Spark). Same [[GraftSession]] as [[Bench]] so the
  * dumped plan is the benched plan. Not a driver-contract surface.
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <name>[,<name>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesCsv) = args
    val spark = GraftSession.local(defaultCpus = 4)
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (namesCsv == "all") SparkEntry.queries.keys.toSeq.sorted
      else namesCsv.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        Files.writeString(Paths.get(s"$outDir/$name.txt"), txt)
        println(s"[plandump] wrote $name (${txt.length} chars)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
