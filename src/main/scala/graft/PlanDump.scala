package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Evidence generator: the FORMATTED physical plan of every Bench headline
  * query (or of the named queries, at any SF), written to PLANS.md. This is
  * the ".explain and iterate" loop made inspectable — pushed filters, read
  * schemas, join strategies, exchange counts, and WholeStageCodegen spans
  * per query, regenerated per round so plan regressions show up in the
  * diff. Plans are explained under the [[Session]] confs, i.e. the joins
  * and splits that ship. Usage:
  *
  *   sbt "runMain graft.PlanDump [sfDir] [outFile] [query ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val names = if (args.length > 2) args.drop(2).toSeq else Bench.headline
    val spark = Session.get()

    val sb = new StringBuilder
    sb ++= (if (names == Bench.headline) "# Headline-query physical plans\n\n"
            else "# Physical plans\n\n")
    sb ++= s"Generated by `graft.PlanDump` over `$sfDir`. AQE plans print "
    sb ++= "their initial shape (`isFinalPlan=false`); runtime re-planning "
    sb ++= "(coalesced partitions, skew splits) happens on execution.\n"
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb ++= s"\n## $name\n\n```\n"
      // Binary literals (broadcast sketch/bloom bytes) print as full hex —
      // kilobytes per line that say nothing about plan SHAPE. Elide them.
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted")).trim
        .linesIterator.map { l =>
          if (l.length <= 400) l else l.take(400) + s"… [${l.length - 400} chars elided]"
        }.mkString("\n")
      sb ++= plan
      sb ++= "\n```\n"
    }
    Files.write(Paths.get(out), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote ${names.size} plans to $out")
    spark.stop()
  }
}
