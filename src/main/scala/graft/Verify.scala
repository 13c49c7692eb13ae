package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter (debugging)
    val spark = Session.get()
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a VISIBLE failure record, not a gap:
    // round 6's NTZ fixture regression crashed 18 queries and the round's
    // correctness report simply had 18 fewer rows — all green. Writing a
    // directory with a _FAILED marker (and no parquet) makes the driver's
    // read of that output error out → an explicit err entry per query.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          e.printStackTrace()
          failed += name
          val d = new java.io.File(s"$outDir/$name")
          // Plain NIO walk-and-delete (graft.Fs): commons-io only reaches
          // here via Spark's transitive classpath, and the marker writer is
          // the one path that must never break.
          Fs.deleteRecursively(d.toPath)
          d.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_FAILED"),
            s"$name: ${e.getClass.getName}: ${String.valueOf(e.getMessage)}\n")
        }
      }
    if (only.isEmpty) {
      val produced = Option(new java.io.File(outDir).list()).getOrElse(Array())
        .filterNot(_ == "oracle_sql.json").toSet
      val missing = SparkEntry.queries.keySet -- produced
      if (failed.nonEmpty || missing.nonEmpty)
        System.err.println(s"[verify] SUMMARY: ${failed.size} failed " +
          s"(${failed.sorted.mkString(",")}); missing outputs: " +
          s"${missing.toSeq.sorted.mkString(",")}")
      else System.err.println(
        s"[verify] SUMMARY: all ${SparkEntry.queries.size} queries produced output")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
