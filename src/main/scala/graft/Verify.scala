package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (local iteration
    // aid — the driver always runs the full surface)
    val (sfDir, outDir, only) = args match {
      case Array(s, o)       => (s, o, None)
      case Array(s, o, sel)  => (s, o, Some(sel.split(',').toSet))
      case _ => sys.error("usage: Verify <sfDir> <outDir> [q1,q2,...]")
    }
    val spark = Main.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    // A query that THROWS must be loud: in round 9 a crashed query was
    // simply absent from the correctness report (no parquet, stderr
    // swallowed) and read as "not graded" instead of "broken". Record
    // every failure in a manifest the driver/judge can see.
    val failures = List.newBuilder[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      }
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
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val fl = failures.result()
    Files.writeString(Paths.get(s"$outDir/_verify_failures.json"),
      fl.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    if (fl.nonEmpty)
      System.err.println(s"[verify] ${fl.size} quer${if (fl.size == 1) "y" else "ies"} FAILED: ${fl.map(_._1).mkString(", ")}")
    spark.stop()
  }
}
