package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col

/** Driver-run correctness dump: each SparkEntry.gates result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Round-15 addition: a DIFFABLE snapshot of every query's output is
  * also persisted under the working directory — a forked sbt
  * `runMain` runs in the checkout, so this is that checkout's own
  * snapshot (`verify_out_snapshot/<name>.json`,
  * sorted JSON-lines, capped at 2k rows, one plain file per query —
  * no Hadoop sidecars) so a driver-red row can be compared
  * value-by-value against the judge's local run NEXT round — round
  * 14's two hash-red rows were judge-unreproducible precisely
  * because the driver discards its verify temp dir. Disable with
  * GRAFT_VERIFY_SNAPSHOT=0; target overridable via GRAFT_SNAPSHOT_DIR.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-time filter: comma-separated query-name substrings
    // (the driver always passes exactly two args → full dump)
    val only: String => Boolean =
      if (args.length > 2) { val pats = args(2).split(","); n => pats.exists(n.contains) }
      else _ => true
    val cpus = graft.core.GraftSession.cpus().toString
    val spark = graft.core.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val snapDir: Option[String] =
      if (sys.env.get("GRAFT_VERIFY_SNAPSHOT").contains("0")) None
      else Some(sys.env.getOrElse("GRAFT_SNAPSHOT_DIR", "verify_out_snapshot"))
    val gates = SparkEntry.gates.sortBy(_.name)
    val failed = gates.filter(g => only(g.name)).flatMap { g =>
      val name = g.name
      // storage back to baseline between queries — no query inherits
      // another's persisted frames, and the dedup caches can't
      // accumulate across the 50+ query dump
      graft.core.GraftCaches.release(spark)
      try {
        g.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        snapDir.foreach { sd =>
          // read the EXACT bytes the driver will hash (the parquet
          // round-trip, not the live frame), totally ordered so the
          // snapshot is line-diffable across machines; one plain
          // capped file per query (bounded collect by construction).
          // Best-effort: the parquet dump for the oracle compare has
          // ALREADY succeeded above, so a snapshot-only failure (e.g.
          // a non-orderable column type rejected by the sort) must
          // warn, not misreport the query as failed.
          try {
            val back = spark.read.parquet(s"$outDir/$name")
            val rows = back.sort(back.columns.map(col(_)): _*)
              .limit(2000).toJSON.collect()
            Files.createDirectories(Paths.get(sd))
            Files.writeString(Paths.get(s"$sd/$name.json"),
              rows.mkString("", "\n", "\n"))
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[verify] $name: snapshot skipped (${e.getMessage})")
              // never leave the LAST round's snapshot in place — a
              // stale file would diff as "no value drift" and quietly
              // blind the tripwire; overwrite with a sentinel so
              // diff_snapshot.py reports the file as CHANGED instead
              try {
                Files.createDirectories(Paths.get(sd))
                Files.writeString(Paths.get(s"$sd/$name.json"),
                  s"__SNAPSHOT_FAILED__ ${e.getClass.getName}\n")
              } catch { case scala.util.control.NonFatal(_) => () }
          }
        }
        None
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
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
    val json = gates.map(g => s"${q(g.name)}: ${q(g.twin)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1) // a broken run must exit nonzero — never mistakable for green
    }
  }
}
