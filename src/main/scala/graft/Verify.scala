package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=a,b,c (local tuning only): restrict to a
    // subset for targeted oracle re-checks. Unset = full driver contract.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val checked = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    checked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(160)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // each query's intermediate caches are dropped before the next runs:
      // the long-lived session keeps storage memory bounded by one query's
      // working set, not the sum of all 55
      graft.sources.Caches.releaseAll()
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
    val json = only.fold(SparkEntry.oracleSql)(s => SparkEntry.oracleSql.filter(kv => s(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Loud round-close drift alarm (round 10 shipped 9 dead queries whose
    // only trace was a silently smaller CORRECTNESS key-set): scream when
    // any query failed, and when a query that was green in the NEWEST
    // committed CORRECTNESS_r*.json produced no result this run. All
    // outputs are already written above, so the banner costs nothing.
    // SPARK_GRAFT_STRICT_EXIT=1 turns the banner into a nonzero exit.
    val strict = sys.env.get("SPARK_GRAFT_STRICT_EXIT").contains("1")
    if (only.isEmpty) {
      // resolved repo root, not bare CWD: running Verify from elsewhere
      // must say the check is off, not silently disable it
      val root = new java.io.File(
        sys.env.getOrElse("SPARK_GRAFT_REPO_ROOT", "."))
      var unreadable = false
      val prevGreen: Set[String] =
        try previouslyGreen(root).getOrElse {
          System.err.println(s"[verify] note: no CORRECTNESS_r*.json under " +
            s"${root.getAbsolutePath} — key-set drift check has nothing to compare " +
            "(set SPARK_GRAFT_REPO_ROOT if running outside the repo root)")
          Set.empty[String]
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] note: ${e.getMessage} — key-set drift check is OFF")
          unreadable = true
          Set.empty[String]
        }
      val vanished = (prevGreen -- SparkEntry.queries.keySet) ++
        (prevGreen & failed.keySet.toSet)
      if (failed.nonEmpty || vanished.nonEmpty) {
        System.err.println("!" * 72)
        if (failed.nonEmpty) System.err.println(
          s"[verify] REFUSING CLEAN CLOSE: ${failed.size} queries FAILED: ${failed.keys.mkString(", ")}")
        if (vanished.nonEmpty) System.err.println(
          s"[verify] key-set SHRANK vs last round's CORRECTNESS file: ${vanished.mkString(", ")}")
        System.err.println("[verify] fixture/loader drift — fix before snapshotting the round")
        System.err.println("!" * 72)
        if (strict) sys.exit(2)
      }
      if (unreadable && strict) sys.exit(2)
    }
  }

  /** Query names of the NEWEST committed `CORRECTNESS_r*.json` under
    * `root`, or None when there is none. An unreadable newest file throws
    * an error naming it: reading it as "nothing to compare" would switch
    * the key-set drift alarm off without a trace. */
  private[graft] def previouslyGreen(root: java.io.File): Option[Set[String]] =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.matches("CORRECTNESS_r\\d+\\.json"))
      .maxByOption(_.getName).map { latest =>
        try topLevelKeys(Files.readString(latest.toPath))
        catch { case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(s"cannot read ${latest.getPath}: $e", e)
        }
      }

  // top-level keys of the driver's per-query result map, by brace-depth
  // scan: a regex over the whole file would also collect any FUTURE
  // nested-object key inside a query entry and then report it forever
  // as "vanished" — depth 1 is the only level query names live at
  private def topLevelKeys(json: String): Set[String] = {
    val keys = scala.collection.mutable.Set.empty[String]
    var depth = 0; var inStr = false; var esc = false
    var pendingKey: String = null
    val sb = new StringBuilder
    json.foreach { c =>
      if (inStr) {
        if (esc) esc = false
        else if (c == '\\') esc = true
        else if (c == '"') {
          inStr = false
          if (depth == 1 && pendingKey == null) pendingKey = sb.toString
        } else sb.append(c)
      } else c match {
        case '"' => inStr = true; sb.clear()
        case '{' | '[' => depth += 1
        case '}' | ']' => depth -= 1; if (depth <= 1) pendingKey = null
        case ':' =>
          if (depth == 1 && pendingKey != null) { keys += pendingKey; pendingKey = null }
        case ',' => if (depth == 1) pendingKey = null
        case _ => ()
      }
    }
    keys.toSet
  }
}
