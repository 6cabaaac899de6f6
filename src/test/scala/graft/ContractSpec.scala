package graft

/** Driver-contract consistency: every oracle key must name a real query,
  * non-oracled queries must be the documented exceptions, and every query
  * must run and produce a stable schema on the smoke fixture. Catches
  * queries/oracleSql drift before the driver's gate does. */
class ContractSpec extends SparkSpec {

  test("oracleSql keys are exactly the oracle-checkable queries") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without a query: ${o.diff(q)}")
    // every query is oracled (q_sketch_distinct carries exact-count columns
    // plus bounded-error flags precisely so it can be)
    assert(q.diff(o).isEmpty, s"non-oracled queries: ${q.diff(o)}")
  }

  test("every query ANALYZES on sf0.001 — fixture drift fails here by name") {
    // cheap analysis-only sweep (no execution): a regenerated fixture whose
    // schema no longer matches a loader (round 10: events.ts nanos→micros)
    // must fail THIS test with every broken query named, not surface as
    // silently missing CORRECTNESS keys at round close
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf("sf0.001")).schema; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries no longer analyze on the current fixtures:\n" +
        failures.mkString("\n"))
  }

  test("every query runs on sf0.001 and returns rows with non-empty schema") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sf("sf0.001"))
        if (df.schema.isEmpty) Some(s"$name: empty schema")
        else if (df.count() == 0) Some(s"$name: zero rows")
        else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(100)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("fixture text is ASCII — the byte/char conflation the oracles rely on") {
    // the media/CDC oracle SQL indexes text by CHARACTER (substr/ord) while
    // the Spark side scans UTF-8 BYTES; they agree only while every fixture
    // document is pure ASCII (a multi-byte char would shift every later
    // position AND send ord() past the 256-entry gear table, silently
    // dropping boundaries). Enforce the assumption where it lives instead
    // of discovering it as an unexplained hash mismatch.
    import org.apache.spark.sql.functions._
    for (d <- Seq("sf0.001", "sf0.01")) {
      val nonAscii = graft.sources.Tables.documents(spark, sf(d))
        .filter(length(col("text")) =!= length(encode(col("text"), "UTF-8")))
        .count()
      assert(nonAscii == 0, s"$d: $nonAscii non-ASCII documents break the " +
        "byte/char oracle convention (see media_cdc_dedup oracle)")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("quantile-oracle buckets stay under the sketch capacity — the " +
      "value-exact gate's standing assumption, enforced by name") {
    // corpus_view_quantile compares VALUES (not error bounds) because
    // every doc_id%7 bucket holds fewer occurrences than the bottom-k
    // sample keeps, making served quantiles exact. A fixture regeneration
    // that outgrows the capacity must fail HERE, naming the query, not as
    // an unexplained hash mismatch in the driver gate.
    import org.apache.spark.sql.functions._
    for (d <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val maxBucket = graft.sources.Tables.documents(spark, sf(d))
        .groupBy(pmod(col("doc_id"), lit(7)))
        .count().agg(max(col("count"))).head().getLong(0)
      assert(maxBucket < graft.functions.QSketchKernel.K,
        s"$d: a doc_id%7 bucket holds $maxBucket >= " +
          s"${graft.functions.QSketchKernel.K} docs — corpus_view_quantile's " +
          "value-exact oracle needs the accuracy-flag convention instead")
    }
  }

  test("oracleSql: output-position sum/list_sum carries an explicit CAST or round") {
    // DuckDB widens sum() over integer types to HUGEINT (int128); the
    // driver's hasher is type-sensitive, so a bare output-position sum in
    // an oracle ships hash-red even when every value matches (round 13:
    // corpus_card, corpus_view, corpus_run_shards, corpus_run_shards_delta
    // — all added AFTER the local 126/126 check, which a local DuckDB can
    // mask). Statically reject the pattern: any `sum(`/`list_sum(` whose
    // result lands in an output position (next token after its matching
    // close paren is `,`, AS, FROM, UNION, GROUP, ORDER, or end) must sit
    // inside an enclosing CAST(...) or round(...) — the two conventions
    // every green oracle already follows. Comparison/arithmetic positions
    // (e.g. `sum(x) > 0`) are exempt: they don't surface the widened type.
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, sql) =>
      OracleLint.bareWideningAggregates(sql).map(f => s"$name: …$f…")
    }
    assert(bad.isEmpty,
      s"${bad.size} oracle aggregate(s) would HUGEINT-widen under DuckDB — " +
        s"wrap in CAST(... AS BIGINT/DOUBLE):\n" + bad.mkString("\n"))
    // the lint has teeth: deliberately-bare fixtures must be flagged …
    assert(OracleLint.bareWideningAggregates(
      "SELECT sum(x) AS s FROM t").nonEmpty, "bare sum AS must flag")
    assert(OracleLint.bareWideningAggregates(
      "SELECT a, sum(x), b FROM t").nonEmpty, "bare sum before comma must flag")
    assert(OracleLint.bareWideningAggregates(
      "SELECT list_sum([y for y in v]) FROM t").nonEmpty, "bare list_sum must flag")
    assert(OracleLint.bareWideningAggregates(
      "SELECT 'k', sum(n) FROM q UNION ALL SELECT 'j', 1").nonEmpty,
      "bare sum before UNION must flag")
    // … and the sanctioned shapes must pass
    assert(OracleLint.bareWideningAggregates(
      "SELECT CAST(sum(x) AS BIGINT) AS s FROM t").isEmpty, "CAST-wrapped is fine")
    assert(OracleLint.bareWideningAggregates(
      "SELECT round(sum(x) / count(*), 6) AS s FROM t").isEmpty, "round-wrapped is fine")
    assert(OracleLint.bareWideningAggregates(
      "SELECT CAST(coalesce(sum(x), 0) AS BIGINT) AS s FROM t").isEmpty,
      "CAST through an intermediate function is fine")
    assert(OracleLint.bareWideningAggregates(
      "SELECT CASE WHEN sum(x) > 0 THEN 1 ELSE 0 END AS s FROM t").isEmpty,
      "comparison position is exempt")
    assert(OracleLint.bareWideningAggregates(
      "SELECT 'sum(x) AS s' AS lit FROM t").isEmpty, "string literals are ignored")
  }

  test("an unreadable newest CORRECTNESS file fails the drift check by name") {
    // read as "nothing to compare", an unreadable file would switch the
    // key-set shrink alarm off without a trace
    val root = java.nio.file.Files.createTempDirectory("graft-verify-root")
    java.nio.file.Files.writeString(root.resolve("CORRECTNESS_r01.json"),
      """{"q1": {"hash": "x"}, "q2": {"hash": "y"}}""")
    assert(Verify.previouslyGreen(root.toFile).contains(Set("q1", "q2")))
    java.nio.file.Files.write(root.resolve("CORRECTNESS_r99.json"),
      Array[Byte]('{'.toByte, 0xc3.toByte, 0x28, '}'.toByte))
    val e = intercept[IllegalStateException](Verify.previouslyGreen(root.toFile))
    assert(e.getMessage.contains("CORRECTNESS_r99.json"), e.getMessage)
    assert(e.getCause.isInstanceOf[java.nio.charset.MalformedInputException])
  }

  test("only graft/storage spells the artifact twin name") {
    // the write-twin/delete/rename protocol lives in graft.storage.Artifact;
    // a `_compacting` string literal anywhere else is a copy of it
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"no sources under ${root.toAbsolutePath}")
    val storage = root.resolve("graft/storage")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(storage))
      .filter(p => java.nio.file.Files.readString(p).contains("_compacting\""))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(hits.isEmpty, s"twin-name literals outside graft/storage: $hits")
  }
}

/** Static lint over DuckDB oracle SQL: finds `sum(`/`list_sum(` occurrences
  * whose widened result (DuckDB sum(BIGINT) → HUGEINT) would reach an output
  * column untamed. Heuristic, not a parser — tuned to the repo's oracle
  * conventions (see ContractSpec's "oracleSql: output-position sum" test). */
object OracleLint {
  private val AggToken = "(?i)\\b(list_sum|sum)\\s*\\(".r

  /** Fragments around each violating aggregate (empty = clean). */
  def bareWideningAggregates(sql: String): Seq[String] = {
    val s = blankStringLiterals(sql)
    AggToken.findAllMatchIn(s).flatMap { m =>
      val openAt = s.indexOf('(', m.start)
      if (enclosedByCastOrRound(s, m.start)) None
      else {
        val closeAt = matchingClose(s, openAt)
        if (closeAt < 0) None // malformed; other tests will catch it
        else {
          val rest = s.drop(closeAt + 1).dropWhile(_.isWhitespace)
          val outputPos = rest.isEmpty || rest.startsWith(",") ||
            Seq("AS ", "AS\n", "FROM", "UNION", "GROUP", "ORDER")
              .exists(k => rest.toUpperCase.startsWith(k))
          if (outputPos)
            Some(sql.slice(math.max(0, m.start - 10), math.min(sql.length, closeAt + 12))
              .replaceAll("\\s+", " "))
          else None
        }
      }
    }.toSeq
  }

  /** True if any unmatched `(` to the left of pos is a CAST( or round( —
    * i.e. the aggregate sits inside a CAST/round call at some level, which
    * pins the surfaced type regardless of DuckDB's internal widening. */
  private def enclosedByCastOrRound(s: String, pos: Int): Boolean = {
    var depth = 0
    var i = pos - 1
    while (i >= 0) {
      s.charAt(i) match {
        case ')' => depth += 1
        case '(' =>
          if (depth > 0) depth -= 1
          else {
            val ident = identBefore(s, i)
            if (ident == "cast" || ident == "round") return true
          }
        case _ =>
      }
      i -= 1
    }
    false
  }

  private def identBefore(s: String, parenAt: Int): String = {
    var j = parenAt - 1
    while (j >= 0 && s.charAt(j).isWhitespace) j -= 1
    val end = j
    while (j >= 0 && (s.charAt(j).isLetterOrDigit || s.charAt(j) == '_')) j -= 1
    s.slice(j + 1, end + 1).toLowerCase
  }

  private def matchingClose(s: String, openAt: Int): Int = {
    var depth = 0
    var i = openAt
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    -1
  }

  /** Replace single-quoted literal contents with spaces (keeps offsets). */
  private def blankStringLiterals(sql: String): String = {
    val out = sql.toCharArray
    var i = 0
    var inLit = false
    while (i < out.length) {
      if (out(i) == '\'') inLit = !inLit
      else if (inLit) out(i) = ' '
      i += 1
    }
    new String(out)
  }
}
