package perfbench

import java.nio.file.{Files, Paths}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main with a properties file naming the workload and its input dirs, and
  * reads back `result.json`: raw timings, streaming progress, job counts,
  * and (traced runs only) spans plus per-job and per-task records. All
  * statistics, correctness checks and the metrics line are computed in
  * Python.
  *
  * Usage: Harness <config.properties>
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val cfg = new Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try cfg.load(in) finally in.close()
    val conf = Conf(cfg)
    val out = new Out
    val t0 = System.nanoTime()
    val spark = session(conf)
    out("session_ms") = ms(t0)
    val tracer = new Tracer(spark)
    val ok =
      try {
        conf("workload") match {
          case "ingest_hot" | "ingest_wide" => IngestBench.run(spark, conf, out, tracer)
          case "serve_mix" => ServeBench.run(spark, conf, out, tracer)
          case "lake_commit" => LakeBench.run(spark, conf, out, tracer)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        true
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          out("error") = s"${t.getClass.getName}: ${Option(t.getMessage).getOrElse("")}"
          false
      }
    tracer.write(out)
    Files.writeString(Paths.get(conf("result")), out.json)
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  def session(conf: Conf): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf("work") + "/spark-local")
      .config("spark.sql.warehouse.dir", conf("work") + "/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def ms(startNanos: Long): Double = (System.nanoTime() - startNanos) / 1e6

  /** Time `f` in milliseconds, with its Spark jobs tagged `span` (the
    * previous tag is restored afterwards). The span itself is recorded
    * only while the tracer records. */
  def timed[T](spark: SparkSession, tracer: Tracer, span: String,
               parent: String = "")(f: => T): (T, Double) = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, span)
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      val d = ms(t0)
      if (tracer.active) tracer.span(span, parent, wall0, wall0 + d)
      (r, d)
    } finally sc.setLocalProperty(Tracer.SpanKey, prev)
  }
}

final case class Conf(p: Properties) {
  def apply(k: String): String =
    Option(p.getProperty(k)).getOrElse(throw new NoSuchElementException(s"config key $k"))
  def int(k: String): Int = apply(k).toInt
  def double(k: String): Double = apply(k).toDouble
  def get(k: String): Option[String] = Option(p.getProperty(k))
  def cores: Int = int("cores")
  def trace: Boolean = apply("trace") == "1"
  def seed: Long = apply("seed").toLong
}

/** Result document: an ordered map rendered as JSON. */
final class Out {
  private val fields = scala.collection.mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def json: String = synchronized(Out.render(fields))
}

object Out {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** The benchmark's own SparkListener, attached for the whole run. It
  * counts the Spark jobs of every span tag (a local property set by
  * [[Harness.timed]]; jobs a streaming query runs add their micro-batch id)
  * in every run, traced or not. While it records ([[record]]), it also
  * keeps one record per job and per finished task, and the spans opened in
  * benchmark code around each public call; all are kept in memory and
  * written out once, at the end. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val jobSpan = TrieMap[Int, String]()
  private val stageJob = TrieMap[Int, Int]()
  private val jobCounts = TrieMap[String, Int]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Seq[Any]]()
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val runId = java.util.UUID.randomUUID().toString
  spark.sparkContext.addSparkListener(this)

  @volatile private var on = false
  def active: Boolean = on

  /** Start or stop recording jobs, tasks and spans. Queued events are
    * delivered first, so each is judged by the state it was raised in. */
  def record(enable: Boolean): Unit = {
    Tracer.drain(spark)
    on = enable
  }

  /** Spark jobs launched so far under `tag`. */
  def jobsOf(tag: String): Int = {
    Tracer.drain(spark)
    jobCounts.getOrElse(tag, 0)
  }

  def span(name: String, parent: String, startMs: Long, endMs: Double): Unit =
    spans.add(Map("name" -> name, "parent" -> parent, "start_ms" -> startMs,
      "end_ms" -> endMs, "run" -> runId))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).getOrElse(new Properties())
    // a streaming query's thread inherits the span of the call that
    // started it; its jobs add their micro-batch id
    val base = Option(p.getProperty(Tracer.SpanKey)).getOrElse("untagged")
    val span = Option(p.getProperty(Tracer.BatchKey)).fold(base)(b => s"$base#$b")
    jobCounts.synchronized(jobCounts(span) = jobCounts.getOrElse(span, 0) + 1)
    jobSpan(e.jobId) = span
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    if (on) jobs.add(Map("job" -> e.jobId, "span" -> span, "start_ms" -> e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    val span = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse("untagged")
    val m = Option(e.taskMetrics)
    tasks.add(Seq(span, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.fold(0L)(_.executorRunTime),
      m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
  }

  def write(out: Out): Unit = {
    Tracer.drain(spark)
    out("spans") = spans.asScala.toSeq
    out("jobs") = jobs.asScala.toSeq
    out("tasks") = tasks.asScala.toSeq
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val BatchKey = "streaming.sql.batchId"

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}
