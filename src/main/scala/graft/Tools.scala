package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.streaming.{Sessionize, SessionizeTws}

/** Development tools — not part of the query surface. One entry point:
  *
  *   runMain graft.Tools time <sfDir> <q>…
  *     rows, cold draw and warm median of 5 per query, in Bench's draw
  *     shape (entry() warm-up, then clearCache + build + count per draw)
  *   runMain graft.Tools plans <sfDir> <outDir> [q…]
  *     one `<q>.txt` per query: the static formatted plan of a batch query
  *     (no execution), or each micro-batch's progress JSON for a
  *     streaming-harness query (building one RUNS the stream, so its
  *     static plan says nothing; stateOperators carries the evidence).
  *     With no names, every registered batch query.
  *   runMain graft.Tools jobs <sfDir> <q>
  *     one WARM run: per-job wall times and per-stage task metrics
  *   runMain graft.Tools stream <sfDir> tws|fmgws [batches]
  *     scale probe for the two arbitrary-state sessionize paths; one JSON
  *     line
  *   runMain graft.Tools oracles <outDir>
  *     the full oracle_sql.json without running a query (lets the sf100
  *     sweep start beside a VerifyRung dump)
  *   runMain graft.Tools oracle-names
  *     registered oracle names, one per line, no SparkSession — the sf100
  *     sweep pins its query set to the live registration with it
  */
object Tools {
  private val Usage =
    "usage: graft.Tools time <sfDir> <q>... | plans <sfDir> <outDir> [q...] | " +
      "jobs <sfDir> <q> | stream <sfDir> tws|fmgws [batches] | " +
      "oracles <outDir> | oracle-names"

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle-names" :: Nil => SparkEntry.oracleSql.keys.toSeq.sorted.foreach(println)
    case "oracles" :: out :: Nil =>
      writeOracleJson(out, SparkEntry.oracleSql)
      println(s"wrote ${SparkEntry.oracleSql.size} oracles to $out/oracle_sql.json")
    case "time" :: sf :: qs if qs.nonEmpty => withSession(time(_, sf, qs))
    case "plans" :: sf :: out :: qs => withSession(plans(_, sf, out, qs))
    case "jobs" :: sf :: q :: Nil => withSession(jobs(_, sf, q))
    case "stream" :: sf :: mode :: rest if rest.length <= 1 =>
      withSession(stream(_, sf, mode, rest.headOption.fold(8)(_.toInt)))
    case _ =>
      System.err.println(Usage)
      sys.exit(2)
  }

  /** The session every tool main runs on: local[$SPARK_GRAFT_CPUS]
    * (default 4) with as many shuffle partitions, UTC, no UI. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Writes `<outDir>/oracle_sql.json`, keys sorted. Escapes backslash,
    * quote and ALL control chars (< 0x20): a tab or CR in an oracle's SQL
    * would otherwise make `json.load` in scripts/oracle_check.py fail and
    * every oracle comparison with it. */
  def writeOracleJson(outDir: String, oracles: Map[String, String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{\n", ",\n", "\n}")
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), json)
  }

  private def withSession(body: SparkSession => Unit): Unit = {
    val spark = session()
    try body(spark) finally spark.stop()
  }

  private def time(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"time: unknown queries ${unknown.mkString(", ")}")
    try { SparkEntry.entry(spark).count(); () } catch { case NonFatal(_) => () }
    for (q <- names) {
      def draw(): (Long, Double) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(q)(spark, sfDir).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      val (rows, cold) = draw()
      val warm = Seq.fill(5)(draw()._2)
      println(f"TIME $q rows=$rows cold=$cold%.2fs warm_median=${warm.sorted.apply(2)}%.2fs " +
        s"draws=${warm.map(w => f"$w%.2f").mkString(",")}")
    }
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    only: Seq[String]): Unit = {
    val out = Files.createDirectories(Paths.get(outDir))
    val streaming = SparkEntry.streamingQueries
    val names =
      if (only.nonEmpty) only
      else SparkEntry.queries.keys.toSeq.filterNot(streaming).sorted
    var failed = 0
    names.foreach { name =>
      try {
        val txt =
          if (streaming(name)) {
            val progress = scala.collection.mutable.ArrayBuffer.empty[String]
            val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                progress.synchronized { progress += e.progress.prettyJson }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
            spark.streams.addListener(listener)
            try SparkEntry.queries(name)(spark, sfDir).count()
            finally spark.streams.removeListener(listener)
            progress.synchronized { progress.mkString("\n---\n") }
          } else
            SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(out.resolve(s"$name.txt"), txt)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    println(s"[plans] wrote ${names.length - failed}/${names.length} plans to $out")
  }

  private def jobs(spark: SparkSession, sfDir: String, name: String): Unit = {
    val fn = SparkEntry.queries(name)
    // warm-up run: JIT/codegen/paths paid outside the profiled run
    fn(spark, sfDir).count()
    spark.catalog.clearCache()

    case class Stage(id: Int, nameHead: String, tasks: Int, taskTimeMs: Long,
                     inputMB: Double, shufReadMB: Double, shufWriteMB: Double)
    val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)]
    val stages = scala.collection.mutable.ArrayBuffer.empty[Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.synchronized {
          jobStart(e.jobId) = (e.time, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.synchronized {
          jobStart.get(e.jobId).foreach { case (t0, d) =>
            jobs += ((e.jobId, e.time - t0, d))
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += Stage(si.stageId, si.name.take(60), si.numTasks,
            m.executorRunTime,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // listener events are async — drain the bus before detaching or the
    // trailing onJobEnd/onStageCompleted events are dropped
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    println(f"[jobs] $name warm wall=$wall%.3fs jobs=${jobs.length}")
    jobs.sortBy(-_._2).foreach { case (id, ms, d) =>
      println(f"  job $id%3d ${ms / 1000.0}%7.3fs  $d")
    }
    println("  stages by task time:")
    stages.sortBy(-_.taskTimeMs).take(20).foreach { s =>
      println(f"  stage ${s.id}%4d tasks=${s.tasks}%3d taskTime=${s.taskTimeMs / 1000.0}%8.3fs " +
        f"in=${s.inputMB}%7.1fMB sr=${s.shufReadMB}%7.1fMB sw=${s.shufWriteMB}%7.1fMB  ${s.nameHead}")
    }
  }

  /** Stages the sf events table as `batches` ts-range parquet files, then
    * streams them with maxFilesPerTrigger=1 — the watermark advances
    * monotonically across triggers, so event-time TTL timers genuinely
    * fire mid-run (a single mega-batch would never expire anything).
    * Reports wall time and the final state-operator metrics (rows in
    * store, memory bytes) from the query progress. The staged copy is
    * deleted afterwards. */
  private def stream(spark: SparkSession, sfDir: String, mode: String,
                     batches: Int): Unit = {
    require(mode == "tws" || mode == "fmgws", s"mode must be tws|fmgws, got $mode")
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream_")
    val staged = tmp.resolve("events").toString
    try {
      // stage: ts-range files so trigger order ≈ event-time order
      val ev = graft.core.Tables.events(spark, sfDir)
        .select(col("ts"), col("user_id"), col("event_type"), col("value"))
      ev.repartitionByRange(batches, col("ts")).write.parquet(staged)
      // FileStreamSource orders files by modification time; the parallel
      // write leaves ties, which would let a later ts-range process first
      // and flood earlier ranges' events in as late data. Stamp mtimes in
      // path order (= ts-range order) so trigger order is deterministic.
      val parts = new java.io.File(staged).listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
      val base = System.currentTimeMillis() - parts.length * 2000L
      parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }

      val source = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .as[Sessionize.Ev]
        .withWatermark("ts", "0 seconds")
      def run() = {
        val upd =
          if (mode == "tws") SessionizeTws.updates(source) else Sessionize.updates(source)
        val t0 = System.nanoTime()
        val q = upd.writeStream.format("noop").outputMode("update").start()
        try {
          q.processAllAvailable()
          val sec = (System.nanoTime() - t0) / 1e9
          val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
          (sec, so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum,
            q.recentProgress.length)
        } finally q.stop()
      }
      val (sec, stateRows, stateBytes, nBatches) =
        if (mode == "tws") graft.queries.StreamQueries.withRocksDb(spark)(run()) else run()
      val inputRows = spark.read.parquet(staged).count()
      println(s"""{"stream_probe":"$mode","sf":"$sfDir","sec":${f"$sec%.3f"},""" +
        s""""input_rows":$inputRows,"batches":$nBatches,"state_rows":$stateRows,""" +
        s""""state_bytes":$stateBytes,"cpus":"${spark.sparkContext.defaultParallelism}"}""")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile): Unit
  }
}
