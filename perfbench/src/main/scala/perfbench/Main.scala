package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** Benchmark harness. Runs one workload in one process and prints the
  * result as the last line of stdout:
  *
  *   perfbench.Main --workload board|rag_ingest --seed N
  *                  --seconds S --trace 0|1 [--root DIR]
  *
  * Protocol: set-up cycles (fresh session, fresh inputs, one cold pass
  * that builds every staged artifact), a fixed number of warm passes,
  * then timed passes for S seconds. Untraced runs report the
  * end-to-end metrics; traced runs alternate untraced and traced passes
  * and report per-layer metrics plus the tracing overhead. */
object Main {
  private val mapper = new ObjectMapper()

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, root: File)

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: IllegalArgumentException => System.err.println(s"perfbench: ${e.getMessage}"); 2
        case scala.util.control.NonFatal(e) => e.printStackTrace(); 1
      }
    sys.exit(code)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace,
      new File(m.getOrElse("root", ".")).getCanonicalFile)
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Interquartile mean: the mean of the middle half of the samples (a
    * quarter dropped at each end). Robust to a stray slow pass like the
    * median, but it does not jump between the two modes of a bimodal
    * operation as the median does. */
  def midMean(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val cut = s.length / 4
    val mid = s.slice(cut, s.length - cut)
    mid.sum / mid.length
  }

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.length - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  private def session(work: File, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Spark's default of 100 generated classes is fewer than one board
      // pass needs: the least recently used ones were evicted and compiled
      // again every pass (50-70 Janino compiles a pass), at a cost that
      // depended on the query order. With room for all of them, code is
      // generated in the cold set-up pass and timed passes reuse it.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The RocksDB state stores a streaming query opens stay loaded in the
    * JVM-wide `StateStore`, with its maintenance thread, after the session
    * stops. Unloading them first closes their native handles while the
    * session that opened them still runs. (One board run in about sixty
    * died of a SIGSEGV inside the JVM before this was done.) */
  private def stopSession(spark: SparkSession): Unit = {
    StateStore.stop()
    spark.stop()
  }

  private def loadWorkload(a: Args, spec: File): Workload = {
    val tree = mapper.readTree(spec)
    def names(w: String) = tree.get(w).get("queries").fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toSeq.sortBy(_._1)
    val corpus = new File(a.root, "perfbench/corpus")
    a.workload match {
      case "board" =>
        val qs = names(a.workload)
        new QueryWorkload(qs.map(_._1), qs.toMap, corpus, a.seed)
      case "rag_ingest" =>
        val r = tree.get("rag_ingest")
        new RagWorkload(a.seed, r.get("documents").asInt, r.get("questions").asInt)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
  }

  def run(a: Args): Int = {
    val spec = new File(a.root, "perfbench/workloads.json")
    if (!spec.isFile) throw new IllegalArgumentException(s"no $spec")
    val workload = loadWorkload(a, spec)
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(a.root, ".bench_build/work")
    val runId = s"${a.workload}-${a.seed}-${ProcessHandle.current.pid}"
    val tracer = new Tracer(runId)
    var attempted = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var passNo = 0
    var lastOps: Seq[OpResult] = Nil

    def runPass(spark: SparkSession, dir: File): Double = {
      val t0 = now()
      val ops = workload.pass(spark, dir, tracer, passNo)
      val wall = secs(t0)
      passNo += 1
      attempted += ops.size
      ops.foreach(o => o.error.foreach(e => failures += s"${o.name}: $e"))
      lastOps = ops
      System.err.println(f"perfbench pass $passNo%d ${wall}%.3fs " +
        ops.map(o => f"${o.name}=${o.seconds}%.3f").mkString(" "))
      wall
    }

    // set-up: each cycle starts a session, writes fresh inputs (so every
    // staged artifact is cold) and runs one cold pass
    var spark: SparkSession = null
    var dir: File = null
    val setupTimes = (1 to (if (a.trace) 1 else 3)).map { i =>
      val t0 = now()
      if (spark != null) stopSession(spark)
      spark = session(work, cores)
      tracer.sc = spark.sparkContext
      if (dir != null) Workload.deleteTree(dir)
      dir = new File(work, s"cycle$i")
      workload.prepare(spark, dir)
      runPass(spark, dir)
      secs(t0)
    }

    // warm-up: a fixed number of passes, so the JIT has seen the same
    // work when timing starts however fast the machine runs
    val warm = (1 to workload.warmPasses).map(_ => runPass(spark, dir))

    val mem = ManagementFactory.getMemoryMXBean
    val plainWalls, tracedWalls = mutable.ArrayBuffer.empty[Double]
    val opSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var heapPeak = 0L
    val layers = new LayerListener
    val streams = new StreamCounters
    val t0 = now()
    while (plainWalls.isEmpty || (a.trace && tracedWalls.isEmpty) || secs(t0) < a.seconds) {
      val traced = a.trace && tracedWalls.size < plainWalls.size
      if (traced) {
        PerfbenchAccess.drain(spark.sparkContext) // no event of an untraced pass may count
        spark.sparkContext.addSparkListener(layers)
        spark.streams.addListener(streams)
        tracer.enabled = true
        tracedWalls += runPass(spark, dir)
        tracer.enabled = false
        PerfbenchAccess.drain(spark.sparkContext)
        spark.streams.removeListener(streams)
        spark.sparkContext.removeSparkListener(layers)
      } else {
        plainWalls += runPass(spark, dir)
        lastOps.foreach(o => opSeconds.getOrElseUpdate(o.name, mutable.ArrayBuffer.empty) += o.seconds)
        System.gc()
        heapPeak = math.max(heapPeak, mem.getHeapMemoryUsage.getUsed)
      }
    }
    stopSession(spark)

    // each operation's interquartile mean over the timed passes, then percentiles over operations
    val opMeans = opSeconds.values.map(xs => midMean(xs.toSeq)).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setupTimes), "s"),
        ("wall_s", midMean(plainWalls.toSeq), "s"),
        ("op_p50_s", percentile(opMeans, 0.5), "s"),
        ("op_p95_s", percentile(opMeans, 0.95), "s"),
        ("heap_peak_mb", heapPeak / 1048576.0, "MB"))
      else {
        val m = Layers.metrics(tracer, layers, streams, workload, tracedWalls.toSeq, cores) :+
          (("trace.overhead_ratio", midMean(tracedWalls.toSeq) / midMean(plainWalls.toSeq) - 1, "ratio"))
        writeTrace(a, tracer, m)
        m
      }

    System.err.println(f"perfbench ${a.workload} seed=${a.seed} cores=$cores setup=${setupTimes.map(t => f"$t%.2f").mkString(",")} " +
      s"warm=${warm.map(t => f"$t%.2f").mkString(",")} timed=${plainWalls.map(t => f"$t%.2f").mkString(",")}" +
      (if (a.trace) s" traced=${tracedWalls.map(t => f"$t%.2f").mkString(",")}" else ""))
    failures.distinct.take(20).foreach(f => System.err.println(s"perfbench FAILED $f"))

    val out = mapper.createObjectNode()
    out.put("correct", failures.isEmpty)
    out.put("attempted", attempted)
    out.put("failed", failures.size.toLong)
    val mo = out.putObject("metrics")
    metrics.foreach { case (name, v, unit) => mo.putObject(name).put("value", v).put("unit", unit) }
    println(mapper.writeValueAsString(out))
    if (failures.isEmpty) 0 else 1
  }

  /** Spans (with self time) as JSON lines, and the per-layer numbers. */
  private def writeTrace(a: Args, tracer: Tracer, m: Seq[(String, Double, String)]): Unit = {
    val dir = new File(a.root, ".bench_build/trace")
    dir.mkdirs()
    val base = s"${a.workload}-seed${a.seed}"
    val self = tracer.selfSeconds
    val w = new PrintWriter(Files.newBufferedWriter(new File(dir, s"$base.spans.jsonl").toPath, UTF_8))
    try tracer.all.foreach { s =>
      val o = mapper.createObjectNode()
      o.put("id", s.id).put("name", s.name).put("label", s.label).put("parent", s.parent)
        .put("run", s.run).put("start_ns", s.startNs).put("end_ns", s.endNs).put("self_s", self(s.id))
      w.println(mapper.writeValueAsString(o))
    } finally w.close()
    val o = mapper.createObjectNode()
    m.foreach { case (k, v, _) => o.put(k, v) }
    Files.write(new File(dir, s"$base.layers.json").toPath,
      mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(o))
    System.err.println(s"perfbench trace written to $dir/$base.*")
  }
}

/** Per-layer metrics of a traced run, each per traced pass (counts and
  * seconds summed over the pass; peaks are maxima). Layers a workload does
  * not touch report 0. */
object Layers {
  def metrics(tracer: Tracer, layers: LayerListener, streams: StreamCounters,
              workload: Workload, walls: Seq[Double], cores: Int): Seq[(String, Double, String)] = {
    val n = walls.size.toDouble
    val spans = tracer.all
    def spanS(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    val bySpan = layers.bySpan
    def counters(name: String): JobCounters = {
      val ids = spans.filter(_.name == name).map(_.id).toSet
      val c = new JobCounters
      bySpan.foreach { case (id, x) => if (ids.contains(id)) c.add(x) }
      c
    }
    val all = new JobCounters
    bySpan.values.foreach(all.add)
    val topk = counters("vector.topk")
    val mmr = counters("vector.mmr")
    val own = workload.layerTotals.withDefaultValue(0.0)
    val rag = workload match {
      case r: RagWorkload =>
        val write = spanS("core.index_write")
        val retrieve = spanS("vector.topk") + spanS("vector.mmr")
        Seq(r.corpus.docs.size / write, r.corpus.questions.size / retrieve,
          own("core.index_bytes") / n / r.corpus.textBytes)
      case _ => Seq(0.0, 0.0, 0.0)
    }
    Seq(
      ("queries.construct_s", spanS("queries.construct"), "s"),
      ("queries.plan_s", spanS("queries.plan"), "s"),
      ("queries.exec_s", spanS("queries.exec"), "s"),
      ("spark.jobs", all.jobs / n, "count"),
      ("spark.stages", all.stages / n, "count"),
      ("spark.tasks", all.tasks / n, "count"),
      ("spark.core_busy_ratio", all.runMs / 1000.0 / (walls.sum * cores), "ratio"),
      ("spark.exec_cpu_s", all.cpuNs / 1e9 / n, "s"),
      ("spark.exec_run_s", all.runMs / 1000.0 / n, "s"),
      ("spark.gc_s", all.gcMs / 1000.0 / n, "s"),
      ("spark.shuffle_write_bytes", all.shuffleWrite / n, "bytes"),
      ("spark.shuffle_read_bytes", all.shuffleRead / n, "bytes"),
      ("spark.spill_bytes", all.spill / n, "bytes"),
      ("spark.peak_exec_mem_bytes", all.peakMem.toDouble, "bytes"),
      ("text.chunk_s", own("text.chunk_s") / n, "core-s"),
      ("text.chunks", own("text.chunks") / n, "count"),
      ("embed.embed_s", own("embed.embed_s") / n, "core-s"),
      ("embed.vectors", own("embed.vectors") / n, "count"),
      ("core.index_write_s", spanS("core.index_write"), "s"),
      ("core.index_read_s", spanS("core.index_read"), "s"),
      ("core.index_bytes", own("core.index_bytes") / n, "bytes"),
      ("vector.topk_s", spanS("vector.topk"), "s"),
      ("vector.topk_jobs", topk.jobs / n, "count"),
      ("vector.topk_spill_bytes", topk.spill / n, "bytes"),
      ("vector.mmr_s", spanS("vector.mmr"), "s"),
      ("vector.mmr_jobs", mmr.jobs / n, "count"),
      ("vector.mmr_spill_bytes", mmr.spill / n, "bytes"),
      ("streaming.batches", streams.batches / n, "count"),
      ("streaming.bringup_s", streams.bringupMs / 1000.0 / n, "s"),
      ("streaming.query_planning_s", streams.planningMs / 1000.0 / n, "s"),
      ("streaming.add_batch_s", streams.addBatchMs / 1000.0 / n, "s"),
      ("streaming.wal_commit_s", streams.walCommitMs / 1000.0 / n, "s"),
      ("streaming.commit_offsets_s", streams.commitOffsetsMs / 1000.0 / n, "s"),
      ("streaming.state_commit_s", streams.stateCommitMs / 1000.0 / n, "s"),
      ("streaming.state_rows", streams.finalStateRows / n, "count"),
      ("streaming.state_mem_bytes", streams.stateMemPeak.toDouble, "bytes"),
      ("rag.docs_per_s", rag(0), "1/s"),
      ("rag.retrieve_qps", rag(1), "1/s"),
      ("rag.index_bytes_per_text_byte", rag(2), "ratio"))
  }
}
