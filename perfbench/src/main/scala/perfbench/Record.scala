package perfbench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Probes every registered query on the committed corpus: a cold and a warm
  * run, each collected and digested, plus every file the run wrote outside
  * the checkout. `pick_queries.py` turns one probe per partition count into
  * `workloads.json`.
  *
  *   perfbench.Record --root DIR --out probe.json --partitions N [--only q1,q2]
  *
  * Needs `-Djava.security.manager=allow`: a permissive security manager
  * observes file writes without refusing any. */
object Record {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val root = new File(m.getOrElse("root", ".")).getCanonicalFile
    val parts = m("partitions").toInt
    val outside = ConcurrentHashMap.newKeySet[String]()
    val inside = root.getAbsolutePath + File.separator
    System.setSecurityManager(new SecurityManager {
      override def checkPermission(p: java.security.Permission): Unit = ()
      override def checkPermission(p: java.security.Permission, ctx: AnyRef): Unit = ()
      private def note(f: String): Unit = {
        val abs = new File(f).getAbsolutePath
        if (!abs.startsWith(inside) && !abs.startsWith("/dev/")) outside.add(abs)
      }
      override def checkWrite(f: String): Unit = note(f)
      override def checkDelete(f: String): Unit = note(f)
    })

    val work = new File(root, ".bench_build/work")
    val spark = SparkSession.builder()
      .master(s"local[${Runtime.getRuntime.availableProcessors}]")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "local").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val data = new File(work, "record/corpus")
    Workload.copyTree(new File(root, "perfbench/corpus"), data)

    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    val streaming = SparkEntry.streamingQueries
    val only = m.get("only").map(_.split(',').toSet)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => only.forall(_.contains(q._1))).foreach { case (name, fn) =>
      outside.clear()
      def once(): (Double, Either[String, String]) = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val r = Try { val df = fn(spark, data.getAbsolutePath); (df.schema, df.collect()) }
        ((System.nanoTime() - t0) / 1e9, r.toEither.left.map(_.toString.take(300))
          .map { case (s, rows) => Digest(s, rows) })
      }
      val (coldS, cold) = once()
      val (warmS, warm) = once()
      val o = out.putObject(name)
      o.put("streaming", streaming.contains(name)).put("cold_s", coldS).put("warm_s", warmS)
      cold.fold(e => o.put("error", e), d => o.put("cold_digest", d))
      warm.fold(e => o.put("error", e), d => o.put("digest", d))
      val ow = o.putArray("outside_writes")
      outside.asScala.toSeq.sorted.take(5).foreach(ow.add)
      System.err.println(f"record $name%-40s cold=$coldS%.2f warm=$warmS%.2f outside=${outside.size}")
    }
    spark.stop()
    Files.write(new File(m("out")).toPath, mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(out))
    sys.exit(0)
  }
}
