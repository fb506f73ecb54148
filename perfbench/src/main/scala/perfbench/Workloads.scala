package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.security.MessageDigest

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, length, lit, sum, udf}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.embed.HashEmbedder
import graft.text.Chunker
import graft.vector.{Mmr, TopK}

/** One operation of a pass: its latency (the timed call only) and, if it
  * threw or its output failed the check, why. */
final case class OpResult(name: String, seconds: Double, error: Option[String])

/** A workload is a closed loop with one client: a pass runs every operation
  * once, each starting after the previous one has returned. */
trait Workload {
  /** Writes this set-up cycle's inputs under `dir` (a fresh directory). */
  def prepare(spark: SparkSession, dir: File): Unit

  def pass(spark: SparkSession, dir: File, tracer: Tracer, passNo: Int): Seq[OpResult]

  /** Untimed passes after set-up, before timing starts. */
  def warmPasses: Int

  /** Layer counters the workload measures itself, summed over traced passes. */
  def layerTotals: Map[String, Double] = Map.empty
}

object Workload {
  /** Times `run`, then checks its output outside the timed interval. */
  def op[T](name: String)(run: => T)(check: T => Option[String]): OpResult = {
    val t0 = System.nanoTime()
    val out = Try(run)
    val seconds = (System.nanoTime() - t0) / 1e9
    val error = out match {
      case Success(v) => Try(check(v)) match {
        case Success(e) => e
        case Failure(e) => Some(s"output check threw: $e")
      }
      case Failure(e) => Some(e.toString.take(400))
    }
    OpResult(name, seconds, error)
  }

  /** Copies a tree with fresh modification times, so every fingerprint-keyed
    * artifact the engine stages from it is built anew (a cold corpus). */
  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().sortBy(_.getName).foreach(f => copyTree(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}

/** SHA-256 over a result's schema and every row in result order. Doubles
  * are compared to 10 significant digits, so a last-bit change in a
  * floating-point sum is not a changed answer; map entries are sorted. */
object Digest {
  def apply(schema: StructType, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",").getBytes(UTF_8))
    rows.foreach { r => md.update('\n'.toByte); md.update(canon(r).getBytes(UTF_8)) }
    md.digest().take(16).map(b => f"${b & 0xff}%02x").mkString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString else if (d == 0.0) "0" else "%.9e".format(d)

  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }
}

/** `board`: registered queries over the committed corpus, each pass in an
  * order drawn from the seed. A query's latency can depend on the queries
  * run before it, so a fresh order every pass averages that out of the
  * per-query figures. An operation constructs the query, plans it and
  * collects every row of every output column in final order. */
final class QueryWorkload(names: Seq[String], expected: Map[String, String],
                          corpus: File, seed: Long) extends Workload {
  private val fns = SparkEntry.queries
  private val orders = new Random(seed)
  val warmPasses = 4

  def prepare(spark: SparkSession, dir: File): Unit =
    Workload.copyTree(corpus, new File(dir, "corpus"))

  def pass(spark: SparkSession, dir: File, tracer: Tracer, passNo: Int): Seq[OpResult] = {
    val data = new File(dir, "corpus").getAbsolutePath
    orders.shuffle(names).map { name =>
      // as the engine's own bench does: every call builds its own caches
      spark.catalog.clearCache()
      Workload.op(name) {
        tracer.span("queries.op", name) {
          val df = tracer.span("queries.construct", name)(fns(name)(spark, data))
          if (tracer.enabled) tracer.span("queries.plan", name)(df.queryExecution.executedPlan)
          val rows = tracer.span("queries.exec", name)(df.collect())
          (df.schema, rows)
        }
      } { case (schema, rows) =>
        val got = Digest(schema, rows)
        if (expected.get(name).contains(got)) None
        else Some(s"result digest $got, expected ${expected.getOrElse(name, "none recorded")}")
      }
    }
  }
}

/** Seeded corpus for `rag_ingest`: long documents of paragraphs separated
  * by blank lines. Every paragraph is 587..989 characters, so under the
  * 1000/200 splitter each paragraph is exactly one chunk; that gives the
  * chunk count and chunk characters the harness checks the index against. */
final case class RagCorpus(docs: IndexedSeq[(Long, String)], paragraphs: Long,
                           paragraphChars: Long, textBytes: Long, questions: IndexedSeq[String])

object RagCorpus {
  def generate(seed: Long, nDocs: Int, nQuestions: Int): RagCorpus = {
    val r = new Random(seed)
    val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
      "dra", "ken", "mor", "sil", "tun", "bar", "cel", "fin", "gor", "hap")
    val vocab = Array.fill(5000)((1 to 2 + r.nextInt(3)).map(_ => syllables(r.nextInt(syllables.length))).mkString)
    // skewed word frequencies, as in natural text
    def word(): String = vocab((vocab.length * math.pow(r.nextDouble(), 2.5)).toInt)
    def paragraph(): String = {
      val target = 600 + r.nextInt(390)
      val sb = new StringBuilder(word())
      var w = word()
      while (sb.length + 1 + w.length <= target) { sb.append(' ').append(w); w = word() }
      sb.toString
    }
    // 3..11 paragraphs a document, dealt in seeded order: every seed gives
    // the same paragraph total, so the work of a pass does not vary by seed
    val counts = r.shuffle(IndexedSeq.tabulate(nDocs)(i => 3 + i % 9))
    val paras = counts.map(n => IndexedSeq.fill(n)(paragraph()))
    val docs = paras.zipWithIndex.map { case (ps, i) => (i.toLong, ps.mkString("\n\n")) }
    val questions = IndexedSeq.fill(nQuestions) {
      val words = paras(r.nextInt(nDocs)).apply(0).split(' ')
      val n = 6 + r.nextInt(5)
      val at = r.nextInt(words.length - n)
      words.slice(at, at + n).mkString(" ")
    }
    RagCorpus(docs, paras.map(_.size.toLong).sum, paras.flatten.map(_.length.toLong).sum,
      docs.map(_._2.getBytes(UTF_8).length.toLong).sum, questions)
  }
}

/** `rag_ingest`: the reference's upload-then-ask path as a batch. A pass
  * chunks and embeds every document into a fresh parquet index, reads the
  * index back, and answers the question batch with top-k and with MMR. */
final class RagWorkload(seed: Long, nDocs: Int, nQuestions: Int) extends Workload {
  val Dim = 1024
  val K = 4
  val MmrK = 5
  val FetchK = 20
  val Lambda = 0.5
  val warmPasses = 5
  // generated again in every set-up cycle: input generation is set-up work
  var corpus: RagCorpus = _
  private var qvecs: IndexedSeq[(Long, Array[Double])] = _
  private var sampled: Seq[(Long, Array[Double])] = _
  private var reference: Option[Map[Long, Seq[(Long, Double)]]] = None
  private var firstTopK, firstMmr: Option[String] = None
  private val totals = scala.collection.mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  override def layerTotals: Map[String, Double] = totals.toMap

  def prepare(spark: SparkSession, dir: File): Unit = {
    import spark.implicits._
    corpus = RagCorpus.generate(seed, nDocs, nQuestions)
    qvecs = corpus.questions.zipWithIndex.map { case (q, i) => (i.toLong, HashEmbedder.embed(q, Dim)) }
    sampled = new Random(seed ^ 0x5eedL).shuffle(qvecs.indices.toList).take(4).map(i => qvecs(i))
    corpus.docs.toDF("doc_id", "text").write.parquet(new File(dir, "docs").getAbsolutePath)
  }

  def pass(spark: SparkSession, dir: File, tracer: Tracer, passNo: Int): Seq[OpResult] = {
    import spark.implicits._
    val index = new File(dir, s"index_$passNo")
    // executor-side busy time inside Chunker / HashEmbedder, traced passes only
    val accs = if (tracer.enabled) Some(Seq.fill(4)(spark.sparkContext.longAccumulator)) else None
    val dim = Dim
    val chunked = spark.read.parquet(new File(dir, "docs").getAbsolutePath).as[(Long, String)]
      .flatMap { case (docId, text) =>
        val t0 = System.nanoTime()
        val cs = Chunker.chunkWithIds(text, 1000, 200)
        accs.foreach { a => a(0).add(System.nanoTime() - t0); a(1).add(cs.size) }
        cs.map(c => (docId * 1000 + c.chunkId, docId, c.chunkId, c.text))
      }.toDF("vec_id", "doc_id", "chunk_id", "text")
    val embed = udf { (s: String) =>
      val t0 = System.nanoTime()
      val v = HashEmbedder.embed(s, dim)
      accs.foreach { a => a(2).add(System.nanoTime() - t0); a(3).add(1) }
      v
    }
    val ingest = Workload.op("ingest") {
      tracer.span("core.index_write")(
        chunked.withColumn("embedding", embed(col("text"))).write.parquet(index.getAbsolutePath))
    }(_ => None)

    var cands: DataFrame = null
    val load = Workload.op("load") {
      tracer.span("core.index_read") {
        cands = spark.read.parquet(index.getAbsolutePath)
        cands.agg(count(lit(1)), sum(length(col("text")))).first()
      }
    } { r =>
      if (r.getLong(0) == corpus.paragraphs && r.getLong(1) == corpus.paragraphChars) None
      else Some(s"index has ${r.getLong(0)} chunks / ${r.getLong(1)} chars, generator made " +
        s"${corpus.paragraphs} / ${corpus.paragraphChars}")
    }
    if (load.error.nonEmpty) return Seq(ingest, load)

    val vectors = cands.select(col("vec_id"), col("embedding").as("cvec"))
    val qdf = qvecs.toDF("query_id", "qvec")
    if (reference.isEmpty) reference = Some(RagWorkload.bruteForce(vectors, sampled, FetchK))
    val ref = reference.get

    val topk = Workload.op("topk") {
      tracer.span("vector.topk")(TopK.topKCosine(qdf, vectors, K).collect())
    } { rows =>
      val byQ = rows.groupBy(_.getLong(0))
      val stable = consistent(rows, firstTopK, d => firstTopK = Some(d))
      val bad = sampled.map(_._1).find { q =>
        val got = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
        val want = ref(q).take(K)
        got.length != K || got.zip(want).exists { case ((gi, gc), (wi, wc)) => gi != wi || math.abs(gc - wc) > 1e-9 }
      }
      if (rows.length != K * qvecs.size) Some(s"top-k returned ${rows.length} rows")
      else bad.map(q => s"top-k for question $q differs from the brute-force scan").orElse(stable)
    }

    val mmr = Workload.op("mmr") {
      tracer.span("vector.mmr")(Mmr.mmrRerank(qdf, vectors, MmrK, FetchK, Lambda).collect())
    } { rows =>
      val byQ = rows.groupBy(_.getLong(0))
      val stable = consistent(rows, firstMmr, d => firstMmr = Some(d))
      val bad = sampled.map(_._1).find { q =>
        val got = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(3)).map(_.getLong(1))
        val pool = ref(q).map(_._1)
        got.length != MmrK || got.distinct.length != MmrK || !got.forall(pool.contains) || got(0) != pool.head
      }
      if (rows.length != MmrK * qvecs.size) Some(s"MMR returned ${rows.length} rows")
      else bad.map(q => s"MMR for question $q is not a re-rank of the brute-force top-$FetchK").orElse(stable)
    }

    accs.foreach { a =>
      totals("text.chunk_s") += a(0).value / 1e9
      totals("text.chunks") += a(1).value
      totals("embed.embed_s") += a(2).value / 1e9
      totals("embed.vectors") += a(3).value
      totals("core.index_bytes") += indexBytes(index)
    }
    Workload.deleteTree(index)
    Seq(ingest, load, topk, mmr)
  }

  private def indexBytes(index: File): Long =
    index.listFiles().filter(f => f.getName.startsWith("part-")).map(_.length).sum

  /** Every pass must return the same rows as the first one. */
  private def consistent(rows: Array[Row], first: Option[String], set: String => Unit): Option[String] = {
    val d = Digest(new StructType(), rows.sortBy(r => (r.getLong(0), r.getInt(3))))
    first match {
      case None => set(d); None
      case Some(f) => if (f == d) None else Some("result differs from the first pass")
    }
  }
}

object RagWorkload {
  /** The harness's own exhaustive cosine scan for a few questions: top-n
    * (vec_id, cosine) by cosine descending, ties by lower vec_id. */
  def bruteForce(index: DataFrame, qs: Seq[(Long, Array[Double])], n: Int)
      : Map[Long, Seq[(Long, Double)]] = {
    def norm(v: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val qn = qs.map { case (id, v) => (id, v, norm(v)) }
    val order = Ordering.by[(Long, Double), (Double, Long)](t => (-t._2, t._1))
    val partial = index.rdd.mapPartitions { rows =>
      val scored = rows.map { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Double](1).toArray
        val vn = norm(v)
        (id, qn.map { case (_, q, n0) =>
          var dot = 0.0; var i = 0
          while (i < v.length) { dot += q(i) * v(i); i += 1 }
          if (n0 * vn == 0.0) 0.0 else dot / (n0 * vn)
        })
      }.toArray
      Iterator(qn.indices.map(j => scored.map(s => (s._1, s._2(j))).sorted(order).take(n)))
    }.collect()
    qn.indices.map(j => qn(j)._1 -> partial.flatMap(_(j)).sorted(order).take(n).toSeq).toMap
  }
}
