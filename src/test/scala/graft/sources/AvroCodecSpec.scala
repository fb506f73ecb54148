package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Avro's strict-decode contract: a round trip preserves every value in
  * both codecs and across block boundaries; structural corruption —
  * bad magic, unknown codec, negative counts, sync mismatch, truncation,
  * non-tiling records, trailing junk, out-of-subset schemas — throws
  * rather than yielding a silently-wrong change stream. */
class AvroCodecSpec extends AnyFunSuite {

  import Avro._

  private val changelog = Schema("change", Vector(
    Field("seq", ALong), Field("op", AString),
    Field("doc_id", ALong), Field("text", ANullable(AString))))

  private val rows: Seq[Seq[Any]] = Seq(
    Seq(1L, "U", 42L, "hello world"),
    Seq(2L, "U", 42L, "hello again"),
    Seq(3L, "D", 17L, null),
    Seq(1L, "U", Long.MaxValue, ""),
    Seq(Long.MinValue, "U", -1L, "π unicode ✓"))

  test("round trip preserves every value (null and deflate codecs)") {
    for (codec <- Seq("null", "deflate")) {
      val (s, out) = decode(encode(changelog, rows, codec, syncSeed = 7L))
      assert(s == changelog)
      assert(out == rows.map(_.toVector).toVector)
    }
  }

  test("multi-block framing: records never straddle a sync boundary") {
    val many = (0L until 1000L).map(i =>
      Seq[Any](i, if (i % 11 == 0) "D" else "U", i * 3,
        if (i % 11 == 0) null else s"doc $i body"))
    for (codec <- Seq("null", "deflate")) {
      val bytes = encode(changelog, many, codec, syncSeed = 1L, maxBlockRecords = 64)
      val (_, out) = decode(bytes)
      assert(out == many.map(_.toVector).toVector)
    }
  }

  test("schema JSON round-trips through the strict parser") {
    val all = Schema("kitchen", Vector(
      Field("a", ALong), Field("b", AInt), Field("c", AString),
      Field("d", ABoolean), Field("e", ADouble),
      Field("f", ANullable(ADouble)), Field("g", ANullable(AInt))))
    assert(Schema.parse(all.json) == all)
    // whitespace-tolerant (jackson), strict on content
    assert(Schema.parse(
      """{ "type": "record", "name": "x",
        |  "fields": [ { "name": "v", "type": ["null", "long"] } ] }""".stripMargin)
      == Schema("x", Vector(Field("v", ANullable(ALong)))))
  }

  test("primitive encodings: zigzag longs, doubles, booleans survive extremes") {
    val s = Schema("prim", Vector(
      Field("l", ALong), Field("i", AInt), Field("b", ABoolean), Field("d", ADouble)))
    val vals: Seq[Seq[Any]] = Seq(
      Seq(0L, 0, false, 0.0),
      Seq(-1L, -1, true, -0.0),
      Seq(Long.MaxValue, Int.MaxValue, true, Double.MaxValue),
      Seq(Long.MinValue, Int.MinValue, false, Double.MinPositiveValue),
      Seq(63L, 64, true, Double.NaN))
    val (_, out) = decode(encode(s, vals, "deflate"))
    assert(out.map(_.take(3)) == vals.map(_.take(3).toVector))
    // NaN round-trips bit-exactly through the little-endian long path
    assert(java.lang.Double.doubleToLongBits(out(4)(3).asInstanceOf[Double]) ==
      java.lang.Double.doubleToLongBits(Double.NaN))
    assert(out(2)(3) == Double.MaxValue && out(3)(3) == Double.MinPositiveValue)
  }

  test("structural corruption throws loudly") {
    val ok = encode(changelog, rows, "null", syncSeed = 3L)
    def bad(msg: String)(mut: Array[Byte] => Array[Byte]): Unit = {
      val e = intercept[IllegalArgumentException](decode(mut(ok.clone())))
      assert(e.getMessage.contains(msg), s"got: ${e.getMessage}")
    }
    // bad magic
    bad("bad magic") { b => b(0) = 'X'; b }
    // truncated mid-stream
    bad("corrupt Avro") { b => b.take(b.length - 5) }
    // trailing junk after the last block's sync
    bad("corrupt Avro") { b => b ++ Array[Byte](9) }
    // flip one byte of the LAST sync marker (block sync != header sync)
    bad("sync marker") { b => b(b.length - 1) = (b(b.length - 1) ^ 0xff).toByte; b }
    // unknown codec in metadata: rewrite the codec VALUE "null" -> "zstd"
    // in place — it sits one length-varint after the "avro.codec" key
    // (the schema JSON also contains the bytes "null", so anchor the key)
    val idx = indexOfSlice(ok, "avro.codec".getBytes) + "avro.codec".length + 1
    assert(new String(ok, idx, 4, java.nio.charset.StandardCharsets.UTF_8) == "null")
    bad("unsupported codec") { b =>
      "zstd".getBytes.zipWithIndex.foreach { case (c, i) => b(idx + i) = c }
      b
    }
  }

  test("deflate payload corruption is caught") {
    val ok = encode(changelog, rows, "deflate", syncSeed = 3L)
    // corrupt a byte inside the first block payload (after header sync,
    // skip the two varints then hit payload start)
    val headerEnd = indexOfSyncEnd(ok)
    val b = ok.clone()
    b(headerEnd + 4) = (b(headerEnd + 4) ^ 0x55).toByte
    intercept[IllegalArgumentException](Avro.decode(b))
  }

  test("schemas outside the subset are refused") {
    intercept[IllegalArgumentException](
      Schema.parse("""{"type":"enum","name":"x","symbols":["A"]}"""))
    intercept[IllegalArgumentException](
      Schema.parse("""{"type":"record","name":"x","fields":[
        {"name":"v","type":"bytes"}]}"""))
    intercept[IllegalArgumentException](Schema.parse(
      """{"type":"record","name":"x","fields":[
        {"name":"v","type":["long","null"]}]}""")) // null must be branch 0
    intercept[IllegalArgumentException](Schema.parse(
      """{"type":"record","name":"x","fields":[
        {"name":"v","type":["null","long","int"]}]}""")) // 3 branches
    intercept[IllegalArgumentException](
      Schema("x", Vector.empty)) // no fields
    intercept[IllegalArgumentException](
      Schema("x", Vector(Field("a", ALong), Field("a", AInt)))) // dup names
  }

  test("encode refuses what decode could not represent") {
    intercept[IllegalArgumentException](
      encode(changelog, Seq(Seq(1L, "U", 2L)), "null")) // arity
    intercept[IllegalArgumentException](
      encode(changelog, Seq(Seq(null, "U", 2L, "t")), "null")) // null non-nullable
    intercept[IllegalArgumentException](
      encode(changelog, rows, "zstd")) // unknown codec
    intercept[IllegalArgumentException](
      encode(changelog, Seq(Seq("1", "U", 2L, "t")), "null")) // type mismatch
  }

  test("schema resolution: reader default fills a field the writer never stored") {
    val v2 = Schema("change", changelog.fields :+
      Field("source", AString, Some(Default("upsert-stream"))))
    for (codec <- Seq("null", "deflate")) {
      val (writer, out) = decodeAs(encode(changelog, rows, codec), v2)
      assert(writer == changelog)
      assert(out.map(_.length).forall(_ == 5))
      assert(out.forall(_.last == "upsert-stream"))
      assert(out.map(_.take(4)) == rows.map(_.toVector).toVector)
    }
  }

  test("schema resolution: writer-only fields are decoded and discarded; names not positions") {
    val v2 = Schema("change", changelog.fields :+ Field("source", AString))
    val v2rows = rows.map(_ :+ "live")
    // narrow reader (v1) over wide writer (v2): source decoded, dropped
    val (_, narrow) = decodeAs(encode(v2, v2rows, "deflate"), changelog)
    assert(narrow == rows.map(_.toVector).toVector)
    // reordered reader: same fields, different order — match by NAME
    val reordered = Schema("change", Vector(
      changelog.fields(2), changelog.fields(0), changelog.fields(3), changelog.fields(1)))
    val (_, out) = decodeAs(encode(changelog, rows, "null"), reordered)
    assert(out == rows.map(r => Vector(r(2), r(0), r(3), r(1))).toVector)
  }

  test("schema resolution: missing default and type mismatches throw") {
    val ok = encode(changelog, rows, "null")
    // reader adds a field the writer lacks, with NO default
    val noDefault = Schema("change", changelog.fields :+ Field("source", AString))
    val e = intercept[IllegalArgumentException](decodeAs(ok, noDefault))
    assert(e.getMessage.contains("no default"))
    // matched name, different type: promotions unsupported
    val retyped = Schema("change", changelog.fields.updated(0, Field("seq", AInt)))
    val e2 = intercept[IllegalArgumentException](decodeAs(ok, retyped))
    assert(e2.getMessage.contains("promotions unsupported"))
    // a union default must be null; a string default must be textual
    intercept[IllegalArgumentException](
      Field("t", ANullable(AString), Some(Default("x"))))
    intercept[IllegalArgumentException](Field("t", AString, Some(Default(1L))))
  }

  test("schema JSON round-trips defaults through the strict parser") {
    val v2 = Schema("change", changelog.fields :+
      Field("source", AString, Some(Default("upsert-stream"))) :+
      Field("note", AString, Some(Default("q\"b\\n\nt\tc\u0001"))))
    assert(Schema.parse(v2.json) == v2)
    val numeric = Schema("n", Vector(
      Field("a", ALong, Some(Default(7L))), Field("b", ABoolean, Some(Default(true))),
      Field("c", ANullable(AString), Some(Default(null)))))
    assert(Schema.parse(numeric.json) == numeric)
    intercept[IllegalArgumentException](Schema.parse(
      """{"type":"record","name":"x","fields":[
        {"name":"v","type":["null","string"],"default":"nope"}]}"""))
  }

  test("sync marker is a pure function of schema and seed") {
    assert(syncMarker(changelog, 5L).toSeq == syncMarker(changelog, 5L).toSeq)
    assert(syncMarker(changelog, 5L).toSeq != syncMarker(changelog, 6L).toSeq)
    assert(syncMarker(changelog, 5L).length == 16)
  }

  private def indexOfSlice(hay: Array[Byte], needle: Array[Byte]): Int = {
    val i = hay.indexOfSlice(needle)
    assert(i >= 0, "slice not found")
    i
  }

  /** Offset just past the header sync marker (start of block framing). */
  private def indexOfSyncEnd(bytes: Array[Byte]): Int = {
    val sync = Avro.syncMarker(changelog, 3L)
    indexOfSlice(bytes, sync) + sync.length
  }
}
