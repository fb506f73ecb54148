package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Deflater, Inflater}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal strict Avro Object Container File codec — the framing real
  * CDC streams (Debezium-class changelogs) actually arrive in. Implements
  * exactly the container surface a changelog ingest touches, per the
  * public Avro 1.x specification: the `Obj\x01` magic, the file-metadata
  * map carrying `avro.schema` (JSON) and `avro.codec`, the 16-byte sync
  * marker, and sync-framed data blocks (record count + byte size +
  * payload + sync) in the `null` and `deflate` (raw RFC 1951, no zlib
  * wrapper, per the spec) codecs. Values use Avro binary encoding:
  * zigzag-varint longs/ints, length-prefixed UTF-8 strings, little-endian
  * IEEE doubles, one-byte booleans, and `["null", T]` unions as a varint
  * branch index.
  *
  * Schema support is the subset a flat changelog record needs — a single
  * top-level record of primitive fields (`long`, `int`, `string`,
  * `boolean`, `double`), each optionally nullable via a two-branch
  * `["null", T]` union. Decode is strict in the repo's codec discipline
  * (same as [[Mp4]]): wrong magic, unsupported codec, a metadata or block
  * count encoded negative (legal Avro, but this lake never writes it),
  * a sync-marker mismatch, a block overrunning the file, trailing bytes,
  * a record straddling a block boundary, or a schema outside the subset
  * all throw LOUDLY rather than yielding a silently-wrong change stream.
  */
object Avro {

  sealed trait AType
  case object ALong extends AType
  case object AInt extends AType
  case object AString extends AType
  case object ABoolean extends AType
  case object ADouble extends AType
  /** `["null", T]` — Avro's idiomatic optional field. */
  final case class ANullable(inner: AType) extends AType {
    require(!inner.isInstanceOf[ANullable], "Avro: union inside union")
  }

  /** A field default (Avro spec: the value substituted when a READER
    * field is absent from the writer's schema). Wrapped so `Some(Default
    * (null))` — the mandatory default of a `["null", T]` union, whose
    * default must match the FIRST branch per the spec — stays
    * distinguishable from "no default". */
  final case class Default(value: Any)

  final case class Field(name: String, tpe: AType,
                         default: Option[Default] = None) {
    default.foreach { d =>
      (tpe, d.value) match {
        case (ANullable(_), null) => // spec: union default matches branch 0
        case (ANullable(_), v) => throw new IllegalArgumentException(
          s"Avro: default of a [\"null\", T] union must be null, got $v")
        case (ALong, _: Long) | (AInt, _: Int) | (AString, _: String) |
             (ABoolean, _: Boolean) | (ADouble, _: Double) =>
        case (t, v) => throw new IllegalArgumentException(
          s"Avro: default $v does not fit $t")
      }
    }
  }

  final case class Schema(name: String, fields: Vector[Field]) {
    require(fields.nonEmpty, "Avro: record with no fields")
    require(fields.map(_.name).distinct.length == fields.length,
      "Avro: duplicate field names")

    /** Canonical schema JSON (what the writer puts in `avro.schema`). */
    def json: String = {
      def tj(t: AType): String = t match {
        case ALong => "\"long\""
        case AInt => "\"int\""
        case AString => "\"string\""
        case ABoolean => "\"boolean\""
        case ADouble => "\"double\""
        case ANullable(i) => s"""["null",${tj(i)}]"""
      }
      def dj(v: Any): String = v match {
        case null => "null"
        case s: String => new ObjectMapper().writeValueAsString(s)
        case b: Boolean => b.toString
        case n => n.toString // Long / Int / Double
      }
      val fs = fields.map { f =>
        val d = f.default.fold("")(d => s""","default":${dj(d.value)}""")
        s"""{"name":"${f.name}","type":${tj(f.tpe)}$d}"""
      }
      s"""{"type":"record","name":"$name","fields":[${fs.mkString(",")}]}"""
    }
  }

  object Schema {
    /** Parse schema JSON (jackson rides in on the Spark classpath), strict
      * to the supported subset. */
    def parse(json: String): Schema = {
      val root = new ObjectMapper().readTree(json)
      require(root != null && root.isObject, "Avro: schema JSON not an object")
      require(text(root, "type") == "record",
        s"Avro: unsupported top-level type '${text(root, "type")}'")
      val name = text(root, "name")
      val fieldsNode = root.get("fields")
      require(fieldsNode != null && fieldsNode.isArray,
        "Avro: record schema without a fields array")
      def tpe(n: JsonNode): AType = {
        if (n.isTextual) n.asText() match {
          case "long" => ALong
          case "int" => AInt
          case "string" => AString
          case "boolean" => ABoolean
          case "double" => ADouble
          case other => throw new IllegalArgumentException(
            s"Avro: unsupported primitive type '$other'")
        } else if (n.isArray) {
          require(n.size == 2 && n.get(0).isTextual &&
            n.get(0).asText() == "null",
            "Avro: only two-branch [\"null\", T] unions are supported")
          ANullable(tpe(n.get(1)))
        } else throw new IllegalArgumentException(
          s"Avro: unsupported type node $n")
      }
      val fields = (0 until fieldsNode.size).map { i =>
        val f = fieldsNode.get(i)
        val t = tpe(f.get("type"))
        val default = Option(f.get("default")).map { d =>
          val v: Any = t match {
            case ANullable(_) =>
              require(d.isNull, "Avro: union default must be null"); null
            case ALong =>
              require(d.isIntegralNumber, s"Avro: bad long default $d"); d.asLong()
            case AInt =>
              require(d.isIntegralNumber, s"Avro: bad int default $d"); d.asInt()
            case AString =>
              require(d.isTextual, s"Avro: bad string default $d"); d.asText()
            case ABoolean =>
              require(d.isBoolean, s"Avro: bad boolean default $d"); d.asBoolean()
            case ADouble =>
              require(d.isNumber, s"Avro: bad double default $d"); d.asDouble()
          }
          Default(v)
        }
        Field(text(f, "name"), t, default)
      }.toVector
      Schema(name, fields)
    }

    private def text(n: JsonNode, k: String): String = {
      val v = n.get(k)
      require(v != null && v.isTextual, s"Avro: schema missing string '$k'")
      v.asText()
    }
  }

  private val Magic = Array[Byte]('O', 'b', 'j', 1)
  private val SyncBytes = 16

  // ---- binary primitives ----------------------------------------------------

  private def writeLong(out: ByteArrayOutputStream, v: Long): Unit = {
    var n = (v << 1) ^ (v >> 63) // zigzag
    while ((n & ~0x7fL) != 0) {
      out.write(((n & 0x7f) | 0x80).toInt)
      n >>>= 7
    }
    out.write(n.toInt)
  }

  private def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    writeLong(out, b.length.toLong)
    out.write(b)
  }

  private def writeBytes(out: ByteArrayOutputStream, b: Array[Byte]): Unit = {
    writeLong(out, b.length.toLong)
    out.write(b)
  }

  private final class Reader(bytes: Array[Byte], var off: Int, val end: Int) {
    def readLong(what: String): Long = {
      var b = 0L
      var shift = 0
      var n = 0L
      do {
        require(off < end, s"corrupt Avro: truncated varint in $what at $off")
        require(shift < 64, s"corrupt Avro: varint overlong in $what at $off")
        b = bytes(off) & 0xffL
        off += 1
        n |= (b & 0x7f) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      (n >>> 1) ^ -(n & 1) // un-zigzag
    }
    def readSlice(len: Int, what: String): Array[Byte] = {
      require(len >= 0 && off + len <= end,
        s"corrupt Avro: $what of $len bytes overruns buffer at $off")
      val r = java.util.Arrays.copyOfRange(bytes, off, off + len)
      off += len
      r
    }
    def readString(what: String): String = {
      val len = readLong(what)
      require(len >= 0 && len <= Int.MaxValue,
        s"corrupt Avro: negative/huge $what length $len")
      new String(readSlice(len.toInt, what), UTF_8)
    }
    def readByte(what: String): Int = {
      require(off < end, s"corrupt Avro: truncated $what at $off")
      val b = bytes(off) & 0xff
      off += 1
      b
    }
    def atEnd: Boolean = off == end
  }

  private def writeValue(out: ByteArrayOutputStream, t: AType, v: Any): Unit =
    (t, v) match {
      case (ANullable(_), null) => writeLong(out, 0L) // branch 0 = null
      case (ANullable(i), x) => writeLong(out, 1L); writeValue(out, i, x)
      case (_, null) => throw new IllegalArgumentException(
        s"Avro: null for non-nullable $t")
      case (ALong, x: Long) => writeLong(out, x)
      case (AInt, x: Int) => writeLong(out, x.toLong)
      case (AString, x: String) => writeString(out, x)
      case (ABoolean, x: Boolean) => out.write(if (x) 1 else 0)
      case (ADouble, x: Double) =>
        val bits = java.lang.Double.doubleToLongBits(x)
        (0 until 8).foreach(i => out.write(((bits >>> (8 * i)) & 0xff).toInt))
      case (tt, x) => throw new IllegalArgumentException(
        s"Avro: value ${x.getClass.getSimpleName} does not fit $tt")
    }

  private def readValue(in: Reader, t: AType): Any = t match {
    case ANullable(i) =>
      in.readLong("union index") match {
        case 0L => null
        case 1L => readValue(in, i)
        case b => throw new IllegalArgumentException(
          s"corrupt Avro: union branch $b out of range")
      }
    case ALong => in.readLong("long")
    case AInt =>
      val v = in.readLong("int")
      require(v >= Int.MinValue && v <= Int.MaxValue,
        s"corrupt Avro: int field out of range: $v")
      v.toInt
    case AString => in.readString("string")
    case ABoolean => in.readByte("boolean") match {
      case 0 => false
      case 1 => true
      case b => throw new IllegalArgumentException(
        s"corrupt Avro: boolean byte $b")
    }
    case ADouble =>
      var bits = 0L
      (0 until 8).foreach(i => bits |= (in.readByte("double") & 0xffL) << (8 * i))
      java.lang.Double.longBitsToDouble(bits)
  }

  // ---- codecs ----------------------------------------------------------------

  private def deflate(data: Array[Byte]): Array[Byte] = {
    // raw deflate (RFC 1951, nowrap) per the Avro spec — NOT zlib-wrapped
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val out = new ByteArrayOutputStream(math.max(64, data.length / 2))
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def inflate(data: Array[Byte]): Array[Byte] = {
    val inf = new Inflater(true)
    inf.setInput(data)
    val out = new ByteArrayOutputStream(math.max(64, data.length * 2))
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        require(n > 0 || inf.finished(),
          "corrupt Avro: deflate stream truncated or not raw-deflate")
        out.write(buf, 0, n)
      }
      require(inf.getRemaining == 0, "corrupt Avro: trailing bytes after deflate stream")
    } catch {
      case e: java.util.zip.DataFormatException =>
        throw new IllegalArgumentException(s"corrupt Avro: bad deflate data: $e")
    } finally inf.end()
    out.toByteArray
  }

  // ---- container -------------------------------------------------------------

  /** Deterministic 16-byte sync marker from the schema + a caller seed —
    * staged lakes are fingerprint-keyed, so the writer must be a pure
    * function of its inputs (no randomness). */
  def syncMarker(schema: Schema, seed: Long): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.json.getBytes(UTF_8))
    md.update((0 until 8).map(i => ((seed >>> (8 * i)) & 0xff).toByte).toArray)
    md.digest().take(SyncBytes)
  }

  /** Encode rows (each a Seq aligned with schema.fields) into one object
    * container file. `codec` is "null" or "deflate"; `maxBlockRecords`
    * bounds per-block memory and exercises the multi-block sync framing. */
  def encode(schema: Schema, rows: Seq[Seq[Any]], codec: String = "null",
             syncSeed: Long = 0L, maxBlockRecords: Int = 4096): Array[Byte] = {
    require(codec == "null" || codec == "deflate",
      s"Avro: unsupported codec '$codec'")
    require(maxBlockRecords > 0, "Avro: maxBlockRecords must be positive")
    val sync = syncMarker(schema, syncSeed)
    val out = new ByteArrayOutputStream()
    out.write(Magic)
    writeLong(out, 2L) // metadata map: one block of two entries
    writeString(out, "avro.schema"); writeBytes(out, schema.json.getBytes(UTF_8))
    writeString(out, "avro.codec"); writeBytes(out, codec.getBytes(UTF_8))
    writeLong(out, 0L) // map terminator
    out.write(sync)
    rows.grouped(maxBlockRecords).foreach { block =>
      val body = new ByteArrayOutputStream()
      block.foreach { r =>
        require(r.length == schema.fields.length,
          s"Avro: row arity ${r.length} != schema arity ${schema.fields.length}")
        schema.fields.zip(r).foreach { case (f, v) => writeValue(body, f.tpe, v) }
      }
      val payload = if (codec == "deflate") deflate(body.toByteArray)
                    else body.toByteArray
      writeLong(out, block.length.toLong)
      writeLong(out, payload.length.toLong)
      out.write(payload)
      out.write(sync)
    }
    out.toByteArray
  }

  /** Strict decode: returns the parsed schema and every record as a
    * Vector aligned with schema.fields. The whole file is validated —
    * header, codec, every block's sync marker, exact record framing
    * (records must tile each block's payload), and end-of-file on a
    * block boundary. */
  def decode(bytes: Array[Byte]): (Schema, Vector[Vector[Any]]) =
    decodeInternal(bytes, None)

  /** Schema-RESOLUTION read (the Avro spec's "Schema Resolution", strict
    * subset — what a CDC consumer does when the stream's schema evolved
    * mid-stream): fields match by NAME; writer fields absent from the
    * reader are decoded and DISCARDED; reader fields absent from the
    * writer take their declared default (no default → throw, per spec);
    * matched fields must have IDENTICAL types (promotions unsupported —
    * this lake never needs them). Rows align with READER fields. */
  def decodeAs(bytes: Array[Byte], reader: Schema): (Schema, Vector[Vector[Any]]) =
    decodeInternal(bytes, Some(reader))

  private def decodeInternal(bytes: Array[Byte],
                             readerOpt: Option[Schema]): (Schema, Vector[Vector[Any]]) = {
    require(bytes.length >= Magic.length + 1 + SyncBytes,
      "corrupt Avro: shorter than any valid container")
    require(bytes.take(4).sameElements(Magic), "corrupt Avro: bad magic")
    val in = new Reader(bytes, Magic.length, bytes.length)
    // metadata map: positive-count blocks only (negative count+size is
    // legal Avro; this lake never writes it — refuse loudly)
    val meta = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    var n = in.readLong("metadata count")
    while (n != 0) {
      require(n > 0, s"corrupt Avro: negative metadata block count $n (unsupported)")
      (0L until n).foreach { _ =>
        val k = in.readString("metadata key")
        val vLen = in.readLong("metadata value length")
        require(vLen >= 0 && vLen <= Int.MaxValue,
          s"corrupt Avro: metadata value length $vLen")
        meta(k) = in.readSlice(vLen.toInt, "metadata value")
      }
      n = in.readLong("metadata count")
    }
    val schemaJson = meta.getOrElse("avro.schema",
      throw new IllegalArgumentException("corrupt Avro: no avro.schema"))
    val schema = Schema.parse(new String(schemaJson, UTF_8))
    val codec = meta.get("avro.codec").map(new String(_, UTF_8)).getOrElse("null")
    require(codec == "null" || codec == "deflate",
      s"corrupt Avro: unsupported codec '$codec'")
    val sync = in.readSlice(SyncBytes, "header sync marker")
    // resolution plan (computed once): writer field → reader position or
    // discard; reader-only fields prefill from their defaults
    val resolution = readerOpt.map { reader =>
      val readerIdx = reader.fields.map(_.name).zipWithIndex.toMap
      val targets = schema.fields.map { wf =>
        readerIdx.get(wf.name) match {
          case Some(i) =>
            require(reader.fields(i).tpe == wf.tpe,
              s"Avro: resolution type mismatch on '${wf.name}': writer " +
                s"${wf.tpe} vs reader ${reader.fields(i).tpe} (promotions unsupported)")
            i
          case None => -1 // decode and discard
        }
      }
      val writerNames = schema.fields.map(_.name).toSet
      val prefill: Vector[Any] = reader.fields.map { rf =>
        if (writerNames(rf.name)) null
        else rf.default.getOrElse(throw new IllegalArgumentException(
          s"Avro: reader field '${rf.name}' absent from writer schema " +
            "and has no default")).value
      }
      (targets, prefill)
    }
    val rows = Vector.newBuilder[Vector[Any]]
    while (!in.atEnd) {
      val count = in.readLong("block record count")
      require(count > 0, s"corrupt Avro: non-positive block count $count")
      val size = in.readLong("block byte size")
      require(size >= 0 && size <= Int.MaxValue, s"corrupt Avro: block size $size")
      val payload0 = in.readSlice(size.toInt, "block payload")
      val payload = if (codec == "deflate") inflate(payload0) else payload0
      val body = new Reader(payload, 0, payload.length)
      (0L until count).foreach { _ =>
        rows += (resolution match {
          case None => schema.fields.map(f => readValue(body, f.tpe))
          case Some((targets, prefill)) =>
            val arr = prefill.toArray
            schema.fields.indices.foreach { wi =>
              val v = readValue(body, schema.fields(wi).tpe)
              val t = targets(wi)
              if (t >= 0) arr(t) = v
            }
            arr.toVector
        })
      }
      require(body.atEnd,
        s"corrupt Avro: ${body.end - body.off} bytes of block payload not consumed")
      val blockSync = in.readSlice(SyncBytes, "block sync marker")
      require(blockSync.sameElements(sync),
        "corrupt Avro: block sync marker differs from header")
    }
    (schema, rows.result())
  }
}
