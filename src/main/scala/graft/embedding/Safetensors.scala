package graft.embedding

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.util.Json

/** Dependency-free reader/writer for the safetensors checkpoint format
  * (the format the reference's local provider memory-maps,
  * `src/embedding/candle.rs:70-74` `from_mmaped_safetensors`).
  *
  * Layout (public spec, github.com/huggingface/safetensors): an 8-byte
  * little-endian u64 header length, a JSON header mapping tensor name →
  * `{"dtype", "shape", "data_offsets":[begin,end]}` (offsets relative to
  * the end of the header; an optional `"__metadata__"` entry carries
  * string pairs), then the concatenated raw tensor bytes, little-endian,
  * row-major, no padding.
  *
  * All dtypes decode to `float` (the model runs in f32 like the
  * reference, candle.rs DTYPE): F32 as-is, F64 narrowed, F16/BF16
  * widened, integer types converted. Unknown dtypes fail loudly rather
  * than mis-strided reads.
  */
object Safetensors {

  /** Row-major tensor: `shape` dims, `data.length == shape.product`. */
  final case class Tensor(shape: Array[Int], data: Array[Float]) {
    def rows: Int = shape(0)
    def cols: Int = if (shape.length > 1) shape.drop(1).product else 1
  }

  def read(path: Path): Map[String, Tensor] = {
    // whole-file read bounds this at 2 GB — every BERT-family embedding
    // checkpoint is far under it (base ≈ 0.4 GB); fail with the limit
    // named instead of an opaque OOM/negative-size error
    require(Files.size(path) <= Int.MaxValue,
      s"$path is ${Files.size(path)} bytes; this reader supports checkpoints up to 2 GB")
    val bytes = Files.readAllBytes(path)
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(bytes.length >= 8, s"safetensors file too short: ${bytes.length} bytes")
    val headerLen = buf.getLong(0)
    require(headerLen > 0 && headerLen <= bytes.length - 8,
      s"bad safetensors header length $headerLen (file ${bytes.length} bytes)")
    val header = new String(bytes, 8, headerLen.toInt, StandardCharsets.UTF_8)
    val entries = Json.parseObject(header)
    val dataStart = 8 + headerLen.toInt
    entries.collect { case (name, spec) if name != "__metadata__" =>
      val m = spec.asInstanceOf[Map[String, Any]]
      val dtype = m("dtype").asInstanceOf[String]
      val shape = m("shape").asInstanceOf[List[Any]].map(_.asInstanceOf[Long].toInt).toArray
      val offs = m("data_offsets").asInstanceOf[List[Any]].map(_.asInstanceOf[Long])
      val n = if (shape.isEmpty) 1 else shape.product
      val begin = dataStart + offs(0).toInt
      val end = dataStart + offs(1).toInt
      require(end <= bytes.length, s"tensor '$name' data_offsets past EOF")
      name -> Tensor(shape, decode(dtype, buf, begin, end - begin, n, name))
    }
  }

  private def decode(dtype: String, buf: ByteBuffer, begin: Int, len: Int,
                     n: Int, name: String): Array[Float] = {
    val out = new Array[Float](n)
    def checkLen(bytesPer: Int): Unit =
      require(len == n * bytesPer,
        s"tensor '$name' ($dtype): $len bytes for $n elements (expected ${n * bytesPer})")
    dtype match {
      case "F32" =>
        checkLen(4)
        var i = 0; while (i < n) { out(i) = buf.getFloat(begin + 4 * i); i += 1 }
      case "F64" =>
        checkLen(8)
        var i = 0; while (i < n) { out(i) = buf.getDouble(begin + 8 * i).toFloat; i += 1 }
      case "F16" =>
        checkLen(2)
        var i = 0; while (i < n) { out(i) = f16ToFloat(buf.getShort(begin + 2 * i)); i += 1 }
      case "BF16" =>
        // bfloat16 is the top 16 bits of an IEEE f32
        checkLen(2)
        var i = 0
        while (i < n) {
          out(i) = java.lang.Float.intBitsToFloat((buf.getShort(begin + 2 * i) & 0xffff) << 16)
          i += 1
        }
      case "I64" =>
        checkLen(8)
        var i = 0; while (i < n) { out(i) = buf.getLong(begin + 8 * i).toFloat; i += 1 }
      case "I32" =>
        checkLen(4)
        var i = 0; while (i < n) { out(i) = buf.getInt(begin + 4 * i).toFloat; i += 1 }
      case other =>
        throw new IllegalArgumentException(
          s"unsupported safetensors dtype '$other' for tensor '$name'")
    }
    out
  }

  /** IEEE 754 half → float (Java has no Float16; JDK20 Float.float16ToFloat
    * exists but Java 17 is the floor here). */
  private[graft] def f16ToFloat(h: Short): Float = {
    val bits = h & 0xffff
    val sign = (bits & 0x8000) << 16
    val exp = (bits >>> 10) & 0x1f
    val mant = bits & 0x3ff
    if (exp == 0) {
      if (mant == 0) java.lang.Float.intBitsToFloat(sign)
      else { // subnormal: value = mant * 2^-24
        val f = mant * math.pow(2, -24).toFloat
        if (sign != 0) -f else f
      }
    } else if (exp == 0x1f) {
      java.lang.Float.intBitsToFloat(sign | 0x7f800000 | (mant << 13))
    } else {
      java.lang.Float.intBitsToFloat(sign | ((exp - 15 + 127) << 23) | (mant << 13))
    }
  }

  /** Writes F32 tensors in spec layout (test fixtures + checkpoint
    * export). Insertion order preserved; offsets packed contiguously. */
  def write(path: Path, tensors: Seq[(String, Tensor)],
            metadata: Map[String, String] = Map.empty): Unit = {
    var off = 0L
    val header = scala.collection.immutable.ListMap.newBuilder[String, Any]
    if (metadata.nonEmpty) header += ("__metadata__" -> metadata)
    tensors.foreach { case (name, t) =>
      val bytes = t.data.length * 4L
      header += (name -> scala.collection.immutable.ListMap(
        "dtype" -> "F32",
        "shape" -> t.shape.map(_.toLong).toList,
        "data_offsets" -> List(off, off + bytes)))
      off += bytes
    }
    val headerJson = Json.write(header.result()).getBytes(StandardCharsets.UTF_8)
    require(8L + headerJson.length + off <= Int.MaxValue,
      s"tensor payload ${off} bytes exceeds this writer's 2 GB bound")
    val buf = ByteBuffer.allocate(8 + headerJson.length + off.toInt)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(headerJson.length.toLong)
    buf.put(headerJson)
    tensors.foreach { case (_, t) =>
      var i = 0; while (i < t.data.length) { buf.putFloat(t.data(i)); i += 1 }
    }
    Files.write(path, buf.array())
  }
}
