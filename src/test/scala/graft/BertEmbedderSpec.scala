package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.embedding.{BertConfig, BertEmbedder, BertMath, Safetensors, WordPiece}
import graft.pipeline.Index
import graft.util.Json

/** Local in-JVM BERT inference (`embedding/BertEmbedder.scala`), the
  * counterpart of the reference's Candle provider
  * (`src/embedding/candle.rs:119-225`): safetensors round-trip, the
  * WordPiece segmentation rules from the BERT paper, each numeric
  * kernel against hand-computed values, and transformer-level
  * invariants (determinism, padding/batch-order invariance, masked
  * pooling, L2) on a seeded tiny checkpoint — finishing with a full
  * build→search through the provider trait.
  */
class BertEmbedderSpec extends SparkSpec {
  import Safetensors.Tensor

  // --- tiny seeded checkpoint fixture ------------------------------------

  private val words = Seq("the", "cat", "sat", "on", "mat", "un", "##aff",
    "##able", "dog", "runs", "fast", "cafe", "!", ",", "big", "##s")
  private val vocabList = Seq("[PAD]", "[UNK]", "[CLS]", "[SEP]") ++ words
  private val vocab: Map[String, Int] = vocabList.zipWithIndex.toMap

  private val H = 8
  private val Layers = 2
  private val Heads = 2
  private val Inter = 16
  private val MaxPos = 16

  private lazy val modelDir: Path = {
    val dir = Files.createTempDirectory("graft-bert")
    val cfg = Map(
      "vocab_size" -> vocabList.size, "hidden_size" -> H,
      "num_hidden_layers" -> Layers, "num_attention_heads" -> Heads,
      "intermediate_size" -> Inter, "max_position_embeddings" -> MaxPos,
      "type_vocab_size" -> 2, "layer_norm_eps" -> 1e-12, "hidden_act" -> "gelu")
    Files.writeString(dir.resolve("config.json"), Json.write(cfg))
    val tok = Map(
      "normalizer" -> Map("type" -> "BertNormalizer", "lowercase" -> true),
      "model" -> Map("type" -> "WordPiece", "unk_token" -> "[UNK]",
        "continuing_subword_prefix" -> "##",
        "vocab" -> vocab.map { case (k, v) => k -> v.toLong }))
    Files.writeString(dir.resolve("tokenizer.json"), Json.write(tok))

    val rnd = new scala.util.Random(7)
    def t(scale: Double, shape: Int*): Tensor =
      Tensor(shape.toArray, Array.fill(shape.product)((rnd.nextGaussian() * scale).toFloat))
    def ones(n: Int) = Tensor(Array(n), Array.fill(n)(1f))
    def zeros(n: Int) = Tensor(Array(n), new Array[Float](n))

    val tensors = Seq.newBuilder[(String, Tensor)]
    tensors += ("embeddings.word_embeddings.weight" -> t(0.5, vocabList.size, H))
    tensors += ("embeddings.position_embeddings.weight" -> t(0.1, MaxPos, H))
    tensors += ("embeddings.token_type_embeddings.weight" -> t(0.1, 2, H))
    tensors += ("embeddings.LayerNorm.weight" -> ones(H))
    tensors += ("embeddings.LayerNorm.bias" -> zeros(H))
    (0 until Layers).foreach { i =>
      val p = s"encoder.layer.$i."
      Seq("attention.self.query", "attention.self.key", "attention.self.value",
        "attention.output.dense").foreach { nm =>
        tensors += (p + nm + ".weight" -> t(0.2, H, H))
        tensors += (p + nm + ".bias" -> t(0.05, H))
      }
      tensors += (p + "attention.output.LayerNorm.weight" -> ones(H))
      tensors += (p + "attention.output.LayerNorm.bias" -> zeros(H))
      tensors += (p + "intermediate.dense.weight" -> t(0.2, Inter, H))
      tensors += (p + "intermediate.dense.bias" -> t(0.05, Inter))
      tensors += (p + "output.dense.weight" -> t(0.2, H, Inter))
      tensors += (p + "output.dense.bias" -> t(0.05, H))
      tensors += (p + "output.LayerNorm.weight" -> ones(H))
      tensors += (p + "output.LayerNorm.bias" -> zeros(H))
    }
    Safetensors.write(dir.resolve("model.safetensors"), tensors.result())
    dir
  }

  private lazy val embedder = new BertEmbedder(modelDir.toString, "test-bert")

  // --- safetensors --------------------------------------------------------

  test("safetensors round-trip preserves shapes, values, and order-independence") {
    val dir = Files.createTempDirectory("graft-st")
    val a = Tensor(Array(2, 3), Array(1f, -2f, 3.5f, 0f, 1e-7f, -1e7f))
    val b = Tensor(Array(4), Array(0.1f, 0.2f, 0.3f, 0.4f))
    val p = dir.resolve("t.safetensors")
    Safetensors.write(p, Seq("mat" -> a, "vec" -> b), Map("format" -> "pt"))
    val back = Safetensors.read(p)
    assert(back.keySet == Set("mat", "vec"))
    assert(back("mat").shape.toSeq == Seq(2, 3))
    assert(back("mat").data.toSeq == a.data.toSeq)
    assert(back("vec").data.toSeq == b.data.toSeq)
  }

  /** Float → IEEE 754 half, the inverse [[Safetensors]] never needs:
    * truncating, tiny values flushed to signed zero. */
  private def floatToF16(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val exp = ((bits >>> 23) & 0xff) - 127 + 15
    val mant = (bits >>> 13) & 0x3ff
    if (exp <= 0) sign.toShort
    else if (exp >= 0x1f) (sign | 0x7c00).toShort
    else (sign | (exp << 10) | mant).toShort
  }

  test("f16 conversion: exact halves, rounding, specials") {
    import Safetensors.f16ToFloat
    for (v <- Seq(0f, 1f, -1f, 0.5f, 2.5f, -65504f, 65504f))
      assert(f16ToFloat(floatToF16(v)) === v)
    // subnormal half: 2^-24 is the smallest positive f16
    assert(f16ToFloat(1.toShort) === math.pow(2, -24).toFloat)
    assert(f16ToFloat(floatToF16(Float.PositiveInfinity)).isPosInfinity)
  }

  test("unsupported dtype and truncated files fail loudly") {
    val dir = Files.createTempDirectory("graft-st-bad")
    // hand-build a header claiming dtype U8
    val hdr = """{"x":{"dtype":"U8","shape":[2],"data_offsets":[0,2]}}"""
      .getBytes(StandardCharsets.UTF_8)
    val buf = java.nio.ByteBuffer.allocate(8 + hdr.length + 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putLong(hdr.length.toLong).put(hdr).put(Array[Byte](1, 2))
    val p = dir.resolve("bad.safetensors")
    Files.write(p, buf.array())
    val e = intercept[IllegalArgumentException](Safetensors.read(p))
    assert(e.getMessage.contains("U8"))
    Files.write(p, Array[Byte](1, 2, 3)) // shorter than the length prefix
    intercept[IllegalArgumentException](Safetensors.read(p))
  }

  // --- WordPiece ----------------------------------------------------------

  private lazy val wp = WordPiece.fromTokenizerJson(modelDir.resolve("tokenizer.json"))
  private def id(tok: String): Int = vocab(tok)

  test("wordpiece: greedy longest-match subwords (BERT paper example shape)") {
    assert(wp.tokenize("unaffable").toSeq ==
      Seq(id("un"), id("##aff"), id("##able")))
  }

  test("wordpiece: unmatchable remainder voids the whole word to [UNK]") {
    // 'zzz' has no piece at all; 'catzz' matches 'cat' then dead-ends
    assert(wp.tokenize("zzz").toSeq == Seq(wp.unkId))
    assert(wp.tokenize("catzz").toSeq == Seq(wp.unkId))
  }

  test("wordpiece: lowercase + accent strip + punctuation split") {
    assert(wp.tokenize("Café!").toSeq == Seq(id("cafe"), id("!")))
    assert(wp.tokenize("The cat, sat").toSeq ==
      Seq(id("the"), id("cat"), id(","), id("sat")))
  }

  test("wordpiece: encode wraps with [CLS]/[SEP] and truncates to maxLen") {
    val e = wp.encode("the cat sat", 16)
    assert(e.head == wp.clsId && e.last == wp.sepId)
    assert(e.toSeq == Seq(wp.clsId, id("the"), id("cat"), id("sat"), wp.sepId))
    val long = wp.encode("the cat sat on mat the cat sat on mat", 6)
    assert(long.length == 6 && long.head == wp.clsId && long.last == wp.sepId)
  }

  test("wordpiece: vocab.txt loader matches tokenizer.json behavior") {
    val p = Files.createTempDirectory("graft-wp").resolve("vocab.txt")
    Files.writeString(p, vocabList.mkString("\n"))
    val txt = WordPiece.fromVocabTxt(p)
    assert(txt.tokenize("unaffable").toSeq == wp.tokenize("unaffable").toSeq)
    assert(txt.size == vocabList.size)
  }

  // --- numeric kernels vs hand-computed values ----------------------------

  test("dense: y = xW^T + b on a hand-computed 2x3·(2 out) case") {
    // x = [1 2 3], W = [[1 0 1],[2 1 0]] (out,in), b = [0.5, -1]
    val y = BertMath.dense(Array(1f, 2f, 3f), 1, 3,
      Array(1f, 0f, 1f, 2f, 1f, 0f), Array(0.5f, -1f), 2)
    assert(y.toSeq == Seq(4.5f, 3f)) // 1+3+0.5 ; 2+2-1
  }

  test("layerNorm matches the closed form on [1,2,3,4]") {
    val x = Array(1f, 2f, 3f, 4f)
    BertMath.layerNormInPlace(x, 0, 4, Array.fill(4)(1f), new Array[Float](4), 0.0)
    // mean 2.5, population var 1.25 → (x-2.5)/sqrt(1.25)
    val exp = Seq(-1.3416408f, -0.4472136f, 0.4472136f, 1.3416408f)
    x.toSeq.zip(exp).foreach { case (a, b) => assert(math.abs(a - b) < 1e-5f) }
  }

  test("softmax: sums to 1, matches hand-computed two-point case") {
    val x = Array(0f, math.log(3).toFloat)
    BertMath.softmaxInPlace(x, 2)
    assert(math.abs(x(0) - 0.25f) < 1e-6f && math.abs(x(1) - 0.75f) < 1e-6f)
  }

  test("erf/GELU: published values") {
    assert(math.abs(BertMath.erf(0.0)) < 1.5e-7) // A&S 7.1.26 error bound
    assert(math.abs(BertMath.erf(1.0) - 0.8427008) < 1e-6)
    assert(math.abs(BertMath.erf(-1.0) + 0.8427008) < 1e-6)
    val g = Array(1f)
    BertMath.activateInPlace(g, "gelu")
    assert(math.abs(g(0) - 0.8413447f) < 1e-5f) // x·Φ(x) at x=1
    val r = Array(-2f, 3f)
    BertMath.activateInPlace(r, "relu")
    assert(r.toSeq == Seq(0f, 3f))
    intercept[IllegalArgumentException](BertMath.activateInPlace(Array(1f), "swish"))
  }

  test("masked mean pool ignores pad positions; all-pad row yields zeros") {
    // hidden (1 batch, 3 tokens, 2 dims): [1,2] [3,4] [100,100-pad]
    val hidden = Array(1f, 2f, 3f, 4f, 100f, 100f)
    val pooled = BertMath.maskedMeanPool(hidden, Array(Array(1f, 1f, 0f)), 2)
    assert(pooled(0).toSeq == Seq(2f, 3f))
    val allPad = BertMath.maskedMeanPool(hidden, Array(Array(0f, 0f, 0f)), 2)
    assert(allPad(0).toSeq == Seq(0f, 0f))
  }

  // --- transformer-level invariants on the fixture checkpoint -------------

  test("embedder: dimensions from config, deterministic, unit-norm output") {
    assert(embedder.dimensions == H)
    val Seq(a) = embedder.embed(Seq("the cat sat on mat"))
    val Seq(b) = embedder.embed(Seq("the cat sat on mat"))
    assert(a.toSeq == b.toSeq)
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("embedder: padding and batch-order invariance") {
    // The same text must embed identically alone (no padding) and inside
    // a batch padded to a longer neighbor — pad tokens are masked out of
    // both attention and pooling.
    val alone = embedder.embed(Seq("the cat")).head
    val batched = embedder.embed(Seq("the cat", "the dog runs fast on the big mat")).head
    alone.zip(batched).foreach { case (x, y) => assert(math.abs(x - y) < 1e-4f) }
    val reversed = embedder.embed(Seq("the dog runs fast on the big mat", "the cat"))(1)
    alone.zip(reversed).foreach { case (x, y) => assert(math.abs(x - y) < 1e-4f) }
  }

  test("embedder: distinct texts produce distinct directions; empty text survives") {
    val Seq(a, b) = embedder.embed(Seq("the cat sat", "dog runs fast"))
    val cos = a.zip(b).map { case (x, y) => x * y }.sum
    assert(cos < 0.999f)
    val empty = embedder.embed(Seq("")).head // [CLS] [SEP] only
    assert(empty.length == H && empty.exists(_ != 0f))
  }

  test("embedder: normalize=false skips L2; missing tensors fail loudly") {
    val raw = new BertEmbedder(modelDir.toString, "raw", normalize = false)
    val v = raw.embed(Seq("the cat sat on mat")).head
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) > 1e-3) // vanishingly unlikely to be unit
    val dir = Files.createTempDirectory("graft-bert-broken")
    Files.copy(modelDir.resolve("config.json"), dir.resolve("config.json"))
    Files.copy(modelDir.resolve("tokenizer.json"), dir.resolve("tokenizer.json"))
    Safetensors.write(dir.resolve("model.safetensors"),
      Seq("embeddings.word_embeddings.weight" ->
        Tensor(Array(vocabList.size, H), new Array[Float](vocabList.size * H))))
    val e = intercept[IllegalArgumentException](
      new BertEmbedder(dir.toString).embed(Seq("the cat")))
    assert(e.getMessage.contains("missing tensor"))
  }

  test("embedder: bert.-prefixed checkpoints resolve the same tensors") {
    val dir = Files.createTempDirectory("graft-bert-prefixed")
    Files.copy(modelDir.resolve("config.json"), dir.resolve("config.json"))
    Files.copy(modelDir.resolve("tokenizer.json"), dir.resolve("tokenizer.json"))
    val renamed = Safetensors.read(modelDir.resolve("model.safetensors"))
      .toSeq.map { case (k, v) => s"bert.$k" -> v }
    Safetensors.write(dir.resolve("model.safetensors"), renamed)
    val pre = new BertEmbedder(dir.toString, "test-bert")
    val a = embedder.embed(Seq("the cat sat")).head
    val b = pre.embed(Seq("the cat sat")).head
    assert(a.toSeq == b.toSeq)
  }

  test("normalizeFor mirrors the reference's name heuristic") {
    assert(BertEmbedder.normalizeFor("sentence-transformers/all-MiniLM-L6-v2"))
    assert(BertEmbedder.normalizeFor("BAAI/bge-small-en-v1.5"))
    assert(BertEmbedder.normalizeFor("intfloat/e5-base-v2"))
    assert(!BertEmbedder.normalizeFor("plain-bert-base"))
  }

  // --- end-to-end through the provider trait ------------------------------

  test("build → search through BertEmbedder matches in-process query embedding") {
    import spark.implicits._
    val docs = Seq(
      ("a.txt", "the cat sat on the mat"),
      ("b.txt", "the dog runs fast"),
      ("c.txt", "unaffable cafe cat")).toDF("source", "text")
    val dir = Files.createTempDirectory("graft-bert-idx").toString
    val meta = Index.build(docs, dir, embedder, strategy = "simple")
    assert(meta.dimensions == H)
    // query = exact text of a.txt → identical token ids → cosine 1 with
    // its own passage regardless of what the seeded weights encode
    val hits = Index.search(spark, dir, "the cat sat on the mat", embedder, topK = 2).collect()
    assert(hits.length == 2)
    assert(hits.head.getAs[String]("text") == "the cat sat on the mat")
  }

  private implicit class FloatOps(x: Float) {
    def ===(y: Float): Boolean = { assert(x == y); true }
  }
}
