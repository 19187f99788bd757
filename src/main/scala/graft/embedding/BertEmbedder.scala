package graft.embedding

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.util.Json

/** BERT architecture hyper-parameters from a checkpoint's `config.json`
  * (same file the reference deserializes into candle's `BertConfig`,
  * `src/embedding/candle.rs:60-63`). */
final case class BertConfig(vocabSize: Int, hiddenSize: Int, numHiddenLayers: Int,
                            numAttentionHeads: Int, intermediateSize: Int,
                            maxPositionEmbeddings: Int, typeVocabSize: Int,
                            layerNormEps: Double, hiddenAct: String) {
  require(hiddenSize % numAttentionHeads == 0,
    s"hidden_size $hiddenSize not divisible by num_attention_heads $numAttentionHeads")
  def headDim: Int = hiddenSize / numAttentionHeads
}

object BertConfig {
  def fromJson(path: Path): BertConfig = {
    val m = Json.parseObject(Files.readString(path, StandardCharsets.UTF_8))
    def int(k: String, dflt: => Int): Int = m.get(k) match {
      case Some(v: java.lang.Long) => v.toInt
      case Some(v: java.lang.Double) => v.toInt
      case _ => dflt
    }
    BertConfig(
      vocabSize = int("vocab_size", sys.error(s"$path: no vocab_size")),
      hiddenSize = int("hidden_size", 768),
      numHiddenLayers = int("num_hidden_layers", 12),
      numAttentionHeads = int("num_attention_heads", 12),
      intermediateSize = int("intermediate_size", 3072),
      maxPositionEmbeddings = int("max_position_embeddings", 512),
      typeVocabSize = int("type_vocab_size", 2),
      layerNormEps = m.get("layer_norm_eps") match {
        case Some(v: java.lang.Double) => v.doubleValue
        case Some(v: java.lang.Long) => v.doubleValue
        case _ => 1e-12
      },
      hiddenAct = m.get("hidden_act").map(_.asInstanceOf[String]).getOrElse("gelu"))
  }
}

/** Local (in-process) embedding inference — the JVM counterpart of the
  * reference's Candle provider (`src/embedding/candle.rs:119-189`):
  * WordPiece tokenize + pad to the batch max, a full BERT encoder
  * forward (embedding sum + LayerNorm, N pre-LN-free transformer layers
  * with multi-head self-attention and GELU FFN), attention-masked mean
  * pooling over the sequence (candle.rs:191-216), and optional L2
  * normalization (candle.rs:218-225). Dependency-free: weights come
  * from `model.safetensors` via [[Safetensors]], the tokenizer from
  * `tokenizer.json` (or `vocab.txt`) via [[WordPiece]], hyper-parameters
  * from `config.json`.
  *
  * Scale posture: the provider ships to executors as a *path* — config
  * is read at construction (driver, bytes), but weights and tokenizer
  * load lazily per-JVM on first `embed`, so a 100 MB checkpoint is read
  * from shared storage by each executor instead of being serialized into
  * every task closure. Inference is pure f32 loops shaped for the JIT
  * (contiguous-array dot products); throughput scales with partitions,
  * the same way the reference's CPU path scales with processes.
  */
final class BertEmbedder(modelDir: String, val modelName: String = "local-bert",
                         normalize: Boolean = true, maxSeqLen: Int = 0)
  extends EmbeddingProvider {

  /** Reference batch size for local inference (candle.rs:110). */
  override val batchSize: Int = 32

  private val config: BertConfig =
    BertConfig.fromJson(Paths.get(modelDir, "config.json"))

  override val dimensions: Int = config.hiddenSize

  private val seqLimit: Int = {
    val cap = math.min(config.maxPositionEmbeddings, 512)
    if (maxSeqLen > 0) math.min(maxSeqLen, cap) else cap
  }

  @transient private lazy val tokenizer: WordPiece = {
    val json = Paths.get(modelDir, "tokenizer.json")
    if (Files.exists(json)) WordPiece.fromTokenizerJson(json)
    else WordPiece.fromVocabTxt(Paths.get(modelDir, "vocab.txt"))
  }

  @transient private lazy val model: BertWeights =
    BertWeights.load(Paths.get(modelDir, "model.safetensors"), config)

  override def embed(texts: Seq[String]): Seq[Array[Float]] =
    if (texts.isEmpty) Seq.empty
    else texts.grouped(batchSize).flatMap(embedBatch).toSeq

  private def embedBatch(batch: Seq[String]): Seq[Array[Float]] = {
    val encoded = batch.map(t => tokenizer.encode(t, seqLimit)).toArray
    val maxLen = encoded.map(_.length).max
    val b = encoded.length
    val ids = Array.ofDim[Int](b, maxLen) // pad id 0 (reference pads ids/mask/types with 0)
    val mask = Array.ofDim[Float](b, maxLen)
    var i = 0
    while (i < b) {
      val e = encoded(i)
      var j = 0
      while (j < e.length) { ids(i)(j) = e(j); mask(i)(j) = 1f; j += 1 }
      i += 1
    }
    val hidden = model.forward(ids, mask) // (b, maxLen, H) flattened
    val pooled = BertMath.maskedMeanPool(hidden, mask, config.hiddenSize)
    if (normalize) pooled.foreach(BertMath.l2InPlace)
    pooled.toSeq
  }
}

object BertEmbedder {
  /** The reference's name-based normalization heuristic
    * (candle.rs:77-80): sentence-transformers / bge / e5 checkpoints
    * are trained for cosine space. */
  def normalizeFor(modelName: String): Boolean =
    modelName.contains("sentence-transformers") || modelName.contains("bge") ||
      modelName.contains("e5")
}

/** The checkpoint's weight matrices, resolved from HF BERT tensor names
  * (with or without the `bert.` prefix) into flat row-major arrays.
  * Linear weights keep PyTorch's `[out, in]` layout so a dense layer is
  * row·row dot products over contiguous memory. */
private[embedding] final class BertWeights(cfg: BertConfig,
    wordEmb: Array[Float], posEmb: Array[Float], typeEmb: Array[Float],
    embLnW: Array[Float], embLnB: Array[Float], layers: Array[BertLayer]) {

  /** Encoder forward: returns the final hidden states, shape
    * `(B, L, H)` flattened row-major — what candle's
    * `BertModel::forward` hands to mean pooling. */
  def forward(ids: Array[Array[Int]], mask: Array[Array[Float]]): Array[Float] = {
    val b = ids.length
    val l = ids(0).length
    val h = cfg.hiddenSize
    val hidden = new Array[Float](b * l * h)
    // embeddings: word + position + token_type(0) then LayerNorm
    var bi = 0
    while (bi < b) {
      var li = 0
      while (li < l) {
        val out = (bi * l + li) * h
        val w = ids(bi)(li) * h
        val p = li * h
        var k = 0
        while (k < h) {
          hidden(out + k) = wordEmb(w + k) + posEmb(p + k) + typeEmb(k)
          k += 1
        }
        BertMath.layerNormInPlace(hidden, out, h, embLnW, embLnB, cfg.layerNormEps)
        li += 1
      }
      bi += 1
    }
    // additive attention bias per (batch, key): 0 for real tokens, -1e9 pad
    val bias = Array.ofDim[Float](b, l)
    bi = 0
    while (bi < b) {
      var li = 0
      while (li < l) { bias(bi)(li) = if (mask(bi)(li) > 0f) 0f else -1e9f; li += 1 }
      bi += 1
    }
    var state = hidden
    layers.foreach { layer => state = layer.forward(state, b, l, bias) }
    state
  }
}

private[embedding] object BertWeights {
  import Safetensors.Tensor

  def load(path: Path, cfg: BertConfig): BertWeights = {
    val all = Safetensors.read(path)
    def get(name: String): Tensor =
      all.getOrElse(name, all.getOrElse("bert." + name,
        throw new IllegalArgumentException(s"checkpoint missing tensor '$name'")))
    def vec(name: String, n: Int): Array[Float] = {
      val t = get(name)
      require(t.data.length == n, s"tensor '$name': ${t.data.length} values, expected $n")
      t.data
    }
    def mat(name: String, rows: Int, cols: Int): Array[Float] =
      vec(name, rows * cols)

    val h = cfg.hiddenSize
    val layers = (0 until cfg.numHiddenLayers).map { i =>
      val p = s"encoder.layer.$i."
      new BertLayer(cfg,
        mat(p + "attention.self.query.weight", h, h), vec(p + "attention.self.query.bias", h),
        mat(p + "attention.self.key.weight", h, h), vec(p + "attention.self.key.bias", h),
        mat(p + "attention.self.value.weight", h, h), vec(p + "attention.self.value.bias", h),
        mat(p + "attention.output.dense.weight", h, h), vec(p + "attention.output.dense.bias", h),
        vec(p + "attention.output.LayerNorm.weight", h), vec(p + "attention.output.LayerNorm.bias", h),
        mat(p + "intermediate.dense.weight", cfg.intermediateSize, h),
        vec(p + "intermediate.dense.bias", cfg.intermediateSize),
        mat(p + "output.dense.weight", h, cfg.intermediateSize),
        vec(p + "output.dense.bias", h),
        vec(p + "output.LayerNorm.weight", h), vec(p + "output.LayerNorm.bias", h))
    }.toArray

    new BertWeights(cfg,
      mat("embeddings.word_embeddings.weight", cfg.vocabSize, h),
      mat("embeddings.position_embeddings.weight", cfg.maxPositionEmbeddings, h),
      mat("embeddings.token_type_embeddings.weight", cfg.typeVocabSize, h),
      vec("embeddings.LayerNorm.weight", h), vec("embeddings.LayerNorm.bias", h),
      layers)
  }
}

/** One transformer encoder layer: post-LN multi-head self-attention +
  * GELU FFN, residuals around both sublayers (Vaswani et al. 2017;
  * Devlin et al. 2018). */
private[embedding] final class BertLayer(cfg: BertConfig,
    wq: Array[Float], bq: Array[Float], wk: Array[Float], bk: Array[Float],
    wv: Array[Float], bv: Array[Float], wo: Array[Float], bo: Array[Float],
    attnLnW: Array[Float], attnLnB: Array[Float],
    wi: Array[Float], biasI: Array[Float], wo2: Array[Float], bo2: Array[Float],
    outLnW: Array[Float], outLnB: Array[Float]) {

  import BertMath._

  def forward(hidden: Array[Float], b: Int, l: Int, bias: Array[Array[Float]]): Array[Float] = {
    val h = cfg.hiddenSize
    val nh = cfg.numAttentionHeads
    val dh = cfg.headDim
    val scale = (1.0 / math.sqrt(dh)).toFloat

    val q = dense(hidden, b * l, h, wq, bq, h)
    val k = dense(hidden, b * l, h, wk, bk, h)
    val v = dense(hidden, b * l, h, wv, bv, h)

    val ctx = new Array[Float](b * l * h)
    val scores = new Array[Float](l)
    var bi = 0
    while (bi < b) {
      val base = bi * l
      var head = 0
      while (head < nh) {
        val off = head * dh
        var qi = 0
        while (qi < l) {
          val qRow = (base + qi) * h + off
          // scores over all keys for this (batch, head, query)
          var ki = 0
          while (ki < l) {
            val kRow = (base + ki) * h + off
            var s = 0f
            var d = 0
            while (d < dh) { s += q(qRow + d) * k(kRow + d); d += 1 }
            scores(ki) = s * scale + bias(bi)(ki)
            ki += 1
          }
          softmaxInPlace(scores, l)
          val cRow = (base + qi) * h + off
          ki = 0
          while (ki < l) {
            val w = scores(ki)
            if (w != 0f) {
              val vRow = (base + ki) * h + off
              var d = 0
              while (d < dh) { ctx(cRow + d) += w * v(vRow + d); d += 1 }
            }
            ki += 1
          }
          qi += 1
        }
        head += 1
      }
      bi += 1
    }

    val attnOut = dense(ctx, b * l, h, wo, bo, h)
    addInPlace(attnOut, hidden)
    var r = 0
    while (r < b * l) {
      layerNormInPlace(attnOut, r * h, h, attnLnW, attnLnB, cfg.layerNormEps)
      r += 1
    }

    val inter = dense(attnOut, b * l, h, wi, biasI, cfg.intermediateSize)
    activateInPlace(inter, cfg.hiddenAct)
    val ffnOut = dense(inter, b * l, cfg.intermediateSize, wo2, bo2, h)
    addInPlace(ffnOut, attnOut)
    r = 0
    while (r < b * l) {
      layerNormInPlace(ffnOut, r * h, h, outLnW, outLnB, cfg.layerNormEps)
      r += 1
    }
    ffnOut
  }
}

/** The numeric kernels, each a contiguous-array loop the JIT can
  * vectorize. Exposed `private[embedding]` so the spec pins their values
  * against hand-computed references. */
private[graft] object BertMath {

  /** `y = x W^T + b` over `rows` input rows; W is `[out, in]` row-major
    * (PyTorch Linear layout), so each output element is a dot of two
    * contiguous runs.
    *
    * Blocked over ROWS (8 at a time): one W row is loaded once per row
    * block instead of once per row — 8x less weight-matrix memory
    * traffic (the matrices are MBs, re-streamed per token in the naive
    * loop) — and the 8 accumulators are independent FP dependency
    * chains, so the core pipelines them instead of stalling on one
    * serial `s += x*w` chain (HotSpot cannot reorder or vectorize a
    * float reduction, which caps the naive loop at ~1 add per FP
    * latency). `Math.fma` (intrinsified to a hardware FMA) halves the
    * FP-op count on top. Each accumulator still sums over `i` in the
    * original sequential order; FMA skips the intermediate product
    * rounding, so values can differ from the naive loop in the last
    * ULP — deterministic for a given shape, and exact on the kernel
    * spec's integer case. Measured ~3x end-to-end on the MiniLM-L6
    * geometry (85 -> 250 tokens/s/thread; BASELINE.md). */
  def dense(x: Array[Float], rows: Int, in: Int,
            w: Array[Float], bias: Array[Float], out: Int): Array[Float] = {
    val y = new Array[Float](rows * out)
    val RB = 8
    var r0 = 0
    while (r0 + RB <= rows) {
      val x0 = r0 * in; val x1 = x0 + in; val x2 = x1 + in; val x3 = x2 + in
      val x4 = x3 + in; val x5 = x4 + in; val x6 = x5 + in; val x7 = x6 + in
      var o = 0
      while (o < out) {
        val wOff = o * in
        var s0 = 0f; var s1 = 0f; var s2 = 0f; var s3 = 0f
        var s4 = 0f; var s5 = 0f; var s6 = 0f; var s7 = 0f
        var i = 0
        while (i < in) {
          val wi = w(wOff + i)
          s0 = Math.fma(x(x0 + i), wi, s0); s1 = Math.fma(x(x1 + i), wi, s1)
          s2 = Math.fma(x(x2 + i), wi, s2); s3 = Math.fma(x(x3 + i), wi, s3)
          s4 = Math.fma(x(x4 + i), wi, s4); s5 = Math.fma(x(x5 + i), wi, s5)
          s6 = Math.fma(x(x6 + i), wi, s6); s7 = Math.fma(x(x7 + i), wi, s7)
          i += 1
        }
        val b = bias(o)
        y(r0 * out + o) = s0 + b; y((r0 + 1) * out + o) = s1 + b
        y((r0 + 2) * out + o) = s2 + b; y((r0 + 3) * out + o) = s3 + b
        y((r0 + 4) * out + o) = s4 + b; y((r0 + 5) * out + o) = s5 + b
        y((r0 + 6) * out + o) = s6 + b; y((r0 + 7) * out + o) = s7 + b
        o += 1
      }
      r0 += RB
    }
    // remainder rows: the original scalar loop
    var r = r0
    while (r < rows) {
      val xOff = r * in
      val yOff = r * out
      var o = 0
      while (o < out) {
        val wOff = o * in
        var s = 0f
        var i = 0
        while (i < in) { s += x(xOff + i) * w(wOff + i); i += 1 }
        y(yOff + o) = s + bias(o)
        o += 1
      }
      r += 1
    }
    y
  }

  def addInPlace(a: Array[Float], b: Array[Float]): Unit = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
  }

  def layerNormInPlace(x: Array[Float], off: Int, n: Int,
                       gamma: Array[Float], beta: Array[Float], eps: Double): Unit = {
    var mean = 0.0
    var i = 0
    while (i < n) { mean += x(off + i); i += 1 }
    mean /= n
    var varSum = 0.0
    i = 0
    while (i < n) { val d = x(off + i) - mean; varSum += d * d; i += 1 }
    val inv = 1.0 / math.sqrt(varSum / n + eps)
    i = 0
    while (i < n) {
      x(off + i) = (((x(off + i) - mean) * inv) * gamma(i) + beta(i)).toFloat
      i += 1
    }
  }

  def softmaxInPlace(x: Array[Float], n: Int): Unit = {
    var max = Float.NegativeInfinity
    var i = 0
    while (i < n) { if (x(i) > max) max = x(i); i += 1 }
    var sum = 0.0
    i = 0
    while (i < n) { val e = math.exp((x(i) - max).toDouble); x(i) = e.toFloat; sum += e; i += 1 }
    val inv = (1.0 / sum).toFloat
    i = 0
    while (i < n) { x(i) *= inv; i += 1 }
  }

  def activateInPlace(x: Array[Float], act: String): Unit = act match {
    case "gelu" => // exact (erf) GELU — HF BERT default
      var i = 0
      while (i < x.length) { x(i) = (x(i) * 0.5 * (1.0 + erf(x(i) / 1.4142135623730951))).toFloat; i += 1 }
    case "gelu_new" | "gelu_pytorch_tanh" => // tanh approximation (GPT-2 style)
      var i = 0
      while (i < x.length) {
        val v = x(i).toDouble
        x(i) = (0.5 * v * (1.0 + math.tanh(0.7978845608028654 * (v + 0.044715 * v * v * v)))).toFloat
        i += 1
      }
    case "relu" =>
      var i = 0
      while (i < x.length) { if (x(i) < 0f) x(i) = 0f; i += 1 }
    case other =>
      throw new IllegalArgumentException(s"unsupported hidden_act '$other'")
  }

  /** Abramowitz & Stegun 7.1.26 rational approximation (|err| ≤ 1.5e-7,
    * below f32 resolution for GELU). */
  def erf(x: Double): Double = {
    val sign = if (x < 0) -1.0 else 1.0
    val ax = math.abs(x)
    val t = 1.0 / (1.0 + 0.3275911 * ax)
    val y = 1.0 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t
      - 0.284496736) * t + 0.254829592) * t * math.exp(-ax * ax)
    sign * y
  }

  /** Sum of non-pad token vectors / count (candle.rs:191-216; the count
    * clamp mirrors its 1e-9 guard for all-pad rows). */
  def maskedMeanPool(hidden: Array[Float], mask: Array[Array[Float]], h: Int): Array[Array[Float]] = {
    val b = mask.length
    val l = mask(0).length
    val out = Array.ofDim[Float](b, h)
    var bi = 0
    while (bi < b) {
      var cnt = 0.0
      var li = 0
      while (li < l) {
        if (mask(bi)(li) > 0f) {
          cnt += 1
          val off = (bi * l + li) * h
          var k = 0
          while (k < h) { out(bi)(k) += hidden(off + k); k += 1 }
        }
        li += 1
      }
      val inv = (1.0 / math.max(cnt, 1e-9)).toFloat
      var k = 0
      while (k < h) { out(bi)(k) *= inv; k += 1 }
      bi += 1
    }
    out
  }

  def l2InPlace(v: Array[Float]): Unit = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    val inv = (1.0 / math.max(math.sqrt(s), 1e-12)).toFloat
    i = 0
    while (i < v.length) { v(i) *= inv; i += 1 }
  }
}
