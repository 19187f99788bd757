package graft.embedding

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import graft.util.Json

/** BERT WordPiece tokenizer (the JVM counterpart of the `tokenizers`
  * crate the reference loads for its local provider,
  * `src/embedding/candle.rs:66-68`): basic tokenization (clean +
  * optional lowercase/strip-accents + CJK isolation + punctuation
  * split) followed by greedy longest-match-first subword segmentation
  * against the vocab, `##` marking word-internal pieces (Wu et al. 2016;
  * Devlin et al. 2018 §4.1).
  *
  * Loads either a HuggingFace `tokenizer.json` (the `model.vocab` /
  * `normalizer` subset that BERT-family checkpoints use) or a plain
  * `vocab.txt` (one token per line, id = line number).
  */
final class WordPiece(vocab: Map[String, Int], val lowercase: Boolean,
                      stripAccents: Boolean, unkToken: String = "[UNK]",
                      subwordPrefix: String = "##",
                      maxInputCharsPerWord: Int = 100) extends Serializable {

  val unkId: Int = vocab.getOrElse(unkToken,
    throw new IllegalArgumentException(s"vocab has no unk token '$unkToken'"))
  val clsId: Int = vocab.getOrElse("[CLS]", -1)
  val sepId: Int = vocab.getOrElse("[SEP]", -1)
  val padId: Int = vocab.getOrElse("[PAD]", 0)
  def size: Int = vocab.size

  /** `[CLS] pieces... [SEP]`, truncated so the result fits `maxLen`
    * (matching the crate's truncation-before-specials behavior for
    * single sequences). */
  def encode(text: String, maxLen: Int): Array[Int] = {
    require(clsId >= 0 && sepId >= 0, "vocab needs [CLS] and [SEP] for encode()")
    require(maxLen >= 2, s"maxLen $maxLen cannot fit [CLS]+[SEP]")
    val pieces = tokenize(text)
    val body = math.min(pieces.length, maxLen - 2)
    val out = new Array[Int](body + 2)
    out(0) = clsId
    var i = 0
    while (i < body) { out(i + 1) = pieces(i); i += 1 }
    out(body + 1) = sepId
    out
  }

  /** Subword ids without special tokens. */
  def tokenize(text: String): Array[Int] = {
    val ids = new scala.collection.mutable.ArrayBuffer[Int]
    basicTokens(text).foreach { word =>
      if (word.length > maxInputCharsPerWord) ids += unkId
      else {
        // greedy longest-match-first; any unmatchable remainder voids the
        // whole word to [UNK] (BERT reference behavior, not partial output)
        val pieceIds = new scala.collection.mutable.ArrayBuffer[Int]
        var start = 0
        var bad = false
        while (start < word.length && !bad) {
          var end = word.length
          var found = -1
          while (end > start && found < 0) {
            val piece = (if (start > 0) subwordPrefix else "") + word.substring(start, end)
            vocab.get(piece) match {
              case Some(id) => found = id
              case None => end -= 1
            }
          }
          if (found < 0) bad = true
          else { pieceIds += found; start = end }
        }
        if (bad) ids += unkId else ids ++= pieceIds
      }
    }
    ids.toArray
  }

  /** Clean + split: control chars dropped, whitespace collapsed, CJK
    * ideographs isolated as single-char words, punctuation split into
    * standalone tokens, optional lowercase + combining-mark strip. */
  private[embedding] def basicTokens(text: String): Seq[String] = {
    val cleaned = new StringBuilder
    text.foreach { c =>
      if (c == 0 || c == 0xfffd.toChar || (Character.isISOControl(c) && c != '\t' && c != '\n' && c != '\r')) ()
      else if (Character.isWhitespace(c)) cleaned += ' '
      else if (isCjk(c)) { cleaned += ' '; cleaned += c; cleaned += ' ' }
      else cleaned += c
    }
    val normed =
      if (!lowercase && !stripAccents) cleaned.result()
      else {
        // Locale.ROOT: a tr_TR default locale would fold I → dotless ı,
        // silently changing token ids between hosts
        val lowered =
          if (lowercase) cleaned.result().toLowerCase(java.util.Locale.ROOT)
          else cleaned.result()
        if (stripAccents || lowercase) { // BERT strips accents whenever lowercasing
          val nfd = java.text.Normalizer.normalize(lowered, java.text.Normalizer.Form.NFD)
          nfd.filterNot(c => Character.getType(c) == Character.NON_SPACING_MARK)
        } else lowered
      }
    normed.split(' ').iterator.filter(_.nonEmpty).flatMap(splitPunct).toSeq
  }

  private def splitPunct(word: String): Seq[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String]
    val cur = new StringBuilder
    word.foreach { c =>
      if (isPunct(c)) {
        if (cur.nonEmpty) { out += cur.result(); cur.clear() }
        out += c.toString
      } else cur += c
    }
    if (cur.nonEmpty) out += cur.result()
    out.toSeq
  }

  /** BERT's punctuation class: Unicode P* plus the ASCII symbol ranges
    * (treats `$`, `+`, `` ` ``... as punctuation). */
  private def isPunct(c: Char): Boolean = {
    val cp = c.toInt
    (cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
      (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126) || {
      val t = Character.getType(c)
      t == Character.CONNECTOR_PUNCTUATION || t == Character.DASH_PUNCTUATION ||
        t == Character.START_PUNCTUATION || t == Character.END_PUNCTUATION ||
        t == Character.INITIAL_QUOTE_PUNCTUATION || t == Character.FINAL_QUOTE_PUNCTUATION ||
        t == Character.OTHER_PUNCTUATION
    }
  }

  private def isCjk(c: Char): Boolean = {
    val cp = c.toInt
    (cp >= 0x4e00 && cp <= 0x9fff) || (cp >= 0x3400 && cp <= 0x4dbf) ||
      (cp >= 0xf900 && cp <= 0xfaff)
  }
}

object WordPiece {

  /** HuggingFace `tokenizer.json`: `model.vocab` (token → id),
    * `model.unk_token`, `model.continuing_subword_prefix`,
    * `normalizer.{lowercase, strip_accents}` (BertNormalizer). Only the
    * WordPiece model type is supported — BPE/Unigram tokenizer.json
    * files fail loudly. */
  def fromTokenizerJson(path: Path): WordPiece = {
    val root = Json.parseObject(Files.readString(path, StandardCharsets.UTF_8))
    val model = root.get("model").map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(throw new IllegalArgumentException(s"$path: no 'model' section"))
    model.get("type").foreach { t =>
      require(t == "WordPiece", s"$path: unsupported tokenizer model type '$t'")
    }
    val vocab = model("vocab").asInstanceOf[Map[String, Any]]
      .map { case (tok, id) => tok -> id.asInstanceOf[Long].toInt }
    val unk = model.get("unk_token").map(_.asInstanceOf[String]).getOrElse("[UNK]")
    val prefix = model.get("continuing_subword_prefix")
      .map(_.asInstanceOf[String]).getOrElse("##")
    val maxChars = model.get("max_input_chars_per_word")
      .map(_.asInstanceOf[Long].toInt).getOrElse(100)
    val norm = root.get("normalizer").collect { case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]]
    }.getOrElse(Map.empty[String, Any])
    val lower = norm.get("lowercase").forall(_ == true) // BertNormalizer default: true
    val strip = norm.get("strip_accents") match {
      case Some(b: Boolean) => b
      case _ => lower // HF: null strip_accents follows the lowercase flag
    }
    new WordPiece(vocab, lower, strip, unk, prefix, maxChars)
  }

  /** Plain `vocab.txt` (one token per line, id = line number) — the
    * pre-fast-tokenizer distribution format many BERT checkpoints ship. */
  def fromVocabTxt(path: Path, lowercase: Boolean = true): WordPiece = {
    val vocab = scala.jdk.CollectionConverters.ListHasAsScala(
      Files.readAllLines(path, StandardCharsets.UTF_8)).asScala
      .zipWithIndex.map { case (tok, i) => tok.trim -> i }
      .filter(_._1.nonEmpty).toMap
    new WordPiece(vocab, lowercase, stripAccents = lowercase)
  }
}
