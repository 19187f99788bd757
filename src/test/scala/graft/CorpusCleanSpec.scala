package graft

import org.apache.spark.sql.functions._

import graft.operators.CorpusClean

/** Corpus-cleaning operators: Gopher quality rules, repeated-n-gram
  * boilerplate coverage, PII redaction. Fixture docs are crafted to hit
  * every rule boundary the synthetic corpus cannot (short docs, symbol
  * spam, non-alpha words, shared boilerplate passages, embedded PII). */
class CorpusCleanSpec extends SparkSpec {
  import spark.implicits._

  private val prose = // exactly 50 whitespace words
    "the quick brown fox jumps over the lazy dog and then it runs far " +
      "away into the deep dark woods where all of the other animals live " +
      "and play games all day long with their many good friends there too " +
      "we will come back again every single warm sunny morning"

  test("gopherFlags: rule boundaries") {
    val docs = Seq(
      (1L, prose),                               // passes everything (50 words)
      (2L, "too short to pass"),                 // fails word count + stops
      (3L, ("#### " * 30) + prose),              // symbol spam fails pass_symbol
      (4L, Seq.fill(60)("12345").mkString(" ")), // no alpha words, no stops
      (5L, Seq.fill(60)("transcendentalism").mkString(" ")) // mean word len > 10
    ).toDF("doc_id", "text")

    val out = CorpusClean.gopherFlags(docs, "doc_id", "text", minWords = 50)
      .orderBy("doc_id").collect()

    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("passes"))
    assert(!byId(2L).getAs[Boolean]("pass_word_count"))
    assert(!byId(3L).getAs[Boolean]("pass_symbol"))
    assert(byId(3L).getAs[Boolean]("pass_word_count")) // symbol words still count
    assert(!byId(4L).getAs[Boolean]("pass_alpha"))
    assert(!byId(4L).getAs[Boolean]("pass_stops"))
    assert(!byId(5L).getAs[Boolean]("pass_word_len"))
    assert(byId(1L).getAs[Long]("n_words") === 50L)
  }

  test("gopherFlags: stats are exact on a hand-computed doc") {
    val docs = Seq((1L, "aa bb cc 123 ##")).toDF("doc_id", "text")
    val r = CorpusClean.gopherFlags(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_words") === 5L)
    // (2+2+2+3+2)/5 = 2.2
    assert(r.getAs[Double]("mean_word_len") === 2.2)
    // 3 of 5 words contain [a-zA-Z]
    assert(r.getAs[Double]("alpha_word_ratio") === 0.6)
    // two '#' chars / 5 words
    assert(r.getAs[Double]("symbol_ratio") === 0.4)
  }

  test("boilerplateCoverage: shared passage raises coverage; short docs are zero") {
    val boiler = "please subscribe to our newsletter for daily updates now" // 9 tokens
    val docs = Seq(
      (1L, s"unique alpha beta gamma delta epsilon zeta eta theta $boiler"),
      (2L, s"different iota kappa lambda mu nu xi omicron pi $boiler"),
      (3L, "totally unrelated words rho sigma tau upsilon phi chi psi omega"),
      (4L, "tiny doc") // < n tokens -> no grams
    ).toDF("doc_id", "text")

    val out = CorpusClean.boilerplateCoverage(docs, "doc_id", "text", n = 5, minDocs = 2)
      .orderBy("doc_id").collect()
    val cov = out.map(r => r.getLong(0) -> r.getAs[Double]("coverage")).toMap
    assert(cov(1L) > 0.0 && cov(1L) < 1.0)
    assert(cov(2L) > 0.0 && cov(2L) < 1.0)
    assert(cov(3L) === 0.0)
    assert(cov(4L) === 0.0)
    assert(out.filter(_.getLong(0) == 4L).head.getAs[Long]("n_grams") === 0L)
  }

  test("piiScrub: redacts emails, phones, IPv4 and counts each") {
    val df = Seq(
      (1L, "write bob.smith+x@corp.example.org or call 555-123-4567 ok"),
      (2L, "server at 192.168.0.1 and 10.20.30.40 no mail"),
      (3L, "clean text with nothing to hide"),
      // email scrubbed first: the host's dots never masquerade as an IP
      (4L, "a@b.co 1.2.3.4")
    ).toDF("id", "text")

    val out = CorpusClean.piiScrub(df, "text", keep = Seq("id"))
      .orderBy("id").collect()
    assert(out(0).getAs[Long]("n_emails") === 1L)
    assert(out(0).getAs[Long]("n_phones") === 1L)
    assert(out(0).getAs[String]("redacted") === "write [EMAIL] or call [PHONE] ok")
    assert(out(1).getAs[Long]("n_ips") === 2L)
    assert(out(1).getAs[String]("redacted") === "server at [IP] and [IP] no mail")
    assert(out(2).getAs[String]("redacted") === "clean text with nothing to hide")
    assert(out(3).getAs[Long]("n_emails") === 1L)
    assert(out(3).getAs[Long]("n_ips") === 1L)
    assert(out(3).getAs[String]("redacted") === "[EMAIL] [IP]")
  }

  test("decontaminate: flags corpus docs sharing an n-gram with the benchmark set") {
    val shared = "the capital of france is paris and everyone knows it"
    val corpus = Seq(
      (1L, s"training doc alpha beta gamma delta epsilon zeta $shared"),
      (2L, "clean doc with entirely original content about nothing shared here"),
      (3L, s"another leaky one $shared plus extra trailing words follow")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, s"benchmark question $shared answer choice")
    ).toDF("doc_id", "text")

    val out = CorpusClean.decontaminate(
        corpus, "doc_id", "text", bench, "doc_id", "text", n = 5)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 3L)) // doc 2 is clean
    // the shared sentence has 10 tokens -> 6 fully-inside 5-grams, all
    // present in both corpus docs and the benchmark doc
    assert(out.forall(_.getAs[Long]("n_overlap_grams") >= 6L))
  }

  test("repetitionFlags: duplicate lines and repeated n-grams are measured per doc") {
    val docs = Seq(
      // 4 lines, "same line" twice: dup_line_frac = 2/4,
      // dup_line_char_frac = 18/ (9+9+5+5) = 18/28
      (1L, "same line\nsame line\nother\nthing"),
      // "spam ham" repeated 6x: top 2-gram "ham spam" or "spam ham"
      // dominates; no newlines -> 1 line, no dup lines
      (2L, Seq.fill(6)("spam ham").mkString(" ")),
      // natural-ish prose: passes everything
      (3L, prose),
      (4L, "")).toDF("doc_id", "text")
    val out = CorpusClean.repetitionFlags(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap

    assert(byId(1L).getAs[Long]("n_lines") == 4L)
    assert(byId(1L).getAs[Double]("dup_line_frac") == 0.5)
    assert(byId(1L).getAs[Double]("dup_line_char_frac") ==
      BigDecimal(18.0 / 28.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(!byId(1L).getAs[Boolean]("pass_dup_line"))

    // doc 2: "spam ham spam ham ..." -> 2-grams: (spam ham) x6, (ham spam) x5
    assert(byId(2L).getAs[String]("top_2gram") == "spam ham")
    assert(byId(2L).getAs[Double]("top_2gram_char_frac") > 0.2)
    assert(!byId(2L).getAs[Boolean]("pass_top_2gram"))
    assert(byId(2L).getAs[Boolean]("pass_dup_line")) // single line, no dups

    assert(byId(3L).getAs[Boolean]("passes"))
    // empty doc: zero lines/grams, all ratios 0, passes
    assert(byId(4L).getAs[Long]("n_lines") == 0L)
    assert(byId(4L).getAs[Boolean]("passes"))
  }

  test("lmScore: hand-computed bigram model on a tiny corpus") {
    // corpus: "abab" -> ab,ba,ab ; "zq" -> zq ; "—" normalizes empty
    val docs = Seq((1L, "abab"), (2L, "zq"), (3L, "—")).toDF("doc_id", "text")
    val out = CorpusClean.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // counts: ab=2, ba=1, zq=1; ctx: a=2, b=1, z=1 (Laplace +1 / +37)
    val lpAb = math.log(3.0 / 39.0)
    val lpBa = math.log(2.0 / 38.0)
    val lpZq = math.log(2.0 / 38.0)
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.map(t => (t._1, t._2)) == Seq((1L, 3L), (2L, 1L))) // doc 3 absent
    assert(out(0)._3 == r6((2 * lpAb + lpBa) / 3.0))
    assert(out(1)._3 == r6(lpZq))
  }

  test("lmModel/lmScoreWith: self-application equals lmScore; unseen bigrams back off") {
    val docs = Seq((1L, "abab"), (2L, "zq")).toDF("doc_id", "text")
    val model = CorpusClean.lmModel(docs, "doc_id", "text")
    val direct = CorpusClean.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val via = CorpusClean.lmScoreWith(model, docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(direct == via)
    // backoff: "aq" = unseen bigram with seen context 'a' (ctx=2) ->
    // ln(1/39); "77" = unseen context entirely -> ln(1/37)
    val out = CorpusClean.lmScoreWith(model,
        Seq((8L, "aq"), (9L, "77")).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect()
    def r6(d: Double) = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0) == ((8L, 1L, r6(math.log(1.0 / 39.0)))))
    assert(out(1) == ((9L, 1L, r6(math.log(1.0 / 37.0)))))
  }

  test("lm scoring works on a stream (batch-trained model, per-micro-batch application)") {
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.Trigger
    val trainDocs = (1L to 9L).map(i => (i, prose)).toDF("doc_id", "text")
    val model = CorpusClean.lmModel(trainDocs, "doc_id", "text")
    val root = Files.createTempDirectory("graft-slm").toString
    Seq((100L, prose), (101L, "qzxjv qkw zzqj qxv wqz jqqx"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$root/in/f1")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/in/f1").schema)
      .parquet(s"$root/in/*")
    @volatile var scores = Map.empty[Long, Double]
    val q = stream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        scores ++= CorpusClean.lmScoreWith(model, batch, "doc_id", "text")
          .select("doc_id", "avg_logp").as[(Long, Double)].collect().toMap
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(scores.keySet == Set(100L, 101L))
    assert(scores(100L) > scores(101L), s"prose should outscore gibberish: $scores")
  }

  test("lmScore: gibberish lands below prose under a prose-trained model") {
    val docs = (1L to 9L).map(i => (i, prose)).toDF("doc_id", "text")
      .union(Seq((10L, "qzxjv qkw zzqj qxv wqz jqqx zvq")).toDF("doc_id", "text"))
    val scores = CorpusClean.lmScore(docs, "doc_id", "text")
      .select("doc_id", "avg_logp").as[(Long, Double)].collect().toMap
    assert(scores(10L) < scores(1L) - 1.0,
      s"gibberish ${scores(10L)} should score well below prose ${scores(1L)}")
  }

  test("perplexityBuckets: per-language terciles, gibberish in tail, approx == exact here") {
    // 12 distinct-score docs per language: prose variants for en, token
    // scrambles for de — scores vary because bigram mixes differ
    val docs = (1L to 24L).map { i =>
      val lang = if (i <= 12) "en" else "de"
      val text = prose.split(" ").drop((i % 12).toInt).mkString(" ")
      (i, lang, text)
    }.toDF("doc_id", "lang", "text")
    val out = CorpusClean.perplexityBuckets(docs, "doc_id", "text", "lang")
      .as[(Long, String, Double, String)].collect().toSeq
    assert(out.size == 24)
    // terciles: each language splits 4/4/4 (12 docs, distinct scores)
    val perLangBucket = out.groupBy(r => (r._2, r._4)).view.mapValues(_.size).toMap
    for (lang <- Seq("en", "de"); b <- Seq("head", "middle", "tail"))
      assert(perLangBucket.getOrElse((lang, b), 0) == 4, s"$lang/$b: $perLangBucket")
    // bucket order tracks the score order within each language
    for (lang <- Seq("en", "de")) {
      val byBucket = out.filter(_._2 == lang).groupBy(_._4)
        .view.mapValues(_.map(_._3)).toMap
      assert(byBucket("head").min > byBucket("middle").max)
      assert(byBucket("middle").min > byBucket("tail").max)
    }
    // the sketch tier agrees exactly at this size (distinct values ≪
    // the sketch accuracy), so the 100 TB path is pinned to the oracle
    val approx = CorpusClean.perplexityBuckets(docs, "doc_id", "text",
        "lang", exact = false)
      .as[(Long, String, Double, String)].collect().toSet
    assert(approx == out.toSet)
    // a gibberish doc joins its language's tail
    val withGib = docs.union(
      Seq((99L, "en", "qzxjv qkw zzqj qxv wqz jqqx zvq")).toDF("doc_id", "lang", "text"))
    val gib = CorpusClean.perplexityBuckets(withGib, "doc_id", "text", "lang")
      .filter($"doc_id" === 99L).select("bucket").as[String].head()
    assert(gib == "tail")
  }

  test("cleanCorpus: composed gates, per-rule report, survivors PII-scrubbed") {
    // prose-dominant corpus (the LM is trained in-corpus), bigram-
    // diverse gibberish: an in-corpus model rates REPETITIVE gibberish
    // as likely, so the gibberish fixture must not repeat its bigrams
    val docs = Seq(
      (1L, prose + " mail me at a@b.com for more"),   // passes; email scrubbed
      (2L, "too short"),                              // fails gopher
      (3L, Seq.fill(40)("spam ham").mkString(" ")),   // fails repetition (top 2-gram)
      (4L, "qzxjv qkw zzqj qxv wqz jqqx zvq"),        // gibberish (also fails gopher)
      (5L, prose),
      (6L, prose)
    ).toDF("doc_id", "text")
    // without an LM floor: the rule gates alone
    val (kept0, _) = CorpusClean.cleanCorpus(docs, "doc_id", "text")
    val ids0 = kept0.select("doc_id").as[Long].collect().toSet
    assert(ids0.contains(1L) && !ids0.contains(2L) && !ids0.contains(3L))
    // with the LM floor between prose and gibberish scores
    val lm = CorpusClean.lmScore(docs, "doc_id", "text")
      .select("doc_id", "avg_logp").as[(Long, Double)].collect().toMap
    assert(lm(4L) < lm(1L))
    val floor = (lm(1L) + lm(4L)) / 2
    val (kept, report) = CorpusClean.cleanCorpus(docs, "doc_id", "text",
      minLmScore = Some(floor))
    val rows = kept.orderBy("doc_id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 5L, 6L))
    val text = rows.head.getAs[String]("text")
    assert(text.contains("[EMAIL]") && !text.contains("a@b.com"))
    val rep = report.as[(String, Long)].collect().toMap
    assert(rep("total") == 6L && rep("kept") == 3L)
    assert(rep("fail_gopher") >= 1L && rep("fail_repetition") >= 1L
      && rep("fail_lm") >= 1L)
  }

  test("cleanCorpus classifier gate routes by the trained NB prediction") {
    // second prose-shaped passage with a distinct vocabulary — passes
    // the gopher/repetition gates but belongs to the "ads" class
    val adProse =
      "buy our great new deal today and save big money on every single " +
      "offer we have in the store this week because prices are low and " +
      "the best value is waiting for you right now so come on down to " +
      "the shop and see all of our many fine products for sale here today"
    val trainSet = Seq(
      ("the quick brown fox and the lazy dog live in the woods", "good"),
      ("animals play games all day long with their friends", "good"),
      ("buy now save money big deal offer sale prices store", "ads"),
      ("best value products for sale in the shop this week", "ads"))
      .toDF("text", "label")
    val model = graft.operators.TextClassifier.train(trainSet, "label", "text")
    val docs = Seq((1L, prose), (2L, adProse)).toDF("doc_id", "text")
    // both pass the rule gates without the classifier...
    val (keptNoGate, _) = CorpusClean.cleanCorpus(docs, "doc_id", "text")
    assert(keptNoGate.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    // ...the gate drops the ad
    val (kept, report) = CorpusClean.cleanCorpus(docs, "doc_id", "text",
      classifierKeep = Some((model, Set("good"))))
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L))
    val rep = report.as[(String, Long)].collect().toMap
    assert(rep("fail_classifier") == 1L && rep("kept") == 1L)
  }

  test("gopher quality gate works on a stream (stateless projection)") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("graft-squality").toString
    Seq((1L, prose), (2L, "too short"))
      .toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$root/in/f1")

    val stream = spark.readStream
      .schema(spark.read.parquet(s"$root/in/f1").schema)
      .parquet(s"$root/in/*")
    val q = CorpusClean.gopherFlags(stream, "doc_id", "text", minWords = 50)
      .filter(col("passes"))
      .writeStream.outputMode("append")
      .format("memory").queryName("squality")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val kept = spark.table("squality").select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(1L))
  }

  test("c4LineFlags: per-line keep rules (punctuation, word count, blocklist)") {
    val docs = Seq(
      (1L, "this first line ends with terminal punctuation properly.\n" +
        "this line has no terminal punctuation at all\n" +
        "too short here.\n" +
        "enable javascript to view this content please now.\n" +
        "a closing quoted line of decent length indeed.\"")).toDF("doc_id", "text")
    val r = CorpusClean.c4LineFlags(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_lines") === 5L)
    // kept: line 1 (ends '.', 8 words) and line 5 (ends '"');
    // dropped: no-punct, 3-word, and javascript lines
    assert(r.getAs[Long]("n_kept_lines") === 2L)
    assert(r.getAs[String]("text_clean") ===
      "this first line ends with terminal punctuation properly.\n" +
        "a closing quoted line of decent length indeed.\"")
  }

  test("c4LineFlags: document-level flags (block phrase, braces, min kept lines)") {
    val good = (1 to 4).map(i =>
      s"sentence number $i has plenty of words and ends well.").mkString("\n")
    val docs = Seq(
      (1L, good),                                        // keep_doc
      (2L, good + "\nsome Lorem Ipsum filler got pasted here."), // phrase → drop
      (3L, good + "\nfunction f() { return 0; }"),       // brace → drop
      (4L, "only one good line survives this document.\nno punct here\nshort.")
    ).toDF("doc_id", "text")
    val out = CorpusClean.c4LineFlags(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep_doc"))
    assert(byId(2L).getAs[Boolean]("has_block_phrase") &&
      !byId(2L).getAs[Boolean]("keep_doc"))
    assert(byId(3L).getAs[Boolean]("has_brace") &&
      !byId(3L).getAs[Boolean]("keep_doc"))
    // fewer than minKeptLines surviving lines → dropped
    assert(byId(4L).getAs[Long]("n_kept_lines") === 1L)
    assert(!byId(4L).getAs[Boolean]("keep_doc"))
    // dropBraces = false keeps the code doc
    val lax = CorpusClean.c4LineFlags(docs, "doc_id", "text", dropBraces = false)
      .filter(col("doc_id") === 3L).collect().head
    assert(lax.getAs[Boolean]("keep_doc"))
  }

  test("cleaning passes are zero-shuffle projections (scale contract)") {
    val docs = Seq((1L, prose)).toDF("doc_id", "text")
    // gopherFlags, piiScrub and c4LineFlags must not introduce an
    // Exchange: they are the first pass over 100 TB and run at scan
    // parallelism.
    for (df <- Seq(
        CorpusClean.gopherFlags(docs, "doc_id", "text"),
        CorpusClean.piiScrub(docs, "text", keep = Seq("doc_id")),
        CorpusClean.c4LineFlags(docs, "doc_id", "text"))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    }
  }
}
