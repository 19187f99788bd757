package graft

import org.apache.spark.sql.functions._

/** The text arms' dataflows as `Cli.main` runs them: the text dedup
  * tiers (Cli.textDedupSurvivors), the `curate`/`pretrain` funnel
  * (Cli.curateFunnel) and `dedup`'s input resolver over a parquet
  * corpus — in-process, without Cli.main's session lifecycle. A true
  * end-to-end `Cli curate` run lives in E2eDrive. */
class CliCurateSpec extends SparkSpec {
  import spark.implicits._

  private val good1 =
    "the quick brown fox jumped over the lazy dog and ran far away from home today"
  private val good2 =
    "a small red hen sat on the old stone wall near the garden and watched the morning sun rise"
  private val contaminated =
    "we walked to the market and bought some fresh bread for dinner at the house tonight"

  private lazy val docs = Seq(
    ("s1", good1),
    ("s2", good1),          // exact dup of s1
    ("s3", "#### #### #### ####"), // fails Gopher (alpha/symbol/stops)
    ("s4", contaminated),
    ("s5", good2)
  ).toDF("source", "text")

  test("textDedupSurvivors: exact keeps min-id per fingerprint class, null-text survives") {
    val withNull = docs.union(Seq(("s6", null: String)).toDF("source", "text"))
    val kept = Cli.textDedupSurvivors(withNull, "source", "text", "exact",
      minJ = 0.8, maxDist = 3).select("source").as[String].collect().toSet
    assert(kept == Set("s1", "s3", "s4", "s5", "s6"), s"got $kept")
  }

  test("textDedupSurvivors: minhash collapses the exact-dup pair too") {
    val kept = Cli.textDedupSurvivors(docs, "source", "text", "minhash",
      minJ = 0.8, maxDist = 3).select("source").as[String].collect().toSet
    assert(kept == Set("s1", "s3", "s4", "s5"), s"got $kept")
  }

  test("textDedupSurvivors: simhash collapses identical signatures") {
    val kept = Cli.textDedupSurvivors(docs, "source", "text", "simhash",
      minJ = 0.8, maxDist = 3).select("source").as[String].collect().toSet
    assert(kept.subsetOf(Set("s1", "s3", "s4", "s5")) && kept.contains("s1") &&
      !kept.contains("s2"), s"got $kept")
  }

  test("textDedupSurvivors: containment drops the swallowed doc, keeps the wrapper") {
    // w wraps s (c_s = 1.0, one direction only) -> s drops, w stays;
    // near-identical m1/m2 (mutual containment) -> the larger id drops
    val short = "the quick brown fox jumps high over lazy dogs"
    val d = Seq(
      ("w", "posted by admin on monday " + short + " share this story now"),
      ("s", short),
      ("m1", "alpha beta gamma delta epsilon zeta eta theta"),
      ("m2", "alpha beta gamma delta epsilon zeta eta theta"),
      ("u", "completely unrelated words about rivers and gardens tonight")
    ).toDF("source", "text")
    val kept = Cli.textDedupSurvivors(d, "source", "text", "containment",
      minJ = 0.9, maxDist = 3).select("source").as[String].collect().toSet
    assert(kept == Set("w", "m1", "u"), s"got $kept")
  }

  test("curate composition: clean -> dedup -> decontaminate funnel counts") {
    val benchDir = java.nio.file.Files.createTempDirectory("graft-curate-bench").toString
    Seq(("b1", "yesterday they walked to the market and bought many things"))
      .toDF("source", "text").write.mode("overwrite").parquet(s"$benchDir/bench")
    val st = Cli.curateFunnel(docs, Map("min-words" -> "5", "dedup" -> "exact",
      "decontaminate" -> s"$benchDir/bench"), "curate")
    assert(st.n1 == 4L, s"clean should drop only the symbol doc, kept ${st.n1}")
    assert(st.n2 == 3L, s"exact dedup should drop s2, kept ${st.n2}")
    val survivors = st.survivors.select("doc_id").as[String].collect().toSet
    st.cleaned.unpersist(); st.deduped.unpersist()
    assert(survivors == Set("s1", "s5"),
      s"decontamination should drop s4 only, got $survivors")
  }

  test("dedupSurvivors: a parquet corpus reads every row and keys by doc_id") {
    // the sf documents table's shape: 500 rows, a unique doc_id, 20
    // multi-doc sources, 5% exact copies (docs 475-499 repeat 0-24)
    val path = java.nio.file.Files.createTempDirectory("graft-dedup-pq")
      .toString + "/documents.parquet"
    spark.range(500).select(col("id").as("doc_id"),
        concat(lit("doc "), (col("id") % 475).cast("string"),
          lit(" about rivers and gardens")).as("text"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .write.parquet(path)
    val docs = Cli.dedupInput(spark, path, "exact")
    assert(docs.count() == 500L)
    val kept = Cli.dedupSurvivors(docs, Map("method" -> "exact"))
      .select("doc_id").as[Long].collect()
    // one survivor, the smallest doc_id, per text
    assert(kept.sorted.toSeq == (0L until 475L), s"kept ${kept.length}")
  }

  test("resolveUniqueDocId: prefers doc_id over the source fallback, --id-col wins") {
    // the funnel must never key a multi-doc-per-source corpus by
    // source (the fan-out grain); the resolution order is --id-col >
    // doc_id > source, with a uniqueness gate on the result. The gate's
    // failure path is Cli.fail (process exit — E2eDrive territory);
    // here we pin the resolution order on unique grains.
    val bySource = docs // source is unique here
    assert(Cli.resolveUniqueDocId(bySource, Map.empty, "t") == "source")
    val withDocId = docs.withColumn("doc_id", concat(lit("d_"), col("source")))
    assert(Cli.resolveUniqueDocId(withDocId, Map.empty, "t") == "doc_id")
    assert(Cli.resolveUniqueDocId(withDocId, Map("id-col" -> "source"), "t")
      == "source")
  }
}
