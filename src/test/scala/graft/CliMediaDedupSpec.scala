package graft

import java.nio.file.{Files, Paths}

import graft.operators.Multimodal

/** The media arms of `Cli dedup` (--method phash|audiofp): this spec
  * calls the functions `Cli.main` runs — Cli.dedupInput (a recursive
  * binaryFile scan keyed by path) and Cli.dedupSurvivors (Hamming
  * clustering over perceptual fingerprints, anti-join of the losers) —
  * against generated on-disk media, without Cli.main's session
  * lifecycle (it stops the shared session). A true end-to-end Cli.main
  * run lives in E2eDrive. */
class CliMediaDedupSpec extends SparkSpec {

  private def px(seed: Int): Array[Int] =
    Array.tabulate(72)(i => math.abs((seed * 2654435761L + i * 40503L).toInt) % 256)

  private lazy val mediaDir: String = {
    val dir = Files.createTempDirectory("graft-media-dedup").toString
    // three exact/near-dup families (base + one-pixel variant), two
    // distinct singletons, one undecodable file
    for (g <- 0 until 3) {
      val base = px(g)
      Files.write(Paths.get(s"$dir/img_${g}_a.png"), Multimodal.grayPng(base, 9, 8))
      val variant = base.clone()
      variant(17) = (variant(17) + 37) % 256
      Files.write(Paths.get(s"$dir/img_${g}_b.png"), Multimodal.grayPng(variant, 9, 8))
    }
    Files.write(Paths.get(s"$dir/unique_1.png"), Multimodal.grayPng(px(100), 9, 8))
    Files.write(Paths.get(s"$dir/unique_2.png"), Multimodal.grayPng(px(200), 9, 8))
    Files.write(Paths.get(s"$dir/corrupt.png"), "not a png at all".getBytes("UTF-8"))
    dir
  }

  test("phash media dedup collapses near-identical images, keeps distinct + undecodable") {
    val media = Cli.dedupInput(spark, mediaDir, "phash")
    assert(media.count() == 9)
    val survivors = Cli.dedupSurvivors(media, Map("method" -> "phash", "max-dist" -> "3"))
    val kept = survivors.select("source").collect().map(_.getString(0)).toSet
    // each family keeps exactly one member; singletons + corrupt survive
    assert(kept.size == 6, s"expected 6 survivors, got ${kept.size}: $kept")
    for (g <- 0 until 3)
      assert(kept.count(_.contains(s"img_${g}_")) == 1,
        s"family $g must keep exactly one member, kept: $kept")
    assert(kept.exists(_.contains("unique_1")) && kept.exists(_.contains("unique_2")))
    assert(kept.exists(_.contains("corrupt")),
      "undecodable media carries no signal and must survive")
  }

  test("audiofp media dedup collapses near-identical audio the same way") {
    val dir = Files.createTempDirectory("graft-audio-dedup").toString
    def samples(seed: Int): Array[Int] =
      Array.tabulate(1296)(i => ((seed * 2654435761L + i * 40503L) % 4001).toInt - 2000)
    for (g <- 0 until 2) {
      val base = samples(g)
      Files.write(Paths.get(s"$dir/au_${g}_a.wav"), Multimodal.pcmWav(base))
      val variant = base.clone()
      variant(100) = variant(100) + 1
      Files.write(Paths.get(s"$dir/au_${g}_b.wav"), Multimodal.pcmWav(variant))
    }
    Files.write(Paths.get(s"$dir/au_unique.wav"), Multimodal.pcmWav(samples(77)))
    val media = Cli.dedupInput(spark, dir, "audiofp")
    val survivors = Cli.dedupSurvivors(media, Map("method" -> "audiofp", "max-dist" -> "3"))
    val kept = survivors.select("source").collect().map(_.getString(0)).toSet
    assert(kept.size == 3, s"expected 3 survivors, got $kept")
    for (g <- 0 until 2)
      assert(kept.count(_.contains(s"au_${g}_")) == 1)
    assert(kept.exists(_.contains("au_unique")))
  }
}
