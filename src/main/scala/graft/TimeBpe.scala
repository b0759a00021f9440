package graft

/** Measures the BPE merge-cost CURVE to production vocab sizes —
  * `runMain graft.TimeBpe [maxBudget]` (default 8192) trains
  * from-scratch at doubling budgets on a generated large-vocabulary
  * corpus (the BpeScaleSpec construction scaled up: ~29k distinct
  * words over a 120-syllable base, deterministic zipf-ish
  * frequencies; the learnable-merge ceiling is ~30k, above any
  * budget this tool runs) and prints wall / rounds / ms-per-merge
  * per budget. The claim under test (SURVEY §8): per-merge cost
  * FALLS as the budget grows, because batched rounds amortize — a
  * curve measured only to 1024 before this tool existed.
  */
object TimeBpe {
  def main(args: Array[String]): Unit = {
    val maxBudget = args.headOption.map(_.toInt).getOrElse(8192)
    val spark = Session("graft-time-bpe")
    import spark.implicits._
    // 120 consonant-vowel syllables -> all ordered pairs (14.4k
    // 2-syllable words, one word-level merge each once the 120
    // syllable merges exist) plus a full third-syllable slice (14.4k
    // 3-syllable words, one MORE merge each on top of the pair
    // symbol) -> a ~30k learnable-merge ceiling, so every budget up
    // to 16384 trains to completion instead of running dry.
    // Concatenated without separators so the trainer has multi-round
    // shared structure at many scales.
    val syl = for {
      c <- "bcdfghjklmnpqrstvwxz".toSeq
      v <- "aeiouy".toSeq
    } yield s"$c$v"
    val words =
      (for {
        (a, i) <- syl.zipWithIndex
        (b, j) <- syl.zipWithIndex
      } yield (a + b, ((i * 131 + j * 7) % 97 + 1).toLong)) ++
      (for {
        (a, i) <- syl.zipWithIndex
        (b, j) <- syl.zipWithIndex
      } yield (a + b + syl((i * 7 + j * 13) % 120),
               ((i * 13 + j) % 11 + 1).toLong))
    println(s"BPE_CURVE corpus: ${words.size} distinct words")
    val df = words.toDF("w", "f").repartition(Session.cpus).persist()
    df.count()
    var budget = 1024
    while (budget <= maxBudget) {
      val t0 = System.nanoTime()
      val merges = graft.ext.BpeOps.trainLoop(spark, df, budget,
        maxRounds = 4000, candWidth = graft.ext.BpeOps.bpeCandidates)
      val sec = (System.nanoTime() - t0) / 1e9
      val rounds = merges.map(_._2).distinct.length
      println(f"BPE_CURVE budget=$budget merges=${merges.length} " +
        f"rounds=$rounds sec=$sec%.1f " +
        f"msPerMerge=${sec * 1000 / merges.length}%.2f")
      budget *= 2
    }
    spark.stop()
  }
}
