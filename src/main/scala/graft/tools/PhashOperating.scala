package graft.tools

import graft.LocalSpark
import graft.operators.MultimodalOps

/** Operating curve of the perceptual-hash near-dup detector (q165/
  * q166/q168): the banded candidate machinery is recall-EXACT at
  * hamming <= 3 (pigeonhole over 4x16-bit bands), so the only dial
  * that needs MEASUREMENT is what hamming <= 3 MEANS — how much of a
  * payload can change before a re-encode stops being detected as a
  * near-dup of its original.
  *
  * Model: media with F distinct 64-byte frames; a "re-encode" replaces
  * a fraction f of them with fresh content (an inserted intro, a
  * re-rendered segment). The SimHash bit-vote over frame hashes flips
  * a sketch bit only where the vote margin is smaller than twice the
  * changed-frame count, so detection degrades smoothly in f and
  * sharpens with F (larger media = more votes = tighter margins).
  * This tool measures, per (F, f): median hamming and the detection
  * rate at the production dial (<= 3), over `Trials` seeded pairs.
  *
  * Everything is deterministic (fixed seed; the frame content is the
  * hash input, so trial structure cannot leak into the sketch). */
object PhashOperating {
  private val Trials = 200

  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def frame(tag: String): String =
      (tag + "#" * 64).substring(0, 64)

    println("[phash] frames  changed  fraction  medHam  p95Ham  " +
      "detect@<=3")
    for (nFrames <- Seq(16, 64, 256)) {
      val changes = (Seq(0, 1, 2) ++
        Seq(nFrames / 20, nFrames / 10, nFrames / 4, nFrames / 2))
        .distinct.filter(k => k >= 0 && k <= nFrames).sorted
      for (k <- changes) {
        val rnd = new scala.util.Random(42 + nFrames * 1000 + k)
        val rows = (0 until Trials).flatMap { t =>
          val base = (0 until nFrames).map(j => frame(s"f$nFrames-t$t-$j"))
          val mutIdx = rnd.shuffle((0 until nFrames).toList).take(k).toSet
          val variant = base.zipWithIndex.map { case (fr, j) =>
            if (mutIdx(j)) frame(s"f$nFrames-t$t-$j-mut") else fr
          }
          Seq((t * 2L, base.mkString), (t * 2L + 1, variant.mkString))
        }
        val sk = MultimodalOps.perceptualSketch(
            MultimodalOps.withBinaryPayload(rows.toDF("doc_id", "text")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val hams = (0 until Trials).map(t =>
          java.lang.Long.bitCount(sk(t * 2L) ^ sk(t * 2L + 1))).sorted
        val med = hams(Trials / 2)
        val p95 = hams((Trials * 95) / 100)
        val det = hams.count(_ <= 3).toDouble / Trials
        println(f"[phash] $nFrames%6d  $k%7d  ${k.toDouble / nFrames}%8.3f" +
          f"  $med%6d  $p95%6d  $det%10.3f")
      }
    }
    spark.stop()
  }
}
