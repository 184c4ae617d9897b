package graft

import graft.operators.{Dedup, Modality}

/** The perceptual-fingerprint families as values: every ordered
  * (index family, probe family) pair is checked from [[Modality.all]], so
  * a new family is covered without a new test.
  */
class ModalitySpec extends SparkSpec {
  import spark.implicits._

  // the family check reads only the index's key-column stamp, so nothing
  // decodes and placeholder bytes suffice
  private lazy val rows = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "content")

  test("a probe refuses an index of every other modality") {
    val mismatched = for {
      built <- Modality.all
      probed <- Modality.all if probed.family != built.family
    } yield (built, probed)
    assert(mismatched.size == 12)
    mismatched.foreach { case (built, probed) =>
      val index = Dedup.corpusIndex(built, rows, "doc_id", "content")
      val e = intercept[IllegalArgumentException] {
        Dedup.probeDups(probed, rows, "doc_id", "content", index)
      }
      assert(e.getMessage.contains("modalit"),
        s"${built.family} index probed as ${probed.family}: ${e.getMessage}")
    }
  }
}
