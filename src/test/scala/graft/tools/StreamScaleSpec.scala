package graft.tools

import java.nio.file.Files

/** Every StreamScale family on a small blow-up, through the same `run`
  * the CLI calls: each family's own checks execute and must hold. 8×
  * is the smallest factor at which the dedup state ceiling can hold —
  * at the shortest horizon (1 minute, plus the 1-minute watermark
  * delay) three replica-minutes stay warm, which is 75% of a 4×
  * stream's buckets against the ceiling's 50%.
  */
class StreamScaleSpec extends graft.SparkSpec {

  private lazy val blowUp: String = {
    val dir = Files.createTempDirectory("graft_stream_blowup").toString
    ScaleCheck.blowUp(spark, sf, 8, dir, tagEvery = 4)
    dir
  }

  private def drive(family: String, args: String*): Unit =
    StreamScale.run(spark, (Seq(family, blowUp) ++ args).toArray)

  test("dedup: recall within the horizon and the eviction state ceiling") {
    drive("dedup", "1")
  }

  test("dedup with planted copies: each copy emits its representative edge") {
    drive("dedup", "1", "200")
  }

  test("cap: bounded family emissions, unsaturated recall, capped state") {
    drive("cap", "3")
  }

  test("hh: per-window state and the SpaceSaving guarantee") {
    drive("hh")
  }

  test("quality: every streamed document is bucketed") {
    drive("quality", blowUp, "4")
    assert(spark.table("qstream_out").count() ==
      spark.read.parquet(s"$blowUp/documents.parquet").count())
  }

  test("sem: every planted benchmark member is gated") {
    drive("sem", "4")
  }

  test("index with a checkpoint restart: ledger, replay and completeness") {
    drive("index", "4", "2", "2")
  }

  test("drift: no token dropped and one state row per in-flight window") {
    drive("drift", blowUp, "4", "2")
  }
}
