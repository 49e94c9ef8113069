package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Reproducible scale check: blow the documents/embeddings tables up
  * by an integer factor and time registered queries against the
  * result through the noop sink (same honest-materialization rule as
  * graft.Bench).
  *
  * The blow-up is NOT naive duplication: every 4th word of a replica
  * text is tagged with the replica id, and replica embeddings are
  * deterministically perturbed per (replica, dimension). Exact
  * duplication would plant 64-copy exact-dup families and identical
  * vectors — the stacked worst case whose output cardinality, not the
  * plan, dominates (measured in round 2). Appending ONE distinct
  * token is not enough either: replicas then share ~all shingles,
  * minhash/simhash put all 64 in the same buckets, and the TRUE
  * near-dup pair set itself is quadratic (measured: one partial-agg
  * task ran 16+ minutes). Tagging every 4th word perturbs ~75% of
  * word-3-shingles, so replica-pair Jaccard ≈ 0.14 — far below both
  * the 0.8 verify threshold AND the (16,4)-band collision knee at
  * J ≈ 0.5 (tag every 10th word and J ≈ 0.54 floods the verify join
  * with ~8M candidates that all fail) — and the sweep measures how
  * the PLAN scales with data volume, not a planted clique's output.
  *
  * `SPARK_GRAFT_TAG_EVERY` (default 4) sets the replica tag density:
  * 4 → replica-pair Jaccard ≈ 0.14, which collides at the
  * 16×4-banding FP rate (~6.7e-3/pair) — candidate volume grows
  * QUADRATICALLY in the replica count (the honest template-family
  * stress; measured at 256× and 512×, SURVEY §13/§15). 2 → J ≈
  * 0.05, an order of magnitude under the FP knee, so candgen stays
  * ~linear and the sweep measures PLAN scaling without the collision
  * floor — use this mode for linearity claims at big factors.
  *
  * Usage: ScaleCheck <sfDir> <factor> <workDir> <query> [query ...]
  */
object ScaleCheck {

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ScaleCheck <sfDir> <factor> <workDir> <query> [query ...]")
    val Array(sfDir, factorS, workDir) = args.take(3)
    val factor = factorS.toInt
    val tagEvery = sys.env.getOrElse("SPARK_GRAFT_TAG_EVERY", "4").toInt
    val queries = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.GraftSession.local(cpus, "graft-scale-check")
    // partitions must scale with DATA, not cores — exactly what a real
    // deployment does (the prompt-side sizing rule: partitions fit in
    // executor memory at the target SF). With the session default
    // (partitions = cores) a 256× blow-up packs 32× more rows per
    // shuffle partition than 8×, and per-partition hash-join builds
    // blow past the memory manager (measured: minhash verify and the
    // CC edge join both died at 256× with partitions=8 — ~32 sf
    // slices per partition; they pass comfortably at ≤4 slices).
    // factor/4 keeps per-partition volume ≤ 4 slices at every factor
    // without flooding the 8-core box with scheduling waves (one
    // partition per replica measured +2× wall on the IVF op).
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(cpus, factor / 4).toString)

    val t = graft.Tables(spark, sfDir)
    val reps = spark.range(0, factor).select(col("id").as("rep"))

    t.documents.crossJoin(reps)
      .select(
        (col("doc_id") + col("rep") * 10000000L).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "), (w, i) =>
          when(i % tagEvery === 0,
            concat(w, lit("r"), col("rep").cast("string"))).otherwise(w)))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(cpus * 4)
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/documents.parquet")

    // Replica embeddings get STRONG zero-mean hash noise, keyed per
    // (vec_id, rep, dim) — ±1.0/dim against the corpus's unit norms,
    // so EVERY pair of distinct blow-up vectors is noise-dominated
    // (cosine ≈ 0). The old small positive-biased perturbation left
    // replica cosines ≈ 0.75 (64-vector near-dup cliques, quadratic
    // true pair set — the same planted-clique artifact as the text
    // tags); and noise keyed only by (rep, dim) is worse still: the
    // shared noise vector dominates every same-rep pair (cos ≈ 0.85,
    // one 2000-vector ball per replica).
    t.embeddings.crossJoin(reps)
      .select(
        (col("vec_id") + col("rep") * 10000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x + (pmod(hash(col("vec_id"), col("rep"), i), lit(2001)) - lit(1000))
            .cast("float") * lit(0.001f))
          .as("embedding"),
        col("label"))
      // repartition: the blown-up frame descends from ONE small input
      // split via a broadcast crossJoin — written as-is it is a single
      // 40 MB parquet file = a single read split, and every embedding
      // op downstream runs on ONE task (jstack'd). Real corpora have
      // many files; give the sweep the same property.
      .repartition(cpus * 4)
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/embeddings.parquet")

    val nDocs = spark.read.parquet(s"$workDir/documents.parquet").count()
    println(s"[scale] built ${factor}x blow-up: $nDocs docs at $workDir")

    queries.foreach { name =>
      val build = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      println(s"[scale] start $name"); Console.flush()
      val t0 = System.nanoTime()
      try {
        build(spark, workDir)
          .write.format("noop").mode(SaveMode.Overwrite).save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[scale] $name%-22s $sec%8.2f s")
      } catch {
        case e: Exception =>
          println(s"[scale] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
