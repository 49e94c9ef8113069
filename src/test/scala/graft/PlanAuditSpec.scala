package graft

/** Plan-shape assertions (SURVEY.md §5): the declarative formulations
  * must actually produce the physical plans the 100 TB design relies
  * on — filters/projections at the parquet scan, broadcast dimension
  * joins, map-side partial aggregation, codegen'd stages.
  */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // materialize THIS query execution so AQE finalizes it
    df.queryExecution.executedPlan.toString
  }

  test("filter+projection reach the parquet scan") {
    val p = planOf("q_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual(l_shipdate"), p)
    assert(p.contains("ReadSchema"), p)
    // projection pruning: untouched wide columns are not in ReadSchema
    assert(!p.contains("l_returnflag"), "unneeded column read: " + p)
  }

  test("aggregation is partial (map-side) before the shuffle") {
    val p = planOf("q_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("WholeStageCodegen") || p.contains("*("), p) // *(n) = codegen stage
  }

  test("dimension joins broadcast; no shuffle of the dims") {
    assert(planOf("q_join_multi").contains("BroadcastHashJoin"))
    assert(planOf("q_line_list").contains("BroadcastHashJoin"))
  }

  test("semi/anti joins use semi/anti physical joins") {
    assert(planOf("q_semi_join").contains("LeftSemi"))
    assert(planOf("q_anti_join").contains("LeftAnti"))
  }

  test("unpivot keeps its pre-expand Sort directly under the Expand") {
    // q_unpivot's ORDER BY rests on physical order surviving the
    // Expand (it sorts the narrow input, not the melted rows), so the
    // final adaptive plan must move no rows above the Expand and must
    // reach the Sort below it through row-preserving wrappers only —
    // a Spark/AQE change that breaks this fails here, not at the oracle
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    val df = SparkEntry.queries("q_unpivot")(spark, sf)
    df.collect() // finalize AQE for THIS execution
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    def wrapper(p: SparkPlan): Boolean = p match {
      case _: WholeStageCodegenExec | _: InputAdapter | _: ProjectExec => true
      case _ => false
    }
    // the root-to-Expand path
    def pathTo(p: SparkPlan): Option[List[SparkPlan]] = p match {
      case _: ExpandExec => Some(List(p))
      case _ => kids(p).iterator.map(pathTo).collectFirst {
        case Some(path) => p :: path
      }
    }
    val plan = df.queryExecution.executedPlan
    val path = pathTo(plan).getOrElse(fail(s"no Expand in the plan:\n$plan"))
    assert(!path.init.exists {
      case _: Exchange | _: SortExec => true
      case _ => false
    }, s"rows move above the Expand:\n$plan")
    var below = kids(path.last).head
    while (wrapper(below)) below = kids(below).head
    assert(below.isInstanceOf[SortExec],
      s"the Sort must sit directly under the Expand:\n$plan")
  }

  test("latest-per-key uses a single shuffle with window group limit") {
    val p = planOf("q_latest_per_key")
    assert(p.contains("Window"), p)
    // Spark 3.5+/4.x pushes rn=1 into the sort (WindowGroupLimit)
    assert(p.contains("WindowGroupLimit") || p.contains("Limit"), p)
  }

  test("composite report extracts via fused partial aggregation, not per-CTE windows") {
    // q_ll_ahd mirrors 7 reference ROW_NUMBER CTEs but must plan as
    // conditional aggregates: no Window operator anywhere, and
    // map-side partial_ aggregation present
    val p = planOf("q_ll_ahd")
    assert(!p.contains("WindowExec") && !p.contains("RunningWindowFunction")
      && !p.contains("WindowGroupLimit"), p)
    assert(p.contains("partial_"), p)
  }

  /** Every node of a finalized plan: through the adaptive wrapper,
    * query stages and reused exchanges, but not into a cached
    * relation's own plan (that ran when the frame was pinned).
    */
  private def planNodes(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case q: QueryStageExec => q +: planNodes(q.plan)
      case r: ReusedExchangeExec => r +: planNodes(r.child)
      case _ => p +: p.children.flatMap(planNodes)
    }
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect() // finalize AQE for THIS execution
    df.queryExecution.executedPlan
  }

  test("line-list reports over an export package's events shuffle nothing and keep their ORDER BY") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val reports = Seq("q_ll_eligible", "q_ll_threshold", "q_ll_course", "q_pivot_agg",
      "q_ll_hvl", "q_ll_dual_latest", "q_line_list", "q_ll_ahd")
    val events = graft.sources.ExportMain.pinnedEvents(spark, sf)
    // plans capture the frame at build time, as ExportMain's do
    val built = Tables.withEvents(spark, sf, events) {
      reports.map(n => n -> SparkEntry.queries(n)(spark, sf))
    }
    built.foreach { case (name, df) =>
      val plan = finalPlan(df)
      val shuffles = planNodes(plan).collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, s"$name shuffles inside the package:\n$plan")
      // the ORDER BY still holds without a sort exchange: a global
      // Sort at the top over the range-partitioned rows, or, where
      // Spark drops that Sort as redundant (RemoveRedundantSorts), a
      // root whose ordering and partitioning already deliver it
      val order = df.queryExecution.optimizedPlan.collectFirst {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global => s.order
      }.getOrElse(fail(s"$name has no ORDER BY"))
      // pre-order: the first node that is not a wrapper is the root
      val top = planNodes(plan).find {
        case _: adaptive.QueryStageExec | _: WholeStageCodegenExec | _: InputAdapter => false
        case _ => true
      }.get
      val sorted = top match {
        case s: SortExec => s.global
        case _ => org.apache.spark.sql.catalyst.expressions.SortOrder
            .orderingSatisfies(top.outputOrdering, order) &&
          top.outputPartitioning.satisfies(
            org.apache.spark.sql.catalyst.plans.physical.OrderedDistribution(order))
      }
      assert(sorted, s"$name lost its ORDER BY:\n$plan")
    }
    // outside the scope the same builder reads the parquet scan: the
    // HVL chain clusters by user_id once, for all four extractions
    val plan = finalPlan(SparkEntry.queries("q_ll_hvl")(spark, sf))
    val byUser = planNodes(plan).collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.map(_.toString).exists(_.startsWith("user_id"))
        case _ => false
      }) => e
    }
    assert(byUser.size == 1, s"q_ll_hvl unpinned: ${byUser.size} user_id shuffles:\n$plan")
  }

  test("registered ANN/near-dup operators generate candidates via equi-join, not nested loop") {
    // the scale paths must never probe×corpus: no BroadcastNestedLoopJoin
    // and no CartesianProduct anywhere in the registered plans (the IVF
    // centroid crossJoin is broadcast-small and shows as BNLJ-free once
    // candidates come from the cell equi-join — assert both absent on
    // the candidate side by banning the operators outright).
    val pEmbed = planOf("d_embed_neardup")
    assert(!pEmbed.contains("BroadcastNestedLoopJoin"), pEmbed)
    assert(!pEmbed.contains("CartesianProduct"), pEmbed)
    assert(pEmbed.contains("HashJoin") || pEmbed.contains("SortMergeJoin"), pEmbed)
  }

  test("registered ANN top-k scans only IVF cells (equi-join on cell id)") {
    // the registered query returns a checkpointed frame off the
    // session index (AnnIndexCache), so audit the underlying probe
    // pipeline — the plan that actually scans at scale
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf).embeddings
    val idx = graft.sources.AnnIndexCache.dirFor(emb, s"$sf#embeddings")
    val (out, pc) = graft.sources.IvfIndex.topKPlan(spark, idx,
      emb.filter(col("vec_id") % 50 === 0), k = 5, nProbe = 4)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    pc.unpersist()
    // the corpus-side candidate join must be hash-based, cell-pruned
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(p.contains("PartitionFilters: [cell"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("hybrid rrf fuses two bounded top-N lists, never a corpus product") {
    val p = planOf("d_rrf_hybrid")
    // the sparse side ends in top-N heaps, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // every nested-loop join in this plan must be a broadcast build
    // (the 1-row bm25 stats row, the single dense probe) — a
    // non-broadcast nested loop would be a corpus product
    assert(!p.replace("BroadcastNestedLoopJoin", "").contains("NestedLoopJoin"), p)
  }

  test("mmr cuts candidates to top-N map-side before the bounded greedy") {
    // the greedy runs behind an RDD boundary, so audit the exposed
    // candidate stage — the only part that ever sees corpus-sized data
    import org.apache.spark.sql.functions.col
    val df = graft.operators.Similarity.mmrCandidates(
      Tables(spark, sf).embeddings, col("vec_id") === 0, topN = 20)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p) // collect_list partials map-side
  }

  test("bm25 plans as one stats pass broadcast back plus top-k heaps") {
    val p = planOf("d_bm25")
    // corpus stats aggregate map-side before their single-row shuffle
    assert(p.contains("partial_"), p)
    // the stats row joins back via broadcast, never a shuffle of the corpus
    assert(p.contains("Broadcast"), p)
    // top-k is per-partition heaps + driver merge, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("segment dedup is two shuffles: keep-first window and per-doc rebuild") {
    val p = planOf("d_segment_dedup")
    assert(p.contains("Window"), p)
    // AQE's printout repeats the plan (final + initial) — count only
    // the final plan's exchanges: md5(seg) window + doc_id rebuild
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).length <= 2,
      "unexpected extra shuffles:\n" + p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("rarity joins instances to vocab hash-based, never nested-loop") {
    val p = planOf("d_unigram_rarity")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("perplexity bucket joins LM counts hash-based; boundaries broadcast back") {
    // the scoring stage runs behind an eager localCheckpoint, so the
    // registered frame's executedPlan cannot show it — audit it
    // directly (the mmrCandidates pattern)
    val docs = Tables(spark, sf).documents
    val s = operators.Retrieval.perplexityScoresWithLm(docs, "text", "doc_id",
      "lang", operators.Retrieval.perplexityScoreTableGate(docs))._1
    s.collect()
    val sp = s.queryExecution.executedPlan.toString
    val finalPlan = sp.split("== Initial Plan ==").head
    assert(finalPlan.contains("ShuffledHashJoin"), sp)
    assert(!sp.contains("CartesianProduct"), sp)
    assert(sp.contains("partial_"), sp)
    // the registered query: per-lang tercile boundaries are a bounded
    // broadcast back onto the checkpointed scored frame
    val p = planOf("d_perplexity_bucket")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("quantization stats aggregate map-side and broadcast back") {
    val p = planOf("d_vec_quantize")
    assert(p.contains("partial_min") || p.contains("partial_"), p)
    assert(p.contains("Broadcast"), p)
  }

  test("importance reuses the doc-term exchange and joins vocab hash-based") {
    val p = planOf("d_importance")
    assert(p.contains("ReusedExchange"), "vocab must reuse the docTerm shuffle:\n" + p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), p)
  }

  test("tfidf reuses the doc-term exchange and never broadcasts the corpus side") {
    val p = planOf("d_tfidf")
    // df derives from tf so the vocab subtree reuses docTerm's shuffle
    assert(p.contains("ReusedExchange"), "vocab must reuse the docTerm shuffle:\n" + p)
    // the shuffle_hash hint pins the join: AQE once broadcast the
    // corpus-sized docTerm side and ran scoring on one task
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("ShuffledHashJoin"), p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("boilerplate strip is two shuffles: hash window and per-doc rebuild") {
    val p = planOf("d_boilerplate")
    // dense_rank asc+desc over the same partitioning: extra sort, no
    // extra exchange, no join of a frequency table
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).length <= 2,
      "unexpected extra shuffles:\n" + p)
    assert(!finalPlan.contains("HashJoin") && !finalPlan.contains("SortMergeJoin"),
      "frequency must come from the window, not a re-join:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("substring dedup generates candidates by bucket aggregation, verifies hash-joined") {
    // spec scale sits under the sorted-run volume threshold → the
    // two-pass count+semi candgen; never a fps⋈fps self-join
    val p = planOf("d_substr_dedup")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("LeftSemi"), p)
    assert(finalPlan.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("minhash candidates: volume-gated candgen, then spill-safe verify") {
    // at spec scale the volume gate picks the two-pass count+semi
    // form (banded rows ≪ the sorted-run threshold)
    val p = planOf("d_minhash_lsh")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("LeftSemi"), p)
    assert(finalPlan.contains("ShuffledHashJoin"), p) // verify join 1
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the blow-up form: ONE exchange (repartition by bucket) +
    // in-partition sort + per-run pair emission — no semi join, no
    // per-bucket aggregation buffers
    val banded = operators.Dedup.bandedIds(
      operators.Dedup.minhashSignature(Tables(spark, sf).documents,
        "text", "doc_id"))
      .select("bucket", "doc_id")
    val sr = operators.Dedup.sortedRunCandidatePairs(
      banded, "bucket", "doc_id", 0, estRows = 0)
    sr.collect()
    val srPlan = sr.queryExecution.executedPlan.toString
    assert(srPlan.contains("MapPartitions"), srPlan)
    assert(!srPlan.contains("LeftSemi"), srPlan)
    assert("Exchange".r.findAllIn(
      srPlan.split("== Initial Plan ==").head).length <= 2, srPlan)
    // and the two candgen forms produce the identical pair set
    val cs = operators.Dedup.bucketCandidatePairs(
      banded, Seq("bucket"), "doc_id", 0)
      .collect().map(_.toString).sorted
    assert(sr.collect().map(_.toString).sorted.sameElements(cs))
    // verify join 2 runs through the SIZE GATE: hash at this spec
    // scale (the whole corpus fits a task budget), sort-merge once
    // the estimated relation exceeds it — an unspillable
    // corpus-sized hash build is the 256× OOM cliff
    val docs = Tables(spark, sf).documents
    def hints(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.logical.toString
    assert(hints(operators.Dedup.sizeGate(docs, 1L)).contains("shuffle_hash"))
    assert(hints(operators.Dedup.sizeGate(docs, Long.MaxValue / 2)).contains("merge"))
  }

  test("exact contamination joins n-grams hash-based with map-side partials") {
    val p = planOf("d_contamination_exact")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("length histogram aggregates map-side; window only over the bucket frame") {
    val p = planOf("d_len_hist")
    assert(p.contains("partial_"), p)
    // one bucket groupBy shuffle; the cumulative window runs on the
    // ≤buckets-row aggregate (singlepartition), never over the corpus
    val finalPlan = p.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).length <= 1, p)
  }

  test("label outliers broadcast centroids back; no nested-loop over the corpus") {
    val p = planOf("d_embed_outlier")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("semdedup evaluates the cosine cut inside the cell join, not after it") {
    // the Σ cell² pair space must be cut by the join condition — the
    // min-rep aggregation above the join sees only true near-dup pairs
    val p = planOf("d_semdedup")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.contains("cell_")).toSeq
    assert(joinLines.nonEmpty, "no cell join found:\n" + p)
    assert(joinLines.exists(_.toLowerCase.contains("floatdot")),
      "dot not in the cell-join condition:\n" + joinLines.mkString("\n"))
  }

  test("intra-doc dedup is a narrow projection: no joins, no hash shuffle") {
    // duplication is decided per row (plans.native.IntraDocDedup), so
    // the only exchange allowed is the registered query's final sort
    val p = planOf("d_intradoc_dedup")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join") && !finalPlan.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).isEmpty, p)
    // "*(n)" stage prefixes = whole-stage codegen spans
    assert(finalPlan.contains("*(1)"), p)
  }

  test("semantic decontam is a zero-shuffle projection over the inlined benchmark") {
    // the benchmark rides the plan as a constant (the bloom premise);
    // no join, no aggregate — in particular NOT the max(struct) form,
    // whose struct buffer is not hash-aggregable and fell to
    // SortAggregate (sorted every candidate row; 6.7 GB spill at 256×)
    val p = planOf("d_semantic_decontam")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join") && !finalPlan.contains("Aggregate"), p)
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).isEmpty, p)
    assert(finalPlan.contains("*(1)"), p) // codegen span
  }

  test("the intake's decontamination gate runs inside whole-stage codegen, batch and streaming") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.functions._
    import graft.streaming.StreamingIntake
    val docs = Tables(spark, sf).documents
    val feed = docs.select(col("doc_id"),
      timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"), col("text"))
    val bloom = graft.operators.TextAnalysis.benchmarkBloomBytes(
      docs.filter(pmod(xxhash64(col("doc_id"), lit(3L)), lit(50L)) === 0))
    // the Filter and the Project that evaluate the fingerprint gate
    // must both sit in a codegen stage (between a WholeStageCodegenExec
    // and its InputAdapters) with no CodegenFallback expression: one
    // interpreted expression takes the whole operator out of codegen
    def fingerprinting(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.exists {
        case _: graft.plans.native.WinnowingFingerprints |
             _: graft.plans.native.FingerprintOverlap => true
        case _ => false
      }
    def check(plan: SparkPlan, what: String): Unit = {
      val nodes = planNodes(plan)
      def stage(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: InputAdapter => Nil
        case _ => p +: p.children.flatMap(stage)
      }
      val codegen = nodes.collect { case w: WholeStageCodegenExec => stage(w.child) }
        .flatten.toSet
      val gate = nodes.filter {
        case p @ (_: FilterExec | _: ProjectExec) => p.expressions.exists(fingerprinting)
        case _ => false
      }
      assert(gate.exists(_.isInstanceOf[FilterExec]) &&
        gate.exists(_.isInstanceOf[ProjectExec]), s"$what: no gate Filter/Project:\n$plan")
      gate.foreach { g =>
        assert(codegen.contains(g), s"$what: ${g.nodeName} outside codegen:\n$plan")
        assert(!g.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])),
          s"$what: CodegenFallback in ${g.nodeName}:\n$plan")
      }
    }
    val batch = StreamingIntake.intakeBatch(feed, benchBloom = Some(bloom))
    check(finalPlan(batch), "intakeBatch")
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = StreamingIntake.intake(mem.toDF().toDF("doc_id", "ts", "text"),
        benchBloom = Some(bloom))
      .writeStream.format("memory").queryName("intake_gate_plan").start()
    try {
      val rows = feed.as[(Long, java.sql.Timestamp, String)].collect().toSeq
      mem.addData(rows)
      q.processAllAvailable()
      // the first batch advances the watermark, so a no-data (eviction)
      // batch follows it; a second batch that does not advance it
      // leaves a data batch as the last execution
      mem.addData(rows.take(20))
      q.processAllAvailable()
      val exec = q.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      check(exec.executedPlan, "intake")
    } finally {
      q.stop()
      spark.catalog.dropTempView("intake_gate_plan")
    }
  }

  test("bigram LM reuses the doc-bigram exchange and never broadcasts the corpus side") {
    val p = planOf("d_bigram_lm")
    // cf derives from tf so its subtree reuses docBg's shuffle
    assert(p.contains("ReusedExchange"), "cf must reuse the docBg shuffle:\n" + p)
    val finalPlan = p.split("== Initial Plan ==").head
    // shuffle_hash hints pin both joins (the d_tfidf AQE broadcast trap)
    assert(finalPlan.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("simhash verifies inside the bucket join, below the pair-dedup shuffle") {
    // regression guard: the bit_count cut must run BEFORE the
    // dropDuplicates aggregation, so only true near-dup pairs shuffle —
    // not the Σ bucket² candidate space. In the plan printout parents
    // precede children, so the dedup HashAggregate must appear above
    // (= earlier than) the bit_count filter it consumes.
    val p = planOf("d_simhash")
    val agg = p.indexOf("HashAggregate")
    val cut = p.indexOf("bit_count")
    assert(agg >= 0 && cut >= 0, p)
    assert(agg < cut, "hamming cut is above the dedup shuffle:\n" + p)
  }

  test("span corruption is a narrow projection: no joins, no hash shuffle") {
    // masking + rebuild happen per row (plans.native.SpanCorrupt);
    // only the registered final sort may exchange
    val p = planOf("d_span_corrupt")
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("Join") && !finalPlan.contains("Window"), p)
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).isEmpty, p)
    assert(finalPlan.contains("*(1)"), p)
  }

  test("inverted index aggregates postings with the bounded heap, no collect_list") {
    val p = planOf("d_inverted_index")
    assert(p.contains("boundedtopk"), p)
    assert(!p.contains("collect_list"), "unbounded posting buffer:\n" + p)
    assert(p.contains("partial_"), "posting heaps must combine map-side:\n" + p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("cooccurrence generates pairs narrowly and joins stats hash-based") {
    val p = planOf("d_cooccur")
    // pair generation is an explode of per-row gram arrays — no
    // positional self-join (the O(n·w) join formulation). The only
    // nested-loop allowed is the one-row n_tokens broadcast (the bm25
    // stats-pass pattern).
    assert(!p.contains("CartesianProduct"), p)
    val finalPlan = p.split("== Initial Plan ==").head
    assert(finalPlan.contains("ShuffledHashJoin"), p)
    assert(p.contains("partial_"), p)
  }

  test("bpe encode joins the corpus to the vocab without shuffling tokens twice") {
    val p = planOf("d_bpe_encode")
    // the (doc,word) frame is corpus-sized: it must never be the
    // broadcast build side; the vocab side may broadcast or hash-join
    val finalPlan = p.split("== Initial Plan ==").head
    assert(!finalPlan.contains("CartesianProduct"), p)
    assert(p.contains("partial_"), "doc-word counts must combine map-side:\n" + p)
  }

  /** Every WindowExec/WindowGroupLimitExec in the FINAL adaptive plan
    * whose partition spec is empty — the single-partition global sort
    * that "No Partition Defined for Window operation" warns about.
    * Descends through AQE stages, exchange reuse, and cached
    * relations, plus subquery plans.
    */
  private def globalWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val self = plan match {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Seq(w.nodeName)
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        Seq(w.nodeName)
      case _ => Nil
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
      case _ => plan.children
    }
    self ++ (kids ++ plan.subqueries).flatMap(globalWindows)
  }

  test("no registered query global-sorts unbounded input through a window") {
    // Boundedness of a global window was CONVENTION until this rule:
    // every empty-partition-spec window in a registered final plan
    // must sit over a provably bounded frame, named here with its
    // bound. Anything else is a single-task corpus sort at scale.
    val whitelist: Map[String, String] = Map(
      // row_number over the BPE symbol table: ≤ alphabet + capped
      // merge count rows at ANY corpus size (the vocab premise)
      "d_bpe_vocab" -> "rank over the ≤vocab-size symbol aggregate",
      // cumulative CDF over per-grid-bucket counts: the window input
      // is the difficulty HISTOGRAM (≤1e6 grid keys by construction,
      // difficulty//1000 over an integer-µ domain), never doc rows
      "d_curriculum" -> "CDF over the bounded difficulty-grid histogram",
      // 1-row corpus summary: the window ranks a single aggregate row
      "d_dataset_card" -> "percentile rank over the 1-row corpus summary",
      // cumulative share over the ≤buckets-row histogram aggregate
      // (the sibling test pins ≤1 corpus exchange for this query)
      "d_len_hist" -> "cumulative share over the bounded bucket aggregate",
      // rank fusion over two TakeOrderedAndProject-bounded top-N
      // lists (the sibling test pins the heaps + no corpus product)
      "d_rrf_hybrid" -> "rank fusion over two bounded top-N lists"
    )
    val offending = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE for THIS execution
      val gw = globalWindows(df.queryExecution.executedPlan)
      if (gw.nonEmpty && !whitelist.contains(name)) Some(s"$name: ${gw.mkString(",")}")
      else None
    }
    assert(offending.isEmpty,
      "unwhitelisted global-partition windows (single-task sort at scale):\n" +
        offending.mkString("\n"))
    // detector sanity: a deliberately corpus-global window IS caught
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.row_number
    val bad = Tables(spark, sf).lineitem
      .withColumn("rn", row_number().over(W.orderBy("l_orderkey")))
    bad.collect()
    assert(globalWindows(bad.queryExecution.executedPlan).nonEmpty,
      "detector failed to flag a global row_number over the corpus")
  }

  /** Every CartesianProductExec / BroadcastNestedLoopJoinExec in a
    * FINAL adaptive plan — the two join shapes that go quadratic (or
    * ship a corpus to every task) at scale. Same descent as
    * [[globalWindows]].
    */
  private def productJoins(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val self = plan match {
      case _: CartesianProductExec => Seq("CartesianProduct")
      case b: BroadcastNestedLoopJoinExec =>
        import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
        val build = b.buildSide match {
          case BuildLeft => b.left
          case BuildRight => b.right
        }
        boundedSide(build).map(leaf =>
          s"BroadcastNestedLoopJoin(unbounded build: $leaf)").toSeq
      case _ => Nil
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: InMemoryTableScanExec => Seq(c.relation.cachedPlan)
      case _ => plan.children
    }
    self ++ (kids ++ plan.subqueries).flatMap(productJoins)
  }

  /** None when the top of a broadcast build side PROVES a bounded row
    * count: a global (no-grouping-key) aggregate is exactly 1 row at
    * any corpus size, a limit/top-N is its literal bound, and a local
    * relation is driver-constructed constants. Descends only through
    * row-preserving wrappers (project/filter/sort/exchange/stages) —
    * an aggregate buried under a join would NOT qualify. Returns the
    * offending node's simpleString otherwise.
    */
  private def boundedSide(
      plan: org.apache.spark.sql.execution.SparkPlan): Option[String] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.execution.{FilterExec, GlobalLimitExec, LocalLimitExec, LocalTableScanExec, ProjectExec, SortExec, TakeOrderedAndProjectExec, CollectLimitExec, InputAdapter, WholeStageCodegenExec}
    plan match {
      case a: AdaptiveSparkPlanExec => boundedSide(a.executedPlan)
      case q: QueryStageExec => boundedSide(q.plan)
      case e: Exchange => boundedSide(e.child)
      case e: ReusedExchangeExec => boundedSide(e.child)
      case p: ProjectExec => boundedSide(p.child)
      case f: FilterExec => boundedSide(f.child)
      case s: SortExec => boundedSide(s.child)
      case w: WholeStageCodegenExec => boundedSide(w.child)
      case i: InputAdapter => boundedSide(i.child)
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
        boundedSide(r.child)
      case a: HashAggregateExec =>
        if (a.groupingExpressions.isEmpty) None
        else Some(a.simpleString(80))
      case a: ObjectHashAggregateExec =>
        if (a.groupingExpressions.isEmpty) None
        else Some(a.simpleString(80))
      case a: SortAggregateExec =>
        if (a.groupingExpressions.isEmpty) None
        else Some(a.simpleString(80))
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec |
           _: LocalTableScanExec => None
      case other => Some(other.simpleString(80))
    }
  }

  test("no registered query runs an unwhitelisted product join") {
    // The r10 verdict audited these by hand ("the BNLJs are 1-row
    // scalar stat attachments; 0 CartesianProduct"); this rule makes
    // the audit an assertion. A CartesianProduct is NEVER acceptable
    // in a registered final plan; a BroadcastNestedLoopJoin is
    // acceptable only when its build side PROVES a bounded row count
    // structurally (global aggregate / limit / local constants, see
    // [[boundedSide]] — covers the 1-row stat attaches) OR the query
    // is on this whitelist of DECLARED broadcast-probe scans, each
    // with its bound or premise named.
    val whitelist: Map[String, String] = Map(
      // the four exact/oracle recall baselines: brute-force scans that
      // broadcast the probe slice BY DESIGN — they exist to gate their
      // approximate twins at spec scale, and their quadratic cost is
      // the documented premise (the IVF/LSH variants are the scale
      // paths)
      "d_ann_topk_exact" -> "brute-force recall baseline (scale path: d_ann_topk)",
      "d_embed_neardup_exact" -> "exact pair baseline (scale path: d_embed_neardup)",
      "d_hard_negatives" -> "exact miner (scale path: d_hard_negatives_ivf)",
      "d_label_prop_exact" -> "exact propagation baseline (scale path: d_label_prop)",
      // the exact margin miner broadcasts its probe slice by design
      // (CCMatrix-scale pools route to d_margin_align_ivf/_esc)
      "d_margin_align" -> "exact miner (scale paths: _ivf/_esc)",
      // the query vector is vec_id = 0: ≤1 row by key equality — a
      // semantic bound the structural walker cannot see through the
      // cached scan
      "d_rrf_hybrid" -> "single query vector by key equality")
    val offending = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE for THIS execution
      val pj = productJoins(df.queryExecution.executedPlan)
      if (pj.exists(_.startsWith("CartesianProduct")))
        Some(s"$name: ${pj.mkString(",")}")
      else if (pj.nonEmpty && !whitelist.contains(name))
        Some(s"$name: ${pj.mkString(",")}")
      else None
    }
    assert(offending.isEmpty,
      "unwhitelisted product joins (quadratic / corpus-broadcast at scale):\n" +
        offending.mkString("\n"))
    // detector sanity: a genuine cross join IS caught
    val t = Tables(spark, sf)
    val bad = t.nation.crossJoin(t.region)
    bad.collect()
    assert(productJoins(bad.queryExecution.executedPlan).nonEmpty,
      "detector failed to flag a crossJoin")
  }
}
