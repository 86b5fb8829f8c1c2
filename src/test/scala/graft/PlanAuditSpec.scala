package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.io.Bucketed.shuffleExchangeCount
import graft.pipeline.TestSpark

/** Physical-plan pins for headline queries: the scale design lives in the
  * plan shape (shuffle count, broadcast choice, codegen spans), so a
  * regression there should fail a test, not wait for a benchmark. Run
  * against the real sf0.001 parquet tables so scans/pushdown behave as in
  * production, not as LocalTableScans. */
class PlanAuditSpec extends AnyFunSuite
    with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sfDir

  // Pin the AT-SCALE plan shapes: the input-spread repartition
  // (SparkEntry.spread) fires only for sub-split single-file inputs, so
  // at production scale it is absent by its size condition — disable it
  // here so every assertion below audits the plan a real corpus gets.
  // SpreadSpec pins the spread itself (when it fires, on what, and that
  // it is the only exchange it adds).
  override def beforeAll(): Unit =
    System.setProperty("graft.spread.max.bytes", "0")
  override def afterAll(): Unit =
    System.clearProperty("graft.spread.max.bytes")

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // AQE finalizes the executed plan
    df.queryExecution.executedPlan.toString
  }
  private def shuffles(name: String): Int = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    shuffleExchangeCount(df)
  }

  test("q01 pricing summary: two shuffles (countDistinct is 2-phase), codegen'd") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    // group-keys + (keys, l_orderkey) distinct pre-agg — the price of an
    // EXACT distinct; drop to approx_count_distinct to get 1 shuffle
    assert(shuffleExchangeCount(df) == 2)
    // "*(n)" prefixes are how toString marks WholeStageCodegen spans
    assert(graft.io.Bucketed.finalSection(df).contains("*("))
  }

  test("q02 top-k: TakeOrderedAndProject, zero shuffles (no global sort)") {
    assert(planOf("q02_top_orders").contains("TakeOrderedAndProject"))
    assert(shuffles("q02_top_orders") == 0)
  }

  test("q03 multi-join: the nation dimension is broadcast, never shuffled") {
    assert(planOf("q03_revenue_by_nation").contains("BroadcastHashJoin"))
  }

  test("q12 text profile: map-only — zero shuffles, no UDF nodes") {
    val plan = planOf("q12_text_profile")
    assert(shuffles("q12_text_profile") == 0)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLAppendPartition"))
  }

  test("q13 exact dedup: exactly one shuffle, on the 16-byte fingerprint") {
    assert(shuffles("q13_exact_dup_groups") == 1)
  }

  test("q59 vocab coverage: the global prefix sum never runs a " +
      "SinglePartition window") {
    val plan = planOf("q59_vocab_coverage")
    // the 100 TB cliff this operator avoids: sum() OVER (ORDER BY) plans
    // as Window over Exchange SinglePartition — q59 must use Packing's
    // two-pass scan instead (range repartition + broadcast bases)
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("q61 scrub: the drops join back to the corpus is broadcast — " +
      "corpus text stays out of every exchange") {
    val plan = planOf("q61_dedup_scrub")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // belt and braces: no sort-merge join anywhere in the scrub plan (the
    // corpus side would sort-shuffle its text column through an exchange)
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q64 sentence dedup: winner election shuffles scalars only; the " +
      "drops join back to the corpus is broadcast") {
    val plan = planOf("q64_sentence_dedup")
    // same contract as q61: corpus text never enters an exchange — the
    // unit fingerprint (one long) carries the election, the per-doc drop
    // list broadcasts back
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    val outs = shuffleOutputs("q64_sentence_dedup")
    assert(!outs.exists(_._1.toLowerCase == "text"),
      s"q64 shuffles raw text: $outs")
  }

  test("q65 unicode clean: map-only — zero shuffles, no UDF (native nfc)") {
    val plan = planOf("q65_unicode_clean")
    assert(shuffles("q65_unicode_clean") == 0, plan.take(3000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan.take(3000))
    assert(plan.contains("graft_nfc"), plan.take(3000))
  }

  test("q66 lm fluency: no shuffle carries the document text — only " +
      "bigram keys and counts move") {
    val outs = shuffleOutputs("q66_lm_fluency")
    assert(!outs.exists(_._1.toLowerCase == "text"),
      s"q66 shuffles raw text: $outs")
    assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q66 shuffles arrays: $outs")
  }

  test("q66b float log-perplexity: same exchange discipline as q66 — no " +
      "shuffle carries document text, one extra double per doc only") {
    val outs = shuffleOutputs("q66b_lm_logprob")
    assert(!outs.exists(_._1.toLowerCase == "text"),
      s"q66b shuffles raw text: $outs")
    assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q66b shuffles arrays: $outs")
  }

  test("q93 generic signature near-dup: banded self-join on (band, bits) " +
      "scalars; no UDF; signature built in the scan projection") {
    val plan = planOf("q93_signature_near_dup")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan.take(3000))
    val outs = shuffleOutputs("q93_signature_near_dup")
    assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q93 shuffles the embedding array: $outs")
  }

  test("q94 incremental signature near-dup: the delta probe broadcasts — " +
      "the standing index never shuffles; one exchange (the pair distinct)") {
    val df = SparkEntry.queries("q94_incr_signature_near_dup")(spark, sf)
    df.collect()
    val plan = graft.io.Bucketed.finalSection(df)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // a hash-partitioned exchange on the index side would be the
    // full-corpus cost the operator exists to avoid; the only shuffle
    // allowed is the candidate distinct on (doc_a, doc_b, hamming) scalars
    assert(graft.io.Bucketed.shuffleExchangeCount(df) == 1, plan.take(3000))
  }

  test("q67 corpus shuffle: one exchange (the shard partitioning the " +
      "write needs anyway), never a global sort") {
    val plan = planOf("q67_corpus_shuffle")
    assert(shuffles("q67_corpus_shuffle") == 1, plan.take(3000))
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("q69 bpe tokenize: the returned corpus pass is map-only — the " +
      "8-deep replace chain is one codegen'd projection") {
    val plan = planOf("q69_bpe_tokenize")
    assert(shuffles("q69_bpe_tokenize") == 0, plan.take(3000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan.take(3000))
  }

  test("q70/q71/q72: no exchange carries document text or an array " +
      "(fingerprints, drop lists, and scalar scores only)") {
    Seq("q70_ngram_decontam", "q71_incr_sentence_dedup",
        "q72_corpus_build2").foreach { q =>
      val outs = shuffleOutputs(q)
      assert(!outs.exists(_._1.toLowerCase == "text"),
        s"$q shuffles raw text: $outs")
      // q71/q72 drop lists are the one allowed small-array aggregate —
      // same contract as q61/q64 (they broadcast back; never corpus-wide)
      if (q == "q70_ngram_decontam")
        assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
          s"$q shuffles arrays: $outs")
    }
  }

  test("q74 quality classifier: no exchange carries document text or an " +
      "array — train and apply move (token, count) rows only") {
    val outs = shuffleOutputs("q74_quality_classifier")
    assert(!outs.exists(_._1.toLowerCase == "text"),
      s"q74 shuffles raw text: $outs")
    assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q74 shuffles arrays: $outs")
    // the 1-row totals frame must join broadcast (never a shuffled cross)
    assert(planOf("q74_quality_classifier").contains("BroadcastNestedLoopJoin") ||
      planOf("q74_quality_classifier").contains("BroadcastHashJoin"))
  }

  test("q75 dsir select: bigram strings never leave the projection — " +
      "exchanges carry only bucket longs and counts; topN is TakeOrdered") {
    val outs = shuffleOutputs("q75_dsir_select")
    assert(!outs.exists(o => o._1.toLowerCase == "text" || o._1 == "bg"),
      s"q75 shuffles text/bigrams: $outs")
    assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q75 shuffles arrays: $outs")
    assert(planOf("q75_dsir_select").contains("TakeOrderedAndProject"),
      planOf("q75_dsir_select").take(3000))
  }

  test("q80 embedding decontam: the benchmark side broadcasts (never a " +
      "shuffled cross) and no exchange carries a vector") {
    val plan = planOf("q80_embedding_decontam")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    val outs = shuffleOutputs("q80_embedding_decontam")
    assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q80 shuffles arrays: $outs")
  }

  test("q81 temperature mix: the rates table joins broadcast; exchanges " +
      "carry scalars only (never text or token arrays)") {
    val outs = shuffleOutputs("q81_temperature_mix")
    assert(!outs.exists(o => o._1.toLowerCase == "text" ||
      o._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q81 shuffles text/arrays: $outs")
    assert(planOf("q81_temperature_mix").contains("BroadcastHashJoin"),
      planOf("q81_temperature_mix").take(3000))
  }

  test("q82 cms: the sketch lookups broadcast and every exchange carries " +
      "scalar token/count rows only (never text or arrays)") {
    val plan = planOf("q82_cms_frequency")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    val outs = shuffleOutputs("q82_cms_frequency")
    assert(!outs.exists(o => o._1.toLowerCase == "text" ||
      o._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q82 shuffles text/arrays: $outs")
  }

  test("q83 hist quantiles: windows partition by group (never " +
      "SinglePartition) and exchanges carry scalar sketch rows only") {
    val plan = planOf("q83_hist_quantiles")
    assert(!plan.contains("Exchange SinglePartition"), plan.take(3000))
    val outs = shuffleOutputs("q83_hist_quantiles")
    assert(!outs.exists(o => o._1.toLowerCase == "text" ||
      o._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q83 shuffles text/arrays: $outs")
  }

  test("q84 exact-k sample: the k-bounded aggregator shape — no Window, " +
      "no global Sort, text never shuffled") {
    val plan = planOf("q84_exact_k_sample")
    assert(!plan.contains("Window") && !plan.contains("Sort [h"),
      plan.take(3000))
    val outs = shuffleOutputs("q84_exact_k_sample")
    assert(!outs.exists(o => o._1.toLowerCase == "text"),
      s"q84 shuffles text: $outs")
  }

  test("q77 corpus build v3: no exchange carries document text or an array " +
      "(the model-gate funnel moves scalars after the scoring fold)") {
    val outs = shuffleOutputs("q77_corpus_build3")
    assert(!outs.exists(o => o._1.toLowerCase == "text" ||
      o._1.toLowerCase == "clean_text"), s"q77 shuffles raw text: $outs")
    assert(!outs.exists(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType]),
      s"q77 shuffles arrays: $outs")
  }

  test("q16 simhash: signature + banding + verify stay out of UDF land") {
    val plan = planOf("q16_simhash_pairs")
    assert(plan.contains("graft_simhash64") || plan.contains("simhash"), plan.take(2000))
    assert(!plan.contains("BatchEvalPython"))
  }

  test("q31 distinctive terms: one scan of documents, two window shuffles") {
    val df = SparkEntry.queries("q31_distinctive_terms")(spark, sf)
    df.collect()
    val plan = graft.io.Bucketed.finalSection(df)
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan.take(3000))
    assert(shuffleExchangeCount(df) == 2)
    // Spark's rank-limit pushdown kicked in: per-partition top-k BEFORE
    // the doc_id shuffle — worth pinning, it is the scale-relevant part
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q38 repetition profile: map-only — zero shuffles, no UDFs, no explode") {
    val df = SparkEntry.queries("q38_repetition_profile")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(shuffleExchangeCount(df) == 0)
    // the top-word count must come from the sorted-array fold, not an
    // explode+groupBy (which would shuffle every token)
    assert(!plan.contains("Generate") && !plan.contains("BatchEvalPython"), plan.take(2000))
  }

  test("q39 pii scrub: map-only regexp chain, zero shuffles") {
    val df = SparkEntry.queries("q39_pii_scrub")(spark, sf)
    df.collect()
    assert(shuffleExchangeCount(df) == 0)
  }

  test("q40 bm25: df/corpus stats broadcast; top-k via TakeOrdered, no global sort") {
    val df = SparkEntry.queries("q40_bm25_search")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("q85 hybrid rrf: both legs TakeOrdered; no shuffle carries vectors or text") {
    val df = SparkEntry.queries("q85_hybrid_rrf")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // one TakeOrderedAndProject per leg (BM25 top-kLeg, cosine top-kLeg) —
    // a global Sort in either leg would be the corpus-scale cliff
    assert(plan.split("TakeOrderedAndProject").length >= 3, plan.take(3000))
    // embeddings/text stay at the scan: every exchange is scalar-only
    val outs = shuffleOutputs("q85_hybrid_rrf")
    val arrays = outs.filter(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(arrays.isEmpty, s"q85 shuffles array columns: $arrays")
    assert(!outs.exists(_._1.equalsIgnoreCase("text")),
      s"q85 shuffles raw text: $outs")
  }

  test("q87 indexed bm25: term filter below the postings agg; TakeOrdered top-k") {
    import org.apache.spark.sql.execution.{FilterExec, GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = SparkEntry.queries("q87_indexed_bm25")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // the query-term predicate must reach BELOW the postings aggregate —
    // a Filter above the agg would score the whole vocabulary. Pushed-down
    // shape: a Filter on `term` whose subtree reaches the explode WITHOUT
    // crossing another aggregate.
    def nodes(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      p +: kids.flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    val pushed = all.collect {
      case f: FilterExec if f.condition.toString.contains("term") &&
          nodes(f.child).exists(_.isInstanceOf[GenerateExec]) &&
          !nodes(f.child).exists(_.isInstanceOf[BaseAggregateExec]) => f
    }
    assert(pushed.nonEmpty,
      "no term filter directly over the explode:\n" + plan.take(3000))
  }

  test("q86 leakage split: assignment/audit exchanges are scalar-only") {
    val outs = shuffleOutputs("q86_leakage_split")
    val arrays = outs.filter(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType])
    assert(arrays.isEmpty, s"q86 shuffles array columns: $arrays")
    assert(!outs.exists(_._1.equalsIgnoreCase("text")),
      s"q86 shuffles raw text: $outs")
  }

  test("q41 stratified sample: the gate is map-side — only the summary agg shuffles") {
    val df = SparkEntry.queries("q41_stratified_sample")(spark, sf)
    df.collect()
    assert(shuffleExchangeCount(df) == 1)
  }

  test("x31: AQE splits the skewed join partition at runtime (skew=true)") {
    import org.apache.spark.sql.functions.{col, sum}
    graft.ops.SkewJoin.withSkewTestConfs(spark) {
      val j = graft.ops.SkewJoin.aqeSkewedJoin(spark)
        .agg(sum(col("v")))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(3000))
    }
  }

  test("x30: the fact scan carries a runtime dynamicpruning partition filter") {
    val df = SparkEntry.queries("x30_dynamic_pruning")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"), plan.take(3000))
  }

  /** Per-ShuffleExchange output attributes in the FINALIZED (AQE) plan,
    * including exchanges buried inside query stages: one inner Seq per
    * exchange. */
  private def shuffleOutputSets(name: String)
      : Seq[Seq[(String, org.apache.spark.sql.types.DataType)]] =
    shuffleOutputSetsOf(SparkEntry.queries(name)(spark, sf))

  private def shuffleOutputSetsOf(df: org.apache.spark.sql.DataFrame)
      : Seq[Seq[(String, org.apache.spark.sql.types.DataType)]] =
    exchangeOutputSetsOf(df,
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])

  /** Output attributes of every node `keep` selects in the FINALIZED (AQE)
    * plan, query stages included: one inner Seq per node. */
  private def exchangeOutputSetsOf(df: org.apache.spark.sql.DataFrame,
      keep: org.apache.spark.sql.execution.SparkPlan => Boolean)
      : Seq[Seq[(String, org.apache.spark.sql.types.DataType)]] =
    nodesOf(df, keep).map(_.output.map(a => a.name -> a.dataType))

  /** Every node `keep` selects in the FINALIZED (AQE) plan of `df`, query
    * stages included; runs `df` first. */
  private def nodesOf(df: org.apache.spark.sql.DataFrame,
      keep: org.apache.spark.sql.execution.SparkPlan => Boolean)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val self = if (keep(p)) Seq(p) else Nil
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      self ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
  private def shuffleOutputs(name: String)
      : Seq[(String, org.apache.spark.sql.types.DataType)] =
    shuffleOutputSets(name).flatten

  test("scrub-family reconstruction over a doc_id-bucketed corpus: the " +
      "corpus (text) side is exchange-free even with broadcast disabled") {
    // Pins the cluster-scale claim in Dedup.rebuildFromDrops's scaladoc:
    // at driver scale the drop arrays broadcast (q61/q64 pins above), but
    // on a heavy-dup corpus where they outgrow the broadcast threshold the
    // promised fallback is a doc_id-bucketed corpus whose bucket layout
    // the join reuses — only the tiny drops side exchanges; document text
    // never does. Broadcast is disabled to force that exact regime.
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scrub-bkt").toString
    val docs = (0L until 2000L)
      .map(i => (i, s"tok${i % 7} alpha beta gamma delta"))
      .toDF("doc_id", "text")
    graft.io.Bucketed.writeBucketed(
      docs, "graft_scrub_bkt_corpus", s"$dir/corpus", 8, "doc_id")
    val corpus = spark.table("graft_scrub_bkt_corpus")
    val drops = Seq((5L, Seq(0, 1)), (17L, Seq(2)), (23L, Seq(0)))
      .toDF("doc_id", "drops")
    try graft.ScopedConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = graft.ops.Dedup.rebuildFromDrops(corpus, drops, unitTokens = 1)
      val sets = shuffleOutputSetsOf(out)
      // exactly one exchange — the drops side aligning to the corpus's
      // bucket partitioning; a second one would mean the corpus text
      // column went through a shuffle
      assert(sets.size == 1, sets.map(_.map(_._1)))
      assert(sets.head.map(_._1.toLowerCase).toSet
        .subsetOf(Set("doc_id", "drops")), sets)
      // and the rebuilt rows are right where touched, untouched elsewhere
      val got = out.filter(col("doc_id").isin(5L, 17L, 1L))
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      assert(got(5L) == "beta gamma delta")
      assert(got(17L) == "tok3 alpha gamma delta")
      assert(got(1L) == "tok1 alpha beta gamma delta")
    } finally spark.sql("DROP TABLE IF EXISTS graft_scrub_bkt_corpus")
  }

  test("q58 incremental components: the corpus-scale prior never shuffles " +
      "(both prior joins broadcast; total shuffle records are delta-bounded)") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import spark.implicits._
    // prior: 50k vertices in groups of 5, labels already at the min-id
    // invariant. If EITHER of the two prior-touching joins stopped being
    // broadcast, ~50k records would cross an exchange and the record bound
    // below would trip — this pins both joins at once, quantitatively.
    val prior = spark.range(50000L).select(col("id"),
      (col("id") - pmod(col("id"), lit(5L))).as("component"))
    val delta = Seq((3L, 7L), (10000L, 20002L), (20003L, 30001L),
      (60001L, 60002L), (60002L, 10001L)).toDF("src", "dst")
    graft.ops.Components.incrementalComponents(prior, delta) { out =>
      out.collect()
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val self = p match { case _: ShuffleExchangeLike => Seq(p); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case o => o.children
        }
        self ++ kids.flatMap(walk)
      }
      val exchanges = walk(out.queryExecution.executedPlan)
      val shuffledRecords = exchanges.flatMap(_.metrics.collect {
        case (k, m) if k.toLowerCase.contains("recordswritten") => m.value
      }).sum
      assert(shuffledRecords < 5000,
        s"prior leaked into a shuffle: $shuffledRecords records across " +
          s"${exchanges.size} exchanges")
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    }
  }

  test("near-dup bucket joins: no shuffle carries an array or raw-text column") {
    // the 100 TB contract for q14/q15/q19: candidate generation shuffles
    // ONLY small fixed-width keys + ids; shingle sets / minhash signatures /
    // embedding vectors and the document text stay columnar at the scan and
    // re-join candidates by id — an Exchange carrying them would be the
    // classic near-dup scale-killer
    val rawText = Set("text", "body", "content", "html")
    Seq("q14_ngram_jaccard_pairs", "q15_minhash_lsh_pairs",
        "q19_embedding_neardup", "q16_simhash_pairs",
        "q55_incremental_neardup", "q56_dup_substrings").foreach { q =>
      val outs = shuffleOutputs(q)
      val arrays = outs.filter(_._2.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      assert(arrays.isEmpty, s"$q shuffles array columns: $arrays")
      val texts = outs.filter(o => rawText(o._1.toLowerCase))
      assert(texts.isEmpty, s"$q shuffles raw text columns: $texts")
    }
  }

  test("q55 incremental near-dup: the corpus index is probed map-side, " +
      "never shuffled") {
    // the point of the incremental path is cost ∝ delta: the delta's
    // bucket rows broadcast and probe the corpus index where it stands;
    // a SortMergeJoin would shuffle the full index — the exact
    // full-corpus cost this operator exists to avoid. The only shuffles
    // left are the candidate distinct's, carrying the id pair.
    val df = SparkEntry.queries("q55_incremental_neardup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    shuffleOutputSets("q55_incremental_neardup").foreach { s =>
      val names = s.map(_._1).toSet
      assert(names.subsetOf(Set("doc_a", "doc_b")),
        s"exchange carries more than the id pair: $names")
    }
  }

  test("near-dup verify: no broadcast carries a shingle array, and the " +
      "incremental verify shuffles O(delta) records, even when the planner " +
      "may broadcast nothing") {
    // with size-based broadcast off — the regime of a corpus too large to
    // broadcast — only hinted broadcasts remain; a hint on a frame holding
    // shingle arrays would ship corpus-sized arrays to every executor (and
    // through the driver) once candidates grow. The verify tail leaves its
    // build sides to the planner, so none is left.
    import org.apache.spark.sql.functions.{col, concat_ws, lit, pmod}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.types.ArrayType
    graft.ScopedConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Seq("q55_incremental_neardup", "q79_lsh_recall_audit").foreach { q =>
        val arrays = exchangeOutputSetsOf(SparkEntry.queries(q)(spark, sf),
          _.isInstanceOf[BroadcastExchangeLike]).flatten
          .filter(_._2.isInstanceOf[ArrayType])
        assert(arrays.isEmpty, s"$q broadcasts array columns: $arrays")
      }
      // the verify sort-merges here, so every doc on its docs side crosses
      // an exchange: 20k corpus docs of 8 scattered words, a delta of 20
      // exact copies of corpus docs. Verifying against the whole corpus
      // would shuffle >= 40k shingle rows; restricted to the touched docs
      // the total stays in the hundreds.
      def words(id: org.apache.spark.sql.Column) = concat_ws(" ",
        (1 to 8).map(k => concat_ws("", lit("w"),
          pmod(id * (7919L * k) + k * 104729L, lit(1000003L)).cast("string"))): _*)
      val corpus = spark.range(20000L)
        .select(col("id").as("doc_id"), words(col("id")).as("text"))
      val delta = spark.range(20L).select((col("id") + 100000L).as("doc_id"),
        words(col("id") * 100L).as("text"))
      val pairs = graft.ops.Dedup.incrementalMinhashPairs(corpus, delta,
        minJaccardBp = 2000L)
      val shuffles = nodesOf(pairs, _.isInstanceOf[ShuffleExchangeLike])
      assert(pairs.count() == 20, pairs.collect().toSeq)
      val shuffledRecords = shuffles.flatMap(_.metrics.collect {
        case (k, m) if k.toLowerCase.contains("recordswritten") => m.value
      }).sum
      assert(shuffledRecords < 1000,
        s"the corpus reached the verify shuffle: $shuffledRecords records " +
          s"across ${shuffles.size} exchanges")
    }
  }

  test("q52 cache pipeline: only the cache's distinct shuffles chunk text") {
    // the model-input materialization (distinct over unique chunks) is the
    // ONE exchange allowed to carry chunk_text; the probe/rejoin and the
    // per-doc merge must move hashes and ints only
    val sets = shuffleOutputSets("q52_chunk_cache_extract")
    val carryingText = sets.count(_.exists(_._1 == "chunk_text"))
    assert(carryingText <= 1, sets.map(_.map(_._1)).mkString("; "))
    assert(sets.nonEmpty)
  }

  test("q42 domain caps: k-bounded ObjectHashAggregate, no Window, one shuffle") {
    val df = SparkEntry.queries("q42_domain_caps")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(shuffleExchangeCount(df) == 1)
  }

  test("q97 rank-weighted sample: aggregator sample (no Window), quota " +
      "join broadcasts") {
    val df = SparkEntry.queries("q97_rank_weighted_sample")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the corpus-scale sample is the k-bounded Aggregator, never a Window
    assert(!plan.contains("Window"), plan.take(2000))
    // the stratum-cardinality quota frame broadcasts onto the sample
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("x73 cdc read: the delete leg's key join broadcasts — the data side " +
      "is never shuffled, and no SortMergeJoin appears") {
    val df = SparkEntry.queries("x73_cdc_read")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(shuffleExchangeCount(df) == 0, plan.take(3000))
  }

  test("x72 rollback read: the restored-state scan is the plain parquet " +
      "scan of the v1 files — no join, no exchange added by the rollback") {
    val df = SparkEntry.queries("x72_snapshot_rollback")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // no MoR anti-join in this lifecycle — the delegated read must
    // collapse to scan + generate (unnest), nothing else
    assert(!plan.contains("Join"), plan.take(3000))
    assert(shuffleExchangeCount(df) == 0, plan.take(3000))
  }
}
