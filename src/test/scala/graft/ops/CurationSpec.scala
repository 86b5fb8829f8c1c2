package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.TestSpark

class CurationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- connected components -------------------------------------------

  // the product labelling through both of its paths: the local union-find
  // tail (the default at this size) and the pure contraction rounds
  private def starLabels(edges: org.apache.spark.sql.DataFrame): Seq[Map[Long, Long]] =
    Seq(200000L, 0L).map(n => Components.connectedComponentsStar(edges,
      localSolveEdges = n).as[(Long, Long)].collect().toMap)

  test("components: transitivity across pairs that were never candidates") {
    // a-b, b-c, plus an unrelated d-e: two components {1,2,3} and {7,8}
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    starLabels(edges).foreach { got =>
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    }
  }

  test("components: long chain converges (diameter rounds, not 1)") {
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("src", "dst")
    starLabels(chain).foreach { got =>
      assert(got.values.toSet == Set(0L) && got.size == 12)
    }
  }

  test("components: direction and duplicate edges are irrelevant") {
    val e1 = Seq((5L, 4L), (4L, 5L), (5L, 4L), (4L, 3L)).toDF("src", "dst")
    starLabels(e1).foreach { got =>
      assert(got == Map(3L -> 3L, 4L -> 3L, 5L -> 3L))
    }
  }

  test("bestCopyKeepers: highest score wins, ties to lowest id, isolated " +
      "docs keep themselves") {
    // cluster {1,2,3}: doc 2 is longest -> keeper; cluster {7,8}: equal
    // scores -> tie to lowest id 7; doc 9 isolated -> its own keeper
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val scored = Seq((1L, 10L), (2L, 30L), (3L, 20L), (7L, 5L), (8L, 5L),
      (9L, 1L)).toDF("doc_id", "score")
    val got = Components.bestCopyKeepers(pairs, scored, localSolveEdges = 0L)
      .select("doc_id", "component", "keeper_id", "kept")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((1L, 2L, false)), 2L -> ((1L, 2L, true)), 3L -> ((1L, 2L, false)),
      7L -> ((7L, 7L, true)), 8L -> ((7L, 7L, false)),
      9L -> ((9L, 9L, true))))
  }

  test("bestCopyKeepers: a score or id outside the composite-key range " +
      "raises instead of silently electing a wrong keeper") {
    // score*2^32 - id overflows Long at score >= 2^31 and misorders at
    // id >= 2^32 — the guard fires in the key projection itself
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val badScore = Seq((1L, 1L << 31), (2L, 5L)).toDF("doc_id", "score")
    val e1 = intercept[Exception] {
      Components.bestCopyKeepers(pairs, badScore, localSolveEdges = 0L)
        .collect()
    }
    assert(e1.getMessage.contains("composite argmax key") ||
      Option(e1.getCause).exists(_.getMessage.contains("composite argmax key")))
    // the oversized id is an isolated doc (absent from pairs) so the
    // guard in the key projection is what fires, not the contraction
    val badId = Seq((1L, 10L), (2L, 5L), (1L << 32, 5L))
      .toDF("doc_id", "score")
    val e2 = intercept[Exception] {
      Components.bestCopyKeepers(pairs, badId, localSolveEdges = 0L)
        .collect()
    }
    assert(e2.getMessage.contains("composite argmax key") ||
      Option(e2.getCause).exists(_.getMessage.contains("composite argmax key")))
  }

  test("star contraction equals min-label propagation on random graphs") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      val df = edges.toDF("src", "dst")
      val prop = MinLabelComponents.connectedComponents(df).as[(Long, Long)].collect().toMap
      // default = hybrid (local union-find tail); localSolveEdges = 0
      // forces the pure-distributed contraction — all three row-identical
      val star = Components.connectedComponentsStar(df).as[(Long, Long)].collect().toMap
      val dist = Components.connectedComponentsStar(df, localSolveEdges = 0L)
        .as[(Long, Long)].collect().toMap
      assert(star == prop)
      assert(dist == prop)
    }
  }

  test("star contraction: a 40-hop chain resolves (log rounds, not diameter cap)") {
    val chain = (100L until 140L).sliding(2).map(s => (s(1), s(0))).toSeq
      .toDF("src", "dst")
    // localSolveEdges = 0: the claim under test is the DISTRIBUTED round
    // count, so the local-solve tail must not short-circuit it
    val got = Components.connectedComponentsStar(chain, maxIter = 12,
        localSolveEdges = 0L)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 40 && got.values.toSet == Set(100L))
  }

  test("star contraction: mid-flight local-solve handoff (threshold between " +
      "rounds) matches the pure-distributed labels") {
    // a graph big enough that round 1 exceeds the threshold but the
    // contracted remnant crosses it mid-loop: 3 long chains + noise
    val rnd = new scala.util.Random(7)
    val chains = (0 until 3).flatMap { c =>
      val base = c * 1000L
      (base until base + 50L).sliding(2).map(s => (s(1), s(0))).toSeq
    }
    val noise = Seq.fill(60)((rnd.nextInt(200).toLong + 5000L,
      rnd.nextInt(200).toLong + 5000L)).filter(p => p._1 != p._2)
    val df = (chains ++ noise).toDF("src", "dst")
    val dist = Components.connectedComponentsStar(df, localSolveEdges = 0L)
      .as[(Long, Long)].collect().toMap
    val mid = Components.connectedComponentsStar(df, localSolveEdges = 40L)
      .as[(Long, Long)].collect().toMap
    assert(mid == dist)
  }

  test("star contraction: self-loops and isolated-by-self-loop vertices") {
    val df = Seq((5L, 5L), (1L, 2L)).toDF("src", "dst")
    val got = Components.connectedComponentsStar(df).as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
  }

  test("dupClusters summarizes component sizes under the min-id label") {
    val pairs = Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Components.dupClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 3L, 20L -> 2L))
  }

  test("dupClusters includeIsolatedFrom adds singleton rows for pair-less docs") {
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("doc_a", "doc_b")
    val all = (10L to 15L).toDF("doc_id")
    val got = Components.dupClusters(pairs, includeIsolatedFrom = Some(all))
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 3L, 13L -> 1L, 14L -> 1L, 15L -> 1L))
  }

  test("tokenBudgetMix: budget is a floor, append-stable, per-stratum") {
    val docs = Seq(
      (1L, "a", 40L), (2L, "a", 40L), (3L, "a", 40L), // a: 40+40 < 100 -> 3 kept (crossing doc included), 4 not
      (4L, "a", 40L),
      (1L, "b", 500L), (2L, "b", 1L))                 // b: first doc alone crosses -> only it
      .toDF("doc_id", "source", "n_tokens")
    val kept = Curation.tokenBudgetMix(docs, "source", "doc_id", "n_tokens",
        budgets = Map("b" -> 100L), defaultBudget = 100L)
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    assert(kept == Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 1L)))
    // append-stability: new higher-id docs never change the kept set
    val grown = docs.union(Seq((9L, "a", 5L), (9L, "b", 5L))
      .toDF("doc_id", "source", "n_tokens"))
    val kept2 = Curation.tokenBudgetMix(grown, "source", "doc_id", "n_tokens",
        budgets = Map("b" -> 100L), defaultBudget = 100L)
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    assert(kept2 == kept)
  }

  test("incrementalComponents == full recompute over the edge union (property)") {
    val rnd = new scala.util.Random(31)
    for (_ <- 1 to 3) {
      val batch = Seq.fill(35)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter(p => p._1 != p._2)
      // delta ids range past the batch's: mixes old-old, old-new, new-new
      val delta = Seq.fill(15)((rnd.nextInt(70).toLong, rnd.nextInt(70).toLong))
        .filter(p => p._1 != p._2)
      val prior = Components.connectedComponentsStar(batch.toDF("src", "dst"))
      val inc = Components.incrementalComponents(prior, delta.toDF("src", "dst"))(
        _.as[(Long, Long)].collect().toMap)
      val full = Components.connectedComponentsStar((batch ++ delta).toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(inc == full)
    }
  }

  test("incrementalComponents: delta merging two components relabels BOTH to the global min") {
    val prior = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("id", "component")
    val delta = Seq((2L, 11L)).toDF("src", "dst")
    val got = Components.incrementalComponents(prior, delta)(
      _.as[(Long, Long)].collect().toMap)
    assert(got == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L))
  }

  test("incrementalComponents: intra-component delta pairs and empty deltas are no-ops") {
    val prior = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("id", "component")
    val redundant = Components.incrementalComponents(prior,
        Seq((1L, 2L)).toDF("src", "dst"))(_.as[(Long, Long)].collect().toMap)
    val empty = Components.incrementalComponents(prior,
        spark.emptyDataset[(Long, Long)].toDF("src", "dst"))(
      _.as[(Long, Long)].collect().toMap)
    val want = Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L)
    assert(redundant == want && empty == want)
  }

  test("incrementalComponents: a brand-new chain attaches through one old endpoint") {
    val prior = Seq((5L, 5L), (6L, 5L)).toDF("id", "component")
    // 100-101-102 all new, 102 linking to old vertex 6: one component min 5
    val delta = Seq((100L, 101L), (101L, 102L), (102L, 6L)).toDF("src", "dst")
    val got = Components.incrementalComponents(prior, delta)(
      _.as[(Long, Long)].collect().toMap)
    assert(got == Map(5L -> 5L, 6L -> 5L, 100L -> 5L, 101L -> 5L, 102L -> 5L))
  }

  test("components: partial propagation FAILS loudly instead of returning wrong labels") {
    // one contraction round cannot reach the star forest of an 11-hop
    // chain: the result would be silently wrong — require fires
    // (localSolveEdges = 0 keeps the local tail from finishing the job)
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Components.connectedComponentsStar(chain, maxIter = 1,
        localSolveEdges = 0L).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("durable checkpointing: star == min-label, lineage cut through the dir") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    val df = edges.toDF("src", "dst")
    val prop = MinLabelComponents.connectedComponents(df, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    val star = Components.connectedComponentsStar(df, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(star == prop && prop.nonEmpty)
    // the durable variant really wrote checkpoint data (executor-loss safety)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .anyMatch(p => java.nio.file.Files.isRegularFile(p))
    assert(wrote, "no checkpoint files written under the durable dir")
  }

  // ---- repetition profile ---------------------------------------------

  private def profileOf(text: String): (Long, Long, Long, Long, Long, Boolean) = {
    val df = Seq((1L, text)).toDF("doc_id", "text")
    Curation.repetitionProfile(df)
      .select("n_words", "distinct_word_bp", "top_word_bp", "dup_bigram_bp",
        "dup_trigram_bp", "keep")
      .as[(Long, Long, Long, Long, Long, Boolean)].head()
  }

  test("repetition: all-same-word doc is maximally repetitive and dropped") {
    val (n, dw, tw, db, dt, keep) = profileOf("spam spam spam spam")
    assert(n == 4 && dw == 2500 && tw == 10000)
    assert(db == 6666 && dt == 5000) // 3 bigrams 1 distinct; 2 trigrams 1 distinct
    assert(!keep)
  }

  test("repetition: all-distinct doc is clean and kept") {
    val (n, dw, tw, db, dt, keep) = profileOf("alpha beta gamma delta")
    assert(n == 4 && dw == 10000 && tw == 2500 && db == 0 && dt == 0 && keep)
  }

  test("repetition: alternating bigram loop caught by the n-gram rule") {
    val (_, _, _, db, dt, keep) = profileOf("a b a b a b a b")
    // 7 bigrams, 2 distinct -> floor(5*10000/7); 6 trigrams, 2 distinct
    assert(db == 7142 && dt == 6666 && !keep)
  }

  test("repetition: doc shorter than n yields empty n-gram metrics, not an error") {
    val (n, _, _, db, dt, _) = profileOf("solo")
    assert(n == 1 && db == 0 && dt == 0)
  }

  // ---- PII scrub -------------------------------------------------------

  test("pii: all four pattern families redacted and counted") {
    val df = Seq((1L,
      "mail bob.smith+x@corp.example.org call +44-20-7946-0958 " +
        "from 10.0.0.255 pay 4111 1111 1111 1234 thanks")).toDF("id", "t")
    val got = Curation.piiScrub(df, "t").select("scrubbed", "n_redactions")
      .as[(String, Long)].head()
    assert(got._1 ==
      "mail <EMAIL> call <PHONE> from <IP> pay <CARD> thanks")
    assert(got._2 == 4L)
  }

  test("pii: clean text passes through with zero redactions") {
    val df = Seq((1L, "nothing sensitive here 12 34")).toDF("id", "t")
    val got = Curation.piiScrub(df, "t").select("scrubbed", "n_redactions")
      .as[(String, Long)].head()
    assert(got._1 == "nothing sensitive here 12 34" && got._2 == 0L)
  }

  test("pii: replacement tokens cannot cascade into later patterns") {
    // an email whose local part looks numeric must not leave digits that
    // the card/phone patterns then match
    val df = Seq((1L, "x 4111111111111111@mail.com y")).toDF("id", "t")
    val got = Curation.piiScrub(df, "t").select("scrubbed", "n_redactions")
      .as[(String, Long)].head()
    assert(got._1 == "x <EMAIL> y" && got._2 == 1L)
  }

  // ---- stratified sample ----------------------------------------------

  private val docs = Seq.tabulate(200)(i =>
    (i.toLong, s"s${i % 4}", 10L + i)).toDF("doc_id", "source", "n_chars")

  test("stratified: rate 0 drops the stratum, rate 100 keeps it whole") {
    val kept = Curation.stratifiedSample(docs, "source", "doc_id",
      Map("s0" -> 0, "s1" -> 100), defaultRate = 50, salt = ":t")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(!kept.contains("s0"))
    assert(kept("s1") == 50L)
    assert(kept("s2") > 0 && kept("s2") < 50)
  }

  test("stratified: deterministic across runs and repartitionings") {
    def run(parts: Int) = Curation.stratifiedSample(
      docs.repartition(parts), "source", "doc_id",
      Map("s0" -> 30), defaultRate = 70, salt = ":t")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(run(1) == run(7))
  }

  test("temperature mix: smallest stratum keeps 100%, a 4x-larger one " +
      "keeps 50% (alpha=0.5); deterministic across partitionings") {
    // s0: 400 tokens total, s1: 100 -> rate_s0 = floor(100*sqrt(1/4)) = 50
    val tdocs = (Seq.tabulate(100)(i => (i.toLong, "s0", 4L)) ++
      Seq.tabulate(25)(i => (1000L + i, "s1", 4L)))
      .toDF("doc_id", "source", "n_tokens")
    val out = Curation.temperatureMix(tdocs, "source", "doc_id",
      "n_tokens", salt = ":t")
    val rates = out.groupBy("source").agg(max("rate_pct"))
      .as[(String, Int)].collect().toMap
    assert(rates("s1") == 100 && rates("s0") == 50)
    // the smallest stratum is kept WHOLE (bucket < 100 is always true)
    assert(out.filter(col("source") === "s1").count() == 25)
    def run(p: Int) = Curation.temperatureMix(tdocs.repartition(p),
        "source", "doc_id", "n_tokens", salt = ":t")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(run(1) == run(7))
  }

  test("exactKSample: exactly k per stratum (all, when smaller), " +
      "append-consistent, partitioning-invariant") {
    val docs = (Seq.tabulate(60)(i => (i.toLong, "big")) ++
      Seq.tabulate(3)(i => (1000L + i, "tiny")))
      .toDF("doc_id", "source")
    val out = Curation.exactKSample(docs, "source", "doc_id", 5, ":t")
      .as[(String, Long, Int)].collect()
    assert(out.count(_._1 == "big") == 5 && out.count(_._1 == "tiny") == 3)
    assert(out.filter(_._1 == "tiny").map(_._3).sorted.toSeq == Seq(1, 2, 3))
    // append consistency: sampling the 60-doc prefix then re-sampling
    // after 40 more docs keeps every prefix member whose hash still ranks
    val before = Curation.exactKSample(
        docs.filter(col("source") === "big"), "source", "doc_id", 5, ":t")
      .as[(String, Long, Int)].collect().map(_._2).toSet
    val more = (Seq.tabulate(60)(i => (i.toLong, "big")) ++
      Seq.tabulate(40)(i => (2000L + i, "big"))).toDF("doc_id", "source")
    val after = Curation.exactKSample(more, "source", "doc_id", 5, ":t")
      .as[(String, Long, Int)].collect().map(_._2).toSet
    assert((after -- (2000L until 2040L).toSet).subsetOf(before))
    def run(p: Int) = Curation.exactKSample(docs.repartition(p),
        "source", "doc_id", 5, ":t")
      .as[(String, Long, Int)].collect().sorted.toSeq
    assert(run(1) == run(7))
  }

  // ---- chunking -------------------------------------------------------

  test("chunkDocs: stride layout, overlap, and ragged tail") {
    val text = (1 to 50).map(i => s"t$i").mkString(" ")
    val got = Curation.chunkDocs(Seq((1L, text)).toDF("doc_id", "text"),
        window = 32, overlap = 8)
      .select("chunk_idx", "tok_start", "n_tokens", "chunk_text")
      .as[(Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got.map(c => (c._1, c._2, c._3)).toSeq ==
      Seq((0, 0, 32), (1, 24, 26), (2, 48, 2)))
    // consecutive chunks share exactly the 8-token overlap
    val c0 = got(0)._4.split(" ")
    val c1 = got(1)._4.split(" ")
    assert(c0.takeRight(8).sameElements(c1.take(8)))
    assert(got(2)._4 == "t49 t50")
  }

  test("chunkDocs: a doc shorter than the window is one whole chunk") {
    val got = Curation.chunkDocs(Seq((1L, "a b c")).toDF("doc_id", "text"),
        window = 32, overlap = 8)
      .select("chunk_idx", "n_tokens").as[(Int, Int)].collect().toSeq
    assert(got == Seq((0, 3)))
  }

  test("cachedChunkExtract: duplicate chunks are processed once, results fan back out") {
    // doc 1 and doc 2 share IDENTICAL text -> every chunk is a cache hit
    // for the other doc; doc 3 is distinct. 8 tokens at window 4 / overlap
    // 2 (stride 2) -> chunk starts 0,2,4,6 = 4 chunks/doc.
    val text = "a b c d e f g h"
    val df = Seq((1L, text), (2L, text), (3L, "x y z")).toDF("doc_id", "text")
    val got = Curation.cachedChunkExtract(df, window = 4, overlap = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L)._2 == 4 && got(1L)._3 == 4) // 4 chunks, 4 unique
    // identical docs merge identically — the cache returned the same results
    assert(got(1L).copy(_1 = 0L) == got(2L).copy(_1 = 0L))
    // "x y z": chunk starts 0 and 2 -> [x y z], [z]
    assert(got(3L)._2 == 2 && got(3L)._3 == 2)
    // the distinct side saw each unique chunk once: global uniques = 4 + 2
    val keyed = Curation.chunkDocs(df, 4, 2)
      .select(org.apache.spark.sql.functions.md5($"chunk_text")).distinct().count()
    assert(keyed == 6)
  }

  // ---- profiler -------------------------------------------------------

  test("tableStats: counts, nulls, distincts, typed min/max") {
    val df = Seq((1L, Some("b"), 5), (2L, None, 11), (3L, Some("a"), 5))
      .toDF("id", "s", "v")
    val got = Profiler.tableStats(df, Seq("id", "s", "v"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("id") == (("id", 3L, 0L, 3L, "1", "3")))
    assert(got("s") == (("s", 3L, 1L, 2L, "a", "b")))
    // numeric min/max, not lexicographic: min 5, max 11 (lex would say "11" < "5")
    assert(got("v") == (("v", 3L, 0L, 2L, "5", "11")))
  }

  test("components: empty edge set yields an empty labeling, no hang") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(MinLabelComponents.connectedComponents(empty).count() == 0)
    assert(Components.connectedComponentsStar(empty).count() == 0)
  }

  test("chunkDocs rejects invalid window/overlap combinations") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](Curation.chunkDocs(df, 0, 0))
    intercept[IllegalArgumentException](Curation.chunkDocs(df, 16, 16))
    intercept[IllegalArgumentException](Curation.chunkDocs(df, 16, -1))
  }

  test("stratifiedSample rejects out-of-range rates") {
    val df = Seq((1L, "s", 1L)).toDF("doc_id", "source", "n_chars")
    intercept[IllegalArgumentException](
      Curation.stratifiedSample(df, "source", "doc_id", Map("s" -> 101), 50, ":x"))
    intercept[IllegalArgumentException](
      Curation.stratifiedSample(df, "source", "doc_id", Map.empty, -1, ":x"))
  }

  // ---- gate vs composed operators, randomized -------------------------

  test("gateKeep equals the composed batch gates on random corpora") {
    val rnd = new scala.util.Random(21)
    val vocab = Seq("the", "a", "of", "and", "el", "la", "de", "spam",
      "table", "fast") ++ (1 to 40).map(i => s"w$i")
    val docs = Seq.tabulate(60) { i =>
      val len = rnd.nextInt(120)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val viaGate = Curation.gateKeep(docs)
      .filter(col("curation_keep")).select("doc_id")
      .as[Long].collect().sorted.toSeq
    val prof = TextAnalysis.profile(docs)
      .filter(col("lang_pred") === "en" && col("quality_bp") >= 6000)
      .select("doc_id")
    val rep = Curation.repetitionProfile(docs).filter(col("keep")).select("doc_id")
    val viaBatch = prof.join(rep, "doc_id").as[Long].collect().sorted.toSeq
    assert(viaGate == viaBatch)
  }

  test("gate filter evaluates the materialized flag, not a re-inlined metric forest") {
    val docs = Seq.tabulate(20)(i => (i.toLong, s"w$i the a of and fast table"))
      .toDF("doc_id", "text")
    val df = Curation.gateKeep(docs).filter(col("curation_keep"))
    df.collect()
    val filters = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.toString
    }
    // without the pushdown barrier, Catalyst substitutes the whole
    // tokenize/sort/fold forest into this predicate (measured 30x cost)
    assert(filters.nonEmpty)
    assert(!filters.exists(_.contains("lambdafunction")), filters.mkString("; "))
  }

  // ---- BM25 -----------------------------------------------------------

  test("bm25: the term-stuffed doc outranks casual mentions, ranks deterministic") {
    val corpus = Seq(
      (1L, "join join join join join"),
      (2L, "a join here and a stream there"),
      (3L, "stream stream stream"),
      (4L, "nothing relevant at all"),
      (5L, "window window join stream window")).toDF("doc_id", "text")
    val got = Search.bm25TopK(corpus, Seq("join", "stream", "window"), k = 3)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    // doc 5 hits all three terms; doc 4 never appears
    assert(got.keySet.contains(5L) && !got.keySet.contains(4L))
    assert(got.values.toSeq.sorted == Seq(1, 2, 3))
  }

  test("corpusShuffle: deterministic permutation, dense per-shard positions") {
    val docs = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Curation.corpusShuffle(docs, "doc_id", nShards = 4, seed = 7L)
      .select("doc_id", "shard", "pos", "shuffle_key")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out.map(_._1).toSet == (0L until 200L).toSet)
    assert(out.forall(r => r._2 >= 0 && r._2 < 4))
    // positions dense 0..size-1 per shard, ordered by (key, id)
    out.groupBy(_._2).foreach { case (_, rows) =>
      val sorted = rows.sortBy(r => (r._4, r._1))
      assert(sorted.map(_._3) == rows.indices.map(_.toLong))
    }
    // run-to-run and partitioning-invariant: same result from a repartition
    val again = Curation.corpusShuffle(docs.repartition(13), "doc_id",
        nShards = 4, seed = 7L)
      .select("doc_id", "shard", "pos", "shuffle_key")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(again.sortBy(_._1) == out.sortBy(_._1))
    // a different seed is a different permutation
    val other = Curation.corpusShuffle(docs, "doc_id", nShards = 4, seed = 8L)
      .select("doc_id", "shard", "pos")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(other != out.map(r => (r._1, r._2, r._3)).sortBy(_._1))
  }

  test("leakageSafeSplit: clusters move as units, audit pins zero cross-split pairs") {
    val docs = (0L until 40L).map(i => (i, s"doc $i", 100L + i))
      .toDF("doc_id", "text", "n_chars")
    // two chains (0-1-2, 10-11) and a standalone pair (20,21); rest isolated
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L))
      .toDF("doc_a", "doc_b")
    val out = Curation.leakageSafeSplit(docs, pairs, trainPct = 50)
      .select("split", "n_groups", "n_docs", "total_chars", "cross_pairs")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // audit invariant: no near-dup pair straddles the split
    assert(out.values.forall(_._4 == 0L))
    // totals add up: 40 docs, 36 groups (33 isolated + 3 clusters of 7 docs)
    assert(out.values.map(_._2).sum == 40L)
    assert(out.values.map(_._1).sum == 36L)
    assert(out.values.map(_._3).sum == (0L until 40L).map(100L + _).sum)
    // direct check that each cluster is entirely on one side
    val labeled = Curation.leakageSafeSplitAssignments(docs, pairs, trainPct = 50)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    Seq(Seq(0L, 1L, 2L), Seq(10L, 11L), Seq(20L, 21L)).foreach { cluster =>
      assert(cluster.map(labeled).distinct.size == 1, s"cluster $cluster split")
    }
  }

  test("leakageSafeSplit and packSegments release what they materialize") {
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val docs = (0L until 40L).map(i => (i, s"doc $i", 100L + i))
      .toDF("doc_id", "text", "n_chars")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val weights = (0L until 200L).map(i => (i, (i * 7 % 23) + 1))
      .toDF("doc_id", "n_tokens")
    val before = sc.getPersistentRDDs.keySet
    (1 to 3).foreach { _ =>
      Curation.leakageSafeSplit(docs, pairs, trainPct = 50).collect()
      Packing.packSegments(weights, "doc_id", "n_tokens", budget = 16).collect()
    }
    // a local checkpoint is weakly held and goes once its frame is
    // collected; a cached frame nobody released stays for the session,
    // where later queries over the same tables match it
    eventually(timeout(30.seconds), interval(1.second)) {
      System.gc()
      val left = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
      assert(left.isEmpty, left.values.map(r => s"${r.id} ${r.name}").mkString("; "))
    }
  }

  test("hybridRrf: fused ranking equals manual RRF of the two legs; leg-null semantics") {
    val corpus = Seq(
      (1L, "join join join join join"),
      (2L, "a join here and a stream there"),
      (3L, "stream stream stream"),
      (4L, "nothing relevant at all"),
      (5L, "window window join stream window")).toDF("doc_id", "text")
    // vec 0 is the query; doc 4 is its exact match (vector rank 1) but has
    // no query terms, so it must surface with rank_text NULL
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(-1.0f, 0.2f)),
      (2L, Array(0.9f, 0.3f)), (3L, Array(0.0f, 1.0f)),
      (4L, Array(1.0f, 0.0f)), (5L, Array(-0.5f, -0.5f)))
      .toDF("vec_id", "embedding")
    val terms = Seq("join", "stream", "window")
    val got = Search.hybridRrf(corpus, emb, terms, queryVecId = 0L,
        k = 10, kLeg = 5)
      .select("doc_id", "rank", "rank_text", "rank_vec", "score_nano")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getLong(4))).toSeq
    // manual fusion from the two legs
    val text = Search.bm25TopK(corpus, terms, 5)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    val vec = graft.ops.Similarity
      .bruteKnn(emb, emb.filter($"vec_id" === 0L), 5)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    val want = (text.keySet ++ vec.keySet).toSeq.map { d =>
      val s = text.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        vec.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (d, text.getOrElse(d, -1), vec.getOrElse(d, -1), s)
    }.sortBy { case (d, _, _, s) => (-s, d) }.zipWithIndex.map {
      case ((d, rt, rv, s), i) => (d, i + 1, rt, rv, math.floor(s * 1e9).toLong)
    }
    assert(got == want)
    // doc 4 reachable only through the vector leg
    val d4 = got.find(_._1 == 4L).get
    assert(d4._3 == -1 && d4._4 == 1)
    // a doc present in BOTH legs outranks every single-leg doc: scores say
    // 1/(60+r1)+1/(60+r2) > 1/61 whenever r1,r2 <= 58
    val both = got.filter(r => r._3 > 0 && r._4 > 0).map(_._2)
    val single = got.filter(r => r._3 < 0 || r._4 < 0).map(_._2)
    if (both.nonEmpty && single.nonEmpty) assert(both.max < single.min)
  }

  test("sourceOverlapMatrix: hand-computed containment/Jaccard; disjoint pairs absent") {
    val docs = Seq(
      (1L, "a b c d", "srcA"),   // shingles: "a b c", "b c d"
      (2L, "a b c x", "srcB"),   // shingles: "a b c", "b c x"
      (3L, "p q r s t", "srcC")  // disjoint from A and B
    ).toDF("doc_id", "text", "source")
    val got = Dedup.sourceOverlapMatrix(docs)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7)))).toMap
    // only the overlapping pair appears
    assert(got.keySet == Set(("srcA", "srcB")))
    val (nCommon, nA, nB, jac, contA, contB) = got(("srcA", "srcB"))
    assert(nCommon == 1 && nA == 2 && nB == 2)
    assert(jac == 10000 / 3)        // 1 of 3 distinct shingles
    assert(contA == 5000 && contB == 5000)
  }

  test("indexed bm25: incremental index == build-once index == direct scan") {
    val corpus = Seq(
      (1L, "join join join join join"),
      (2L, "a join here and a stream there"),
      (3L, "stream stream stream"),
      (4L, "nothing relevant at all"),
      (5L, "window window join stream window"),
      (6L, "")).toDF("doc_id", "text") // empty doc still counts in stats
    val terms = Seq("join", "stream", "window")
    val direct = Search.bm25TopK(corpus, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // build-once
    val (p, st) = Search.buildIndex(corpus)
    val once = Search.bm25FromIndex(p, st, terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // incremental: two batches, appended
    val (pA, sA) = Search.buildIndex(corpus.filter($"doc_id" <= 3))
    val (pB, sB) = Search.buildIndex(corpus.filter($"doc_id" > 3))
    val incr = Search.bm25FromIndex(pA.unionByName(pB), sA.unionByName(sB),
        terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(direct.sorted == once.sorted)
    assert(direct.sorted == incr.sorted)
    // the index's doc-stat side must count term-less and empty docs
    assert(st.count() == 6)
  }

  test("bm25: rarer term carries a higher idf weight") {
    val corpus = (1L to 9L).map(i => (i, "common common filler")) :+
      (10L, "rare common")
    val got = Search.bm25TopK(corpus.toDF("doc_id", "text"),
      Seq("rare", "common"), k = 10)
      .select("doc_id", "rank").as[(Long, Int)].collect().toMap
    assert(got(10L) == 1) // the only doc with the rare term ranks first
  }
  test("rankWeightedSample: quotas proportional to rank, exact and hash-stable") {
    import spark.implicits._
    val docs = ((0 until 10).map(i => ("a", i.toLong)) ++
      (0 until 10).map(i => ("b", 100L + i)) ++
      (0 until 4).map(i => ("c", 200L + i))) // c has NO rank row -> dropped
      .toDF("source", "doc_id")
    val ranks = Seq(("a", 300L), ("b", 100L)).toDF("source", "rank")
    val got = Curation.rankWeightedSample(docs, "source", "doc_id", ranks,
      totalK = 4, salt = ":t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    // tot = 400: quota_a = (300*4) DIV 400 = 3, quota_b = max(1, 1) = 1
    assert(got.count(_._1 == "a") == 3 && got.count(_._1 == "b") == 1)
    assert(!got.exists(_._1 == "c"))
    assert(got.forall(r => r._3 <= r._4))
    // determinism: same picks on a different partitioning
    val again = Curation.rankWeightedSample(docs.repartition(7), "source",
      "doc_id", ranks, totalK = 4, salt = ":t")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    assert(got.sortBy(r => (r._1, r._3)).sameElements(
      again.sortBy(r => (r._1, r._3))))
  }
}