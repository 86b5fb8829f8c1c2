package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Components, Dedup, LinkGraph, Similarity}

/** Beyond-bench scale validation for the LOOP operators (the star
  * contraction and IVF families), whose per-run cost is dominated by a
  * fixed job count at driver scale — the one cost shape the sf0.1 bench
  * cannot distinguish from "grows with the data". This harness runs the
  * same operator code over synthetic corpora of the driver tables' shape
  * (scripts/gen_scaled_docs.py, seed-fixed) at two or more sizes and
  * reports, per corpus:
  *
  *  - wall-clock (min over SPARK_GRAFT_SCALE_REPS interleaved passes) and
  *    output rows for each operator, and
  *  - through [[Components.connectedComponentsStar]]'s onRound observer:
  *    the deduped edge count, the contraction's rounds-to-converge, and
  *    the per-round surviving-edge sequence — the direct evidence that
  *    round count tracks cluster diameter (O(log² d)), not corpus size.
  *
  * The n-gram pair stage runs with SPARK_GRAFT_SHINGLE_N (default 5): the
  * generator's vocabulary is CLOSED (31 words), so the shingle space must
  * grow with the corpus — the documented escape hatch (BASELINE.md,
  * SCALING.md lesson 2). 5-grams (31⁵ ≈ 28.6M) re-linearize 50k docs but
  * saturate again near 500k (≈23M shingle instances drawn from that
  * space), so the 500k run needs shingleN=7. Open-vocabulary web text
  * does not saturate; this is a property of the 31-word synthetic corpus.
  *
  * Usage: SPARK_GRAFT_SCALE_CPUS=8 sbt 'runMain graft.ScaleCheck DIR...'
  * where each DIR holds documents.parquet + embeddings.parquet. Prints one
  * JSON line per corpus AND writes the whole run to
  * SPARK_GRAFT_SCALE_OUT (default `scale_out.json`) as one JSON document
  * — the committed round artifact, so successive rounds' 100× runs can be
  * diffed the way BENCH_r*.json diffs the bench; BASELINE.md's scale
  * table is generated from it.
  */
object ScaleCheck {

  private def session(cores: Int): SparkSession =
    LocalSpark.builder("graft-scale-check", cores)
      // the corpora are one ~50 MB file per table: split them across all
      // cores (default 128 MB would hand each table to a single task)
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      // Spark's default coalescing, so the scale table compares with earlier rounds
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "false")
      .getOrCreate()

  /** Collects the contraction's round trace: initial deduped edges
    * (round -1), surviving edges after each round, and the local-tail
    * hand-off marker (edgesLeft == -1). */
  private final class RoundTrace {
    val rounds = scala.collection.mutable.ArrayBuffer[(Int, Long)]()
    def hook: (Int, Long) => Unit = (r, e) => rounds.synchronized {
      rounds += ((r, e))
    }
    def initialEdges: Long =
      rounds.find(_._1 == -1).map(_._2).getOrElse(-1L)
    def contractionRounds: Int =
      rounds.count { case (r, e) => r >= 1 && e >= 0 }
    def handedToLocalTail: Boolean = rounds.exists(_._2 == -1L)
    def edgeSeq: Seq[Long] =
      rounds.collect { case (r, e) if r >= 1 && e >= 0 => e }.toSeq
  }

  private def timed(f: () => Long): (Double, Long) = {
    val t0 = System.nanoTime()
    val n = f()
    ((System.nanoTime() - t0) / 1e9, n)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleCheck corpusDir [corpusDir...]")
    val cores = sys.env.getOrElse("SPARK_GRAFT_SCALE_CPUS", "8").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "2").toInt
    val shingleN = sys.env.getOrElse("SPARK_GRAFT_SHINGLE_N", "5").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "scale_out.json")
    val spark = session(cores)
    val corpusLines = scala.collection.mutable.ArrayBuffer[String]()

    args.foreach { dir =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val nDocs = docs.count()
      val nVecs = emb.count()
      val nLists = Similarity.adaptiveLists(nVecs)

      // one pair materialization reused by both contraction configs, like
      // q37/q53 share the pair SQL; timed separately
      var pairTime = Double.MaxValue
      var nPairs = 0L
      var distTime = Double.MaxValue
      var nClusters = 0L
      var hybridTime = Double.MaxValue
      var nKeeperRows = 0L
      var semTime = Double.MaxValue
      var nKept = 0L
      var rankTime = Double.MaxValue
      var nRanked = 0L
      var distTrace = new RoundTrace
      var semTrace = new RoundTrace

      // SPARK_GRAFT_SCALE_SKIP_BASE=1: only the incremental-ingest block
      // (iteration aid — the base operators' numbers are already recorded)
      val skipBase = sys.env.get("SPARK_GRAFT_SCALE_SKIP_BASE").contains("1")
      (1 to (if (skipBase) 0 else reps)).foreach { _ =>
        val (tP, cP) = timed { () =>
          Dedup.ngramJaccardPairs(docs, minJaccardBp = 2000L, shingleN = shingleN)
            .count()
        }
        pairTime = math.min(pairTime, tP); nPairs = cP

        val trace1 = new RoundTrace
        val (tD, cD) = timed { () =>
          Components.dupClusters(
            Dedup.ngramJaccardPairs(docs, minJaccardBp = 2000L, shingleN = shingleN),
            localSolveEdges = 0L, onRound = trace1.hook).count()
        }
        if (tD < distTime) { distTime = tD; distTrace = trace1 }
        nClusters = cD

        val ckpt = java.nio.file.Files.createTempDirectory("graft-scalecheck")
        val (tH, cH) = timed { () =>
          Components.dupClusters(
            Dedup.ngramJaccardPairs(docs, minJaccardBp = 2000L, shingleN = shingleN),
            includeIsolatedFrom = Some(docs.select(col("doc_id"))),
            checkpointDir = Some(ckpt.toString)).count()
        }
        hybridTime = math.min(hybridTime, tH); nKeeperRows = cH

        val trace2 = new RoundTrace
        val (tS, cS) = timed { () =>
          Similarity.semanticDedup(emb, nLists = nLists, iters = 2,
            minSimMicro = 400000L, onRound = trace2.hook)
            .agg(sum(col("kept"))).collect()(0).getLong(0)
        }
        if (tS < semTime) { semTime = tS; semTrace = trace2 }
        nKept = cS

        // q95's graph scaled with the corpus (2 formula edges per doc):
        // per-iteration cost must grow ∝ edges, with the fixed iteration
        // count — not rounds — setting the job count
        val (tR, cR) = timed { () =>
          val ids = docs.select(col("doc_id"))
          val edges = ids.select(col("doc_id").as("src"),
              ((col("doc_id") * col("doc_id") + 1L) % nDocs).as("dst"))
            .unionByName(ids.select(col("doc_id").as("src"),
              ((col("doc_id") * 7L + 3L) % nDocs).as("dst")))
          LinkGraph.domainRank(edges, iters = 3).count()
        }
        rankTime = math.min(rankTime, tR); nRanked = cR
      }

      // ---- incremental ingest at fixed delta: the O(delta) claim.
      // Setup (untimed, the standing state a deployment maintains): the
      // persisted LSH index of the corpus and the standing component
      // manifest. Timed: (a) the delta's pair discovery probing the READ
      // index — corpus cost is one map-side scan of a persisted table,
      // never a signature recompute; (b) the incrementalComponents fold
      // with pairs in hand — the delta-bounded super-node contraction +
      // two broadcast joins, the part that must stay FLAT at 100x corpus.
      val deltaCut = 1000L
      val corpusOnly = docs.filter(col("doc_id") >= deltaCut)
      val delta = docs.filter(col("doc_id") < deltaCut)
      val scratch = java.nio.file.Files
        .createTempDirectory("graft-scalecheck-inc").toString
      Dedup.bandBuckets(corpusOnly).write.parquet(s"$scratch/index")
      Components.connectedComponentsStar(
          Dedup.minhashLshPairs(corpusOnly, minJaccardBp = 2000L),
          "doc_a", "doc_b")
        .write.parquet(s"$scratch/prior")
      var ingestPairTime = Double.MaxValue
      var nDeltaPairs = 0L
      var foldTime = Double.MaxValue
      var nLabeled = 0L
      (1 to reps).foreach { _ =>
        val (tIP, cIP) = timed { () =>
          Dedup.incrementalMinhashPairs(corpusOnly, delta,
            minJaccardBp = 2000L,
            prebuiltIndex = Some(spark.read.parquet(s"$scratch/index")))
            .count()
        }
        ingestPairTime = math.min(ingestPairTime, tIP); nDeltaPairs = cIP
        val pairs = Dedup.incrementalMinhashPairs(corpusOnly, delta,
            minJaccardBp = 2000L,
            prebuiltIndex = Some(spark.read.parquet(s"$scratch/index")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pairs.count()
        val (tF, cF) = timed { () =>
          Components.incrementalComponents(
            spark.read.parquet(s"$scratch/prior"), pairs, "doc_a", "doc_b")(_.count())
        }
        pairs.unpersist()
        foldTime = math.min(foldTime, tF); nLabeled = cF
      }

      def f(x: Double) = if (x == Double.MaxValue) "null" else f"$x%.2f"
      val line =
        s"""{"dir":"$dir","docs":$nDocs,"vectors":$nVecs,"n_lists":$nLists,"shingle_n":$shingleN,""" +
        s""""ngram_pairs":{"sec":${f(pairTime)},"pairs":$nPairs},""" +
        s""""contraction_distributed":{"sec":${f(distTime)},"clusters":$nClusters,""" +
        s""""initial_edges":${distTrace.initialEdges},""" +
        s""""rounds":${distTrace.contractionRounds},""" +
        s""""edges_per_round":${distTrace.edgeSeq.mkString("[", ",", "]")}},""" +
        s""""keepers_hybrid":{"sec":${f(hybridTime)},"rows":$nKeeperRows},""" +
        s""""semantic_dedup":{"sec":${f(semTime)},"kept":$nKept,""" +
        s""""initial_edges":${semTrace.initialEdges},""" +
        s""""rounds":${semTrace.contractionRounds},""" +
        s""""local_tail":${semTrace.handedToLocalTail},""" +
        s""""edges_per_round":${semTrace.edgeSeq.mkString("[", ",", "]")}},""" +
        s""""link_rank":{"sec":${f(rankTime)},"nodes":$nRanked,"iters":3},""" +
        s""""incremental_ingest":{"delta_docs":$deltaCut,""" +
        s""""pairs_sec":${f(ingestPairTime)},"delta_pairs":$nDeltaPairs,""" +
        s""""fold_sec":${f(foldTime)},"labeled":$nLabeled}}"""
      println(line)
      corpusLines += line
      // write-after-every-corpus so a killed multi-hour run still leaves
      // a diffable artifact for the corpora it finished
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        s"""{"generated_by":"graft.ScaleCheck","cores":$cores,""" +
          s""""reps":$reps,"shingle_n":$shingleN,""" +
          corpusLines.mkString("\"corpora\":[", ",", "]}"))
    }
    spark.stop()
  }
}
