package graft

import org.apache.spark.sql.SparkSession
import graft.io.Scratch
import graft.plans.{GraftExtensions, RangeJoinRewrite}

/** The one recipe for a local SparkSession: the in-process mains (Bench,
  * BenchExtra, PlanDump, ScaleCheck, Verify) and the test suite all build
  * their session here, and a caller adds only the settings that are its
  * own on the returned builder. [[ExtractMain]] is the exception: under
  * spark-submit the cluster conf comes from the launcher
  * (scripts/spark-submit-example.sh sets the same extension).
  *
  * Everything a declared query relies on is set here, once, when the
  * session is built; the queries never leave session state changed (the
  * few confs Spark reads at query start go through [[ScopedConf]]).
  */
object LocalSpark {

  def builder(app: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", math.max(cores, 2).toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      // AQE's partition coalescing defaults to `parallelismFirst=true`,
      // which refuses to coalesce a post-shuffle stage below the
      // cluster-parallelism floor — so a reduce stage whose whole input is
      // a few KB still runs `defaultParallelism` tasks, and an iterative
      // operator pays that tax per round. Spark's own config reference
      // recommends false, so partitions are sized by bytes
      // (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, default 64 MB):
      // big shuffles still split at the advisory size, tiny ones stop
      // paying empty-task overheads. Results are partition-count-independent
      // for every declared query (the full oracle sweep is the gate).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      // persist()/localCheckpoint() fragments otherwise run WITHOUT AQE
      // (cached-plan partitioning is pinned by default), so the iterative
      // operators' per-round materializations kept paying full-parallelism
      // empty tasks no matter what the coalescing policy said
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // shuffle blocks and streaming checkpoints (offset/commit logs and
      // state-store deltas, many small writes per micro-batch) go under
      // the per-process scratch root, so they are removed with it, also
      // after a killed run (Scratch.sweepDead). Streaming query names are
      // UUID-suffixed, so one checkpoint location serves every replay.
      .config("spark.local.dir", Scratch.dir("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation",
        Scratch.dir("stream-ckpt").toString)
      // the inequality-join rewrite, registered the way spark-submit does
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config(RangeJoinRewrite.BinWidthKey, "7200")
}

/** Runs `body` with `confs` set on the session, then restores each key to
  * its previous value, or unsets it if it was not set. Only for confs that
  * Spark reads when a query starts and that have no per-query option or
  * hint (state-store partition count, AQE skew and bloom-filter
  * thresholds); everything else is set where the session is built. */
object ScopedConf {
  def apply[A](spark: SparkSession, confs: (String, String)*)(body: => A): A = {
    val set = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}
