package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for skewed key distributions.
  *
  * A hash-shuffle join sends every row of a key to ONE reducer; a hot key
  * (a few % of 100 TB) wedges that task while the rest of the cluster
  * idles. AQE's skew split handles the sort-merge case after the fact;
  * explicit salting is the a-priori fix — and the only one available when
  * the skewed side feeds further keyed work (the salt survives into
  * downstream groupBys), or when AQE is off/too coarse.
  *
  *  - big side: each row gets a DETERMINISTIC salt in [0, saltFactor) —
  *    a hash of the whole row, not a random() (re-execution of a failed
  *    task must re-derive the same salt or retries double-count rows);
  *  - small side: each row replicates saltFactor times (explode over the
  *    full salt range — replication cost is |small| * saltFactor, the
  *    price of spreading the hot key over saltFactor tasks);
  *  - join on (key, salt): the hot key's rows now land on saltFactor
  *    reducers instead of one.
  *
  * Result rows are exactly the plain join's: each big row meets each
  * matching small row exactly once (at the big row's own salt).
  */
object SkewJoin {

  /** Inner equi-join of a skewed `big` side with a `small` side on `key`.
    *
    * @param saltFactor number of ways to spread each hot key (2..shuffle
    *        partitions is sensible; beyond that adds replication for no
    *        extra parallelism) */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      saltFactor: Int): DataFrame = {
    require(saltFactor > 0, s"saltFactor must be positive, got $saltFactor")
    val salted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.toSeq.map(col): _*)), lit(saltFactor.toLong)))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(saltFactor.toLong - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Session confs that let AQE's OptimizeSkewedJoin fire on test-scale
    * data (default thresholds are sized for real clusters), restored after
    * `body`. AQE skew split is the RUNTIME counterpart of [[saltedJoin]]:
    * it splits oversized shuffle partitions after seeing map output sizes,
    * but only when no downstream operator requires the join key's hash
    * partitioning — salting remains the a-priori fix for those plans. */
  def withSkewTestConfs[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T =
    graft.ScopedConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")(body)

  /** The skewed join AQE must re-plan: 90% of a 200k-row stream collapses
    * onto key 0, joined against a small unique-key dim. Returned
    * UN-aggregated so a caller can both pin the executed plan
    * (SortMergeJoin(skew=true)) and aggregate for the value check.
    * Deterministic range base (sf-independent; the oracle replays it with
    * DuckDB's range()). Three preconditions this demo had to meet — each a
    * real production subtlety:
    *  - multiple mappers: AQE carves a skewed reduce partition along
    *    mapper-output boundaries, so a single-mapper stage (one small
    *    input file) cannot be split at all (range() gives one split per
    *    core);
    *  - incompressible-enough rows: v = id keeps the hot partition's
    *    shuffle bytes above the threshold — constant rows compress ~100x
    *    and duck under it;
    *  - a bare shuffle on the build side: OptimizeSkewedJoin
    *    pattern-matches SMJ over Sort(ShuffleRead) directly, so an
    *    aggregate (e.g. a distinct) on the dim disqualifies the split. */
  def aqeSkewedJoin(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val left = spark.range(0, 200000).select(
      when(pmod(col("id"), lit(10)) < 9, lit(0L))
        .otherwise(pmod(col("id"), lit(1000))).as("k"),
      col("id").as("v"))
    val right = spark.range(0, 1000)
      .filter(pmod(col("id"), lit(3)) === 0)
      .select(col("id").as("k"))
    left.join(right, "k")
  }
}
