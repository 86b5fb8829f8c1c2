package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge list — the transitive-
  * closure step of large-scale fuzzy dedup. Near-dup PAIR operators
  * (Dedup.minhashLshPairs / simhashPairs / ngramJaccardPairs) say "a ~ b",
  * but a curated corpus keeps ONE document per connected component of the
  * similarity graph: if a~b and b~c, all three are one cluster even when
  * (a,c) was never a candidate pair. No reference counterpart (the
  * reference's dedup is per-file content equality, v2_llm/run_claude.py:29-57);
  * engine-only addition per the training-pipeline mandate.
  *
  * Algorithm: one labelling, [[connectedComponentsStar]] — large-star /
  * small-star contraction with a local union-find tail once the contracted
  * edge set fits the driver. Every operator here (dupClusters,
  * bestCopyKeepers, incrementalComponents) labels through it. Each round
  * shuffles (long, long) edges only — never document payload — and the
  * round count is O(log^2 n) on any graph shape. Convergence is detected
  * with a cheap aggregate; no labels are collected to the driver except in
  * the bounded local tail. The tests keep min-label propagation as the
  * independent reference the contraction is compared against.
  */
object Components {

  /** Lineage truncation per round. `localCheckpoint` (default) is the
    * single-JVM fast path — materialized blocks live in executor storage,
    * so an executor loss forfeits them and the job fails (acceptable on
    * local[n], fatal on a 1000-executor run). Passing `checkpointDir`
    * switches every round to a DURABLE `checkpoint()` into that
    * (HDFS/object-store) directory: a lost executor recomputes from the
    * last committed round instead of killing the job. Same O(1) plan per
    * round either way. */
  private def truncate(df: DataFrame, durable: Boolean): DataFrame =
    if (durable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)

  private def setCheckpointDir(df: DataFrame, dir: Option[String]): Boolean =
    dir match {
      case Some(d) => df.sparkSession.sparkContext.setCheckpointDir(d); true
      case None => false
    }

  /** Connected components via alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the only labelling. Where min-label propagation
    * needs one round per hop of graph diameter, star contraction halves
    * path lengths every round pair: O(log^2 n) rounds on ANY graph shape,
    * including the adversarial long chains a crawl near-dup graph can
    * form (page A ~ A' ~ A'' ~ ...). Each round is two shuffles of
    * (long, long) edges; edges only ever move toward smaller labels, and
    * the fixed point is a star forest: every node points directly at its
    * component's min id.
    *
    * Output: (id, component) per vertex seen in `edges` (either column;
    * direction is ignored), component = min vertex id reachable; it
    * matches min-label propagation row-for-row (property-tested on random
    * graphs against the reference kept in the tests). Throws if the fixed
    * point is not reached within `maxIter` rounds — a partially contracted
    * result is silently WRONG. With the default `localSolveEdges`,
    * driver-scale inputs finish in the local union-find tail before any
    * distributed round runs — q37 therefore registers with
    * `localSolveEdges = 0` so the contraction rounds themselves stay
    * pinned by the cross-engine recursive-CTE oracle (q53/q57 cover the
    * hybrid tail).
    *
    * `onRound(round, edgesLeft)` fires after every contraction round
    * (round = -1 reports the initial deduped edge count; edgesLeft = -1
    * flags the hand-off to the local union-find tail). It exists for
    * scale evidence — BASELINE.md's rounds-to-converge tables come from
    * it — and costs nothing when left at the no-op default. */
  def connectedComponentsStar(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 40,
      checkpointDir: Option[String] = None,
      localSolveEdges: Long = 200000L,
      onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    // The input pair frame is typically the EXPENSIVE end of a dedup
    // pipeline (shingle/LSH candidate join + exact verify), and this
    // function materializes two frames from it (verts, then the deduped
    // edge set). Without a cache each materialization re-runs the whole
    // pair dataflow — measured as ~2 s per extra pass on q37/q53's n-gram
    // pairs at sf0.1. Cache the tiny (long, long) projection once.
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val durable = setCheckpointDir(raw, checkpointDir)
    val verts = truncate(raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id"))).distinct(), durable)
    // Hybrid tail (Kiveris et al. §6 practice): once the contracted edge
    // set fits the driver comfortably (2 longs/edge; 200k edges ≈ 3 MB),
    // finish with a local union-find instead of paying several more
    // multi-stage Spark rounds whose per-round cost is pure job latency.
    // Each contraction round preserves the component partition over the
    // original vertex set, so min-labels from ANY round's edge set equal
    // the star forest's — the property test pins local vs distributed vs
    // min-label row-identical. At 10^12-doc scale the loop always ends
    // here: the graph shrinks geometrically, and the last ~log rounds on
    // a tiny remnant are the ones this skips.
    val sparkForLocal = raw.sparkSession
    def finishLocallyRows(edgeRows: Array[org.apache.spark.sql.Row]): DataFrame = {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // union-by-min: the larger root links under the smaller, so every
      // root IS its component's min id — the same label the star forest
      // converges to
      edgeRows.foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
      import sparkForLocal.implicits._
      val nodes = (parent.keysIterator ++ parent.valuesIterator).toSet
      val labelDf = nodes.toSeq.map(n => (n, find(n))).toDF("id", "lbl")
      verts.join(labelDf, Seq("id"), "left")
        .select(col("id"), coalesce(col("lbl"), col("id")).as("component"))
    }
    def finishLocally(cur: DataFrame): DataFrame =
      finishLocallyRows(cur.select("src", "dst").collect())
    def neighbors(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = neighbors(e)
      val mins = sym.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src").as("u"), least(col("mn"), col("src")).as("m"))
      sym.filter(col("dst") > col("src"))
        .join(mins, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    // small-star: u and its smaller neighbors all link to their min
    def smallStar(e: DataFrame): DataFrame = {
      val sym = neighbors(e)
      val le = sym.filter(col("dst") < col("src"))
      val mins = le.groupBy("src").agg(min("dst").as("m"))
      val moved = le.join(mins, "src")
        .select(col("dst").as("node"), col("m"))
        .filter(col("node") =!= col("m"))
        .select(col("node").as("src"), col("m").as("dst"))
      moved.union(mins.select(col("src"), col("m").as("dst"))).distinct()
    }
    // fixpoint check: (count, sum(src*2^32 + dst)) — stable at the star
    // forest; the weighted sum makes checksum collisions negligible
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum((col("src") * lit(4294967296L) + col("dst")).cast("decimal(38,0)")))
        .head()
      (r.getLong(0), Option(r.getDecimal(1))
        .getOrElse(java.math.BigDecimal.ZERO))
    }
    var e = truncate(raw.filter(col("src") =!= col("dst")).distinct(), durable)
    raw.unpersist() // verts and e are checkpoint-backed now
    var prev = checksum(e)
    onRound(-1, prev._1)
    if (prev._1 <= localSolveEdges) {
      onRound(0, -1L)
      val out = finishLocally(e)
      e.unpersist()
      return out
    }
    var it = 0
    // the checksum above already proved the frame non-empty
    // (prev._1 > localSolveEdges >= 0) — the old isEmpty probe here was a
    // redundant extra job on the same checkpointed frame
    var done = false
    while (!done && it < maxIter) {
      val next = truncate(smallStar(largeStar(e)), durable)
      val cur = checksum(next)
      e.unpersist()
      e = next
      done = cur == prev
      prev = cur
      it += 1
      onRound(it, prev._1)
      if (!done && prev._1 <= localSolveEdges) {
        onRound(it, -1L)
        val out = finishLocally(e)
        e.unpersist()
        return out
      }
    }
    // star edges are (node, root) with root < node; roots + isolated
    // vertices label themselves
    val labeled = verts.join(e.select(col("src").as("id"), col("dst").as("lbl")),
      Seq("id"), "left")
    require(done, s"connectedComponentsStar did not converge in $maxIter " +
      "rounds — O(log^2 n) convergence means maxIter=40 covers any real " +
      "graph, so this indicates corrupt input (e.g. NaN-cast ids)")
    val out = labeled.select(col("id"),
      coalesce(col("lbl"), col("id")).as("component"))
    e.unpersist()
    out
  }

  /** Merge a DELTA of new edges into an EXISTING component labeling
    * without re-clustering the corpus — the daily-ingest shape of fuzzy
    * dedup at 100 TB. Pairs with [[graft.ops.Dedup.incrementalMinhashPairs]]:
    * that operator finds the pairs a new batch introduces without
    * re-pairing the corpus; this one folds those pairs into the standing
    * keeper manifest without re-clustering it. Together an ingest costs
    * O(|delta|), never O(|corpus|).
    *
    * `prior` must be an (id, component) frame whose component labels are
    * the MIN id of each component — the invariant every variant in this
    * file establishes — and self-consistent (each label is itself an id
    * in the frame). Output has the same shape over prior's vertices plus
    * every vertex of `newEdges`, and is row-identical to re-running
    * connected components over (prior-as-edges ∪ newEdges) from scratch
    * (property-pinned in CurationSpec): merging components can only
    * lower a label to the min of the merged member labels, and each
    * member label is already the min id of its old sub-component, so the
    * remapped label is the global min id — exactly what a full recompute
    * assigns.
    *
    * Plan shape (the point of the operator): `prior` — the only
    * corpus-sized frame — is touched by exactly two BROADCAST joins (a
    * semi-join extracting the delta endpoints' labels, and the final
    * relabel against the remap), so it never shuffles; both are pinned in
    * PlanAuditSpec. The contraction itself runs on the SUPER-NODE graph —
    * one node per touched component or new vertex, one edge per delta
    * pair — whose size is delta-bounded, never corpus-bounded. The
    * labeling is lent to `use`: its two delta-sized persists (re-read by
    * both output legs) are released when `use` returns, so `use` must run
    * every action on the labeling it needs — a fold per micro-batch would
    * otherwise leave two cached frames behind each batch. */
  def incrementalComponents[A](prior: DataFrame, newEdges: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      checkpointDir: Option[String] = None)(use: DataFrame => A): A = {
    val p = prior.select(col(prior.columns.head).cast("long").as("id"),
      col(prior.columns(1)).cast("long").as("component"))
    val e0 = newEdges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val endpoints = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct()
    // prior labels of the touched endpoints: map-side over `p`, output
    // delta-sized
    val touched = p.join(broadcast(endpoints), Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // endpoint -> super-node id (its prior component, or itself if new)
    val lblOf = endpoints.join(touched, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("lbl"))
    val superEdges = e0
      .join(lblOf.toDF("src", "sl"), Seq("src"))
      .join(lblOf.toDF("dst", "dl"), Seq("dst"))
      .select(col("sl").as("src"), col("dl").as("dst"))
      .filter(col("src") =!= col("dst"))
    // contraction on the delta-sized super graph; identity rows add
    // nothing to the remap (coalesce falls back to the old label)
    val remap = connectedComponentsStar(superEdges,
        checkpointDir = checkpointDir)
      .filter(col("id") =!= col("component"))
      .toDF("old_lbl", "new_lbl")
    // relabel the corpus: ONE broadcast join keyed on the old component
    val relabeled = p.join(broadcast(remap),
        p("component") === remap("old_lbl"), "left")
      .select(p("id"), coalesce(col("new_lbl"), p("component")).as("component"))
    // vertices new to the graph (their super-node id is their own id)
    val newVerts = endpoints.join(touched.select("id"), Seq("id"), "left_anti")
      .join(broadcast(remap), col("id") === col("old_lbl"), "left")
      .select(col("id"), coalesce(col("new_lbl"), col("id")).as("component"))
    try use(relabeled.unionByName(newVerts))
    finally { touched.unpersist(); e0.unpersist() }
  }

  /** Cluster summary for a near-dup pair set: one row per component with
    * its size. The component label IS the keeper (min doc id — the
    * deterministic survivor a dedup pass retains). By default only
    * multi-doc components appear: a doc with no near-dup pair is its own
    * keeper and needs no row. Pass `includeIsolatedFrom` (a one-column
    * frame of ALL doc ids) to also emit `(id, 1)` singleton rows for docs
    * with no pair — the full keeper manifest a curation pass writes out.
    * Runs the star-contraction path (the scale default); `checkpointDir`
    * upgrades per-round lineage truncation to durable checkpoints. */
  def dupClusters(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b",
      includeIsolatedFrom: Option[DataFrame] = None,
      checkpointDir: Option[String] = None,
      localSolveEdges: Long = 200000L,
      onRound: (Int, Long) => Unit = (_, _) => ()): DataFrame = {
    val cc = connectedComponentsStar(pairs, aCol, bCol,
      checkpointDir = checkpointDir, localSolveEdges = localSolveEdges,
      onRound = onRound)
    val clustered = cc.groupBy("component").agg(count(lit(1)).as("n_docs"))
    includeIsolatedFrom match {
      case None => clustered
      case Some(all) =>
        // isolated = ids never seen in any pair. The component output's id
        // column IS the paired-vertex set, and it reads from the
        // contraction's checkpointed frames — re-deriving the set from
        // `pairs` instead would re-run the whole (expensive) pair dataflow
        // a third time.
        val ids = all.select(col(all.columns.head).cast("long").as("id"))
        val isolated = ids.join(cc.select("id"), Seq("id"), "left_anti")
          .select(col("id").as("component"), lit(1L).as("n_docs"))
        clustered.unionByName(isolated)
    }
  }

  /** QUALITY-AWARE keeper selection — "keep the best copy", the dedup
    * policy a curation pass actually wants where [[dupClusters]]'s
    * min-id keeper is arbitrary: within each near-dup cluster the
    * survivor is the doc with the HIGHEST score (e.g. text length — keep
    * the most complete variant — or a model quality score in basis
    * points), ties broken to the LOWEST id so the choice is total-ordered
    * and engine-exact. Emits one row per doc — the full dedup decision
    * manifest: (doc_id, component, keeper_id, kept).
    *
    * `scored` is a two-column frame (id, score); both are cast to long —
    * the composite argmax key is the single scalar `score·2^32 − id`, so
    * scores must fit 2^20-ish and ids 2^32 (any realistic doc-ord space;
    * the point of one BIGINT key is that max_by needs no struct ordering
    * and any engine replays it bit-exactly). Docs absent from every pair
    * are their own keeper (component = own id). Scale shape: the
    * contraction's own cost + one id-keyed join of the (paired-verts)
    * labels against the corpus scores + a component-keyed argmax agg —
    * scalar rows through every exchange. */
  def bestCopyKeepers(pairs: DataFrame, scored: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b",
      checkpointDir: Option[String] = None,
      localSolveEdges: Long = 200000L): DataFrame = {
    val cc = connectedComponentsStar(pairs, aCol, bCol,
      checkpointDir = checkpointDir, localSolveEdges = localSolveEdges)
    val ids = scored.select(
      col(scored.columns(0)).cast("long").as("id"),
      col(scored.columns(1)).cast("long").as("score"))
    val labeled = ids.join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("component"),
        col("score"))
    // the composite key silently overflows (wrong keeper, no error) outside
    // 0 <= score < 2^31, 0 <= id < 2^32 — enforce in the same projection
    // that builds the key (no extra pass; fires on the first bad row)
    val inRange = col("score") >= 0L && col("score") < lit(1L << 31) &&
      col("id") >= 0L && col("id") < lit(1L << 32)
    val keyed = labeled.withColumn("k",
      when(inRange, col("score") * lit(4294967296L) - col("id"))
        .otherwise(raise_error(concat(
          lit("bestCopyKeepers: composite argmax key needs 0 <= score < 2^31" +
            " and 0 <= id < 2^32; got id="), col("id"),
          lit(" score="), col("score"))).cast("long")))
    val keepers = keyed.groupBy("component")
      .agg(expr("max_by(id, k)").as("keeper"))
    keyed.join(keepers, Seq("component"))
      .select(col("id").as("doc_id"), col("component"),
        col("keeper").as("keeper_id"),
        (col("id") === col("keeper")).as("kept"))
  }
}
