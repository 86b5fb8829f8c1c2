package graft
package queries

import graft.core.MonthFinder
import graft.ops.{Dedup, TextAnalysis}

/** The oracle SQL fragments more than one query family uses. */
object Oracles {

  private[queries] val toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"

  private[queries] def listLit(ss: Seq[String]) = ss.map(s => s"'$s'").mkString("[", ",", "]")

  /** DuckDB fragments shared by q12 (full profile) and q34 (the curation
    * funnel composed from the same predicates). */
  private[queries] def langCaseSql: String = {
    val scores = TextAnalysis.LangMarkers.map { case (l, ms) =>
      l -> s"len(list_filter($toks, t -> list_contains(${listLit(ms)}, t)))"
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val whens = scores.map { case (l, sc) =>
      s"WHEN $sc = $best AND $sc > 0 THEN '$l'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private[queries] def qualityBpSql: String = {
    val stops = listLit(TextAnalysis.Stopwords)
    s"CAST(floor(least(len($toks), 200)*5000.0/200) AS BIGINT)" +
      s" + CAST(floor(3000.0*(len($toks) - len(list_filter($toks, t -> list_contains($stops, t)))) / greatest(len($toks), 1)) AS BIGINT)" +
      s" + CASE WHEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))*20 <= length(text) THEN 2000 ELSE 0 END"
  }

  /** The same chain in SQL, generated from the same month lists. */
  def monthSql(textExpr: String): String = {
    val full = MonthFinder.Months.map { m =>
      s"nullif(regexp_extract($textExpr, '$m[,]?\\s+\\d{4}', 0), '')"
    }
    val abbr = MonthFinder.AbbrMonths.zip(MonthFinder.Months).map { case (a, m) =>
      s"regexp_replace(nullif(regexp_extract($textExpr, '$a[.]?[,]?\\s+\\d{4}', 0), ''), '^$a', '$m')"
    }
    s"coalesce(${(full ++ abbr).mkString(",\n    ")})"
  }

  private[queries] lazy val sentenceDedupSql: String =
    s"""WITH tk AS (
         |  SELECT doc_id, $toks AS tk FROM documents),
         |units AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(
         |        split(array_to_string(
         |          tk[CAST(i*12+1 AS BIGINT):CAST(i*12+12 AS BIGINT)], ' '), ''),
         |        c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS h
         |  FROM tk, UNNEST(range(0, (len(tk)-1)//12 + 1)) AS t(i)),
         |r AS (
         |  SELECT doc_id, pos,
         |    row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         |    count(*) OVER (PARTITION BY h) AS occ
         |  FROM units),
         |drops AS (
         |  SELECT doc_id, list(pos ORDER BY pos) AS drops
         |  FROM r WHERE occ > 1 AND rn > 1 GROUP BY 1),
         |outp AS (
         |  SELECT tk.doc_id,
         |    list_transform(
         |      list_filter(range(0, CAST(len(tk.tk) AS BIGINT)),
         |        p -> drops.drops IS NULL
         |          OR NOT list_contains(drops.drops, p // 12)),
         |      p -> tk.tk[CAST(p AS BIGINT) + 1]) AS keptl,
         |    CAST((len(tk.tk)-1)//12 + 1 AS BIGINT) AS n_units,
         |    CAST(coalesce(len(drops.drops), 0) AS BIGINT) AS n_dropped
         |  FROM tk LEFT JOIN drops USING (doc_id))
         |SELECT doc_id, coalesce(array_to_string(keptl, ' '), '') AS clean_text,
         |  n_units, n_dropped,
         |  CAST(len(keptl) AS BIGINT) AS n_kept_tokens
         |FROM outp""".stripMargin

  /** q14's full pair SELECT, shared with q37's recursive-closure oracle. */
  private[queries] lazy val ngramPairsOracleSql: String = {
    val sh = s"list_distinct(list_transform(range(0, greatest(len($toks)-3, 0)+1), " +
      s"i -> concat_ws(' ', $toks[i+1], $toks[i+2], $toks[i+3])))"
    s"""WITH keyed AS (
       |  SELECT doc_id, $sh AS sh,
       |    CAST(floor(len($toks)/10.0) AS BIGINT) AS len_bucket,
       |    list_sort($sh)[1] AS m1, list_sort($sh)[2] AS m2
       |  FROM documents),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM keyed a JOIN keyed b
       |    ON a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
       |   AND (a.m1 = b.m1 OR a.m1 = b.m2 OR a.m2 = b.m1 OR a.m2 = b.m2))
       |SELECT doc_a, doc_b,
       |  CAST(floor(len(list_intersect(a.sh, b.sh))*10000.0 /
       |       len(list_distinct(list_concat(a.sh, b.sh)))) AS BIGINT) AS jaccard_bp
       |FROM cand JOIN keyed a ON a.doc_id = doc_a JOIN keyed b ON b.doc_id = doc_b
       |WHERE floor(len(list_intersect(a.sh, b.sh))*10000.0 /
       |       len(list_distinct(list_concat(a.sh, b.sh)))) >= 2000""".stripMargin
  }

  /** q15's full MinHash-LSH replay, shared with q55 (which restricts the
    * same pair set to pairs touching the delta). */
  private[queries] def minhashPairsSql: String = minhashPairsSqlFrom("documents")

  /** The q15 chain over any doc relation exposing (doc_id, text) —
    * `documents` for q15/q55, the probe slice for q79's recall audit. */
  private[queries] def minhashPairsSqlFrom(src: String): String = {
      // identical chain to Dedup.minhashLshPairs: tokens -> positional
      // 3-gram shingles -> char-fold hash mod MinhashPrime -> 32 affine
      // mins (params inlined from the SAME Dedup.hashParams call the
      // engine uses) -> 8 banded bucket folds -> bucket join -> exact
      // Jaccard (distinct shingles) >= 2000 bp
      val params = Dedup.hashParams(32).zipWithIndex
        .map { case ((a, b), k) => s"($k, $a, $b)" }.mkString(", ")
      s"""WITH base AS (
         |  SELECT doc_id, $toks AS toks FROM $src),
         |sh AS (
         |  SELECT doc_id,
         |    list_transform(range(0, greatest(len(toks) - 2, 1)),
         |      i -> array_to_string(list_slice(toks, i + 1, i + 3), ' ')) AS shingles
         |  FROM base),
         |shrow AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |hm AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(3421674724 AS HUGEINT),
         |      list_transform(split(s, ''), c -> CAST(ord(c) AS HUGEINT))),
         |      (h, c) -> (h * 1000003 + c) % (CAST(1 AS HUGEINT) << 64)) AS hu
         |  FROM shrow),
         |hmod AS (
         |  SELECT doc_id,
         |    CAST((((CASE WHEN hu >= (CAST(1 AS HUGEINT) << 63)
         |            THEN hu - (CAST(1 AS HUGEINT) << 64) ELSE hu END) % 2038074743)
         |          + 2038074743) % 2038074743 AS BIGINT) AS h
         |  FROM hm),
         |sig AS (
         |  SELECT doc_id, p.k, min((h * p.a + p.b) % 2038074743) AS sv
         |  FROM hmod CROSS JOIN (VALUES $params) p(k, a, b)
         |  GROUP BY doc_id, p.k),
         |sigs AS (SELECT doc_id, list(sv ORDER BY k) AS sv32 FROM sig GROUP BY doc_id),
         |buckets AS (
         |  SELECT doc_id, t.band,
         |    CAST(list_reduce(
         |      list_prepend(CAST(3421674724 + t.band AS HUGEINT),
         |        list_transform(list_slice(sv32, t.band * 4 + 1, t.band * 4 + 4),
         |          v -> CAST(v AS HUGEINT))),
         |      (h, v) -> (h * 1000003 + v) % (CAST(1 AS HUGEINT) << 64)) AS HUGEINT) AS bu
         |  FROM sigs CROSS JOIN (SELECT CAST(range AS INTEGER) AS band FROM range(8)) t),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.bu = b.bu AND a.doc_id < b.doc_id),
         |dsh AS (SELECT doc_id, list_distinct(shingles) AS ds FROM sh)
         |SELECT c.doc_a, c.doc_b,
         |  CAST((len(list_intersect(x.ds, y.ds)) * 10000)
         |    // (len(x.ds) + len(y.ds) - len(list_intersect(x.ds, y.ds))) AS BIGINT) AS jaccard_bp
         |FROM cand c
         |JOIN dsh x ON x.doc_id = c.doc_a
         |JOIN dsh y ON y.doc_id = c.doc_b
         |WHERE CAST((len(list_intersect(x.ds, y.ds)) * 10000)
         |    // (len(x.ds) + len(y.ds) - len(list_intersect(x.ds, y.ds))) AS BIGINT) >= 2000""".stripMargin
  }

  /** The connected components of q15's pairs: q58 (incremental batch)
    * and x55 (its streaming replay) label the same closure. */
  private[queries] lazy val liveClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($minhashPairsSql),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |verts AS (SELECT DISTINCT src AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS lbl FROM verts
       |  UNION
       |  SELECT e.dst AS id, r.lbl AS lbl
       |  FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id, min(lbl) AS component FROM reach GROUP BY id""".stripMargin
}
