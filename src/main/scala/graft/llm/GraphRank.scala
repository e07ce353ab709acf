package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.tools.ScaleTier

/** Iterative graph rank over the near-duplicate document graph
  * (SURVEY.md §2.9 X1/X7): PageRank as a fixed-K power iteration in
  * EXACT integer arithmetic. Connected components (x33) answers
  * "which docs are the same cluster"; this answers "which docs are
  * the HUBS of the duplication graph" — the template/boilerplate
  * carriers and mirror roots worth human eyes before a curation
  * decision deletes 10k of their neighbors.
  *
  * Integer scheme: total rank mass S = 10¹² "picorank" units. Every
  * node starts at base = S div N; one step is
  *   pr'(v) = (15·base + 85·Σ_{u→v} (pr(u) div deg(u))) div 100,
  * i.e. damping 0.85 with a uniform restart. All divisions are
  * integer `div` on non-negative operands (Spark `div` and DuckDB
  * `//` both truncate toward zero, so the engines agree bit-for-bit
  * in any execution order — floor losses are deterministic parts of
  * the semantics, not error). Magnitudes: pr ≤ S = 10¹², 85·inflow
  * ≤ 8.5·10¹³ — int64 throughout, independent of corpus size.
  *
  * Scale shape (the x33 iterative-plan discipline): the edge table is
  * the BOUNDED x04 candidate-pair set (df-capped shingle buckets, ≤
  * dfCap²/2 pairs per bucket) symmetrized once and pinned; each of
  * the K iterations is one co-keyed join + one hash aggregate over
  * edge endpoints, with a `Materialize` pin so lineage stays flat.
  * Nothing is ever collected; the per-node frame is O(nodes), the
  * per-iteration shuffle is O(edges).
  */
object GraphRank {

  private val S = 1000000000000L // total rank mass, picorank units

  /** Spark compares strings as unsigned UTF-8 bytes; Scala's String
    * ordering is UTF-16 — they diverge outside ASCII, so the local
    * vote tiebreak replays the engine's byte order exactly.
    */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** PageRank over the x04 near-dup candidate graph: (doc_id, pr)
    * for every document incident to at least one scored pair at
    * `threshold`, after `iters` damped power-iteration steps.
    */
  def pagerank(docs: DataFrame, dfCap: Int, threshold: Double,
      iters: Int): DataFrame = {
    val pairs = Dedup.jaccardPairs(docs, dfCap, threshold)
      .select(col("d1"), col("d2"))
    val edges = graft.tools.Materialize(
      pairs.select(col("d1").as("src"), col("d2").as("dst"))
        .unionAll(pairs.select(col("d2").as("src"), col("d1").as("dst"))))
    // broadcast-scale fast path (the x33 CC idiom): one bounded driver
    // pass, exact integer arithmetic identical to the distributed loop
    if (ScaleTier.localEdges(docs.sparkSession, edges.count())) {
      val spark = docs.sparkSession
      import spark.implicits._
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val deg = es.groupBy(_._1).view.mapValues(_.length.toLong).toMap
      val n = deg.size
      if (n == 0)
        return Seq.empty[(Long, Long)].toDF("doc_id", "pr")
          .orderBy(col("doc_id"))
      val base = S / n
      var pr = deg.map { case (id, _) => id -> base }
      for (_ <- 1 to iters) {
        // identical integer recurrence to the distributed loop: all
        // divisions truncate on non-negative operands, sums are exact
        val inflow = scala.collection.mutable.HashMap.empty[Long, Long]
          .withDefaultValue(0L)
        es.foreach { case (src, dst) =>
          inflow(dst) += pr(src) / deg(src)
        }
        pr = pr.map { case (id, _) =>
          id -> (15L * base + 85L * inflow(id)) / 100L
        }
      }
      return pr.toSeq.sorted.toDF("doc_id", "pr").orderBy(col("doc_id"))
    }
    // every node has deg >= 1 by construction (it came from a pair)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val n1 = deg.agg(count(lit(1)).as("n"))
    // base = S div N evaluates only on node rows, so an empty graph
    // yields an empty result, never a division by zero
    var pr = deg.crossJoin(broadcast(n1))
      .select(col("src").as("id"), col("deg"),
        expr(s"${S}L div n").as("base"),
        expr(s"${S}L div n").as("pr"))
    for (_ <- 1 to iters) {
      val contrib = pr.select(col("id").as("src"),
        expr("pr div deg").as("c"))
      val inflow = edges.join(contrib, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("inflow"))
      // symmetric edges mean indegree >= 1 everywhere, but coalesce
      // keeps the step total on any future directed-edge caller
      pr = graft.tools.Materialize(
        pr.join(inflow, Seq("id"), "left")
          .select(col("id"), col("deg"), col("base"),
            expr("(15L * base + 85L * coalesce(inflow, 0L)) div 100L")
              .as("pr")))
    }
    pr.select(col("id").as("doc_id"), col("pr")).orderBy(col("doc_id"))
  }

  /** Oracle: the same integer recurrence, unrolled one CTE per
    * iteration over the shared x04 candidate chain (`jp`).
    */
  def pagerankSql(dfCap: Int, threshold: Double, iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT p.id, p.deg, p.base,
         |         (15 * p.base + 85 * coalesce(fl.inflow, 0)) // 100 AS pr
         |  FROM pr${k - 1} p LEFT JOIN (
         |    SELECT e.dst AS id, sum(c.pr // c.deg) AS inflow
         |    FROM ed e JOIN pr${k - 1} c ON c.id = e.src
         |    GROUP BY e.dst) fl USING (id))""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.jaccardPairsCtesSql(dfCap, threshold)},
       |ed AS (SELECT d1 AS src, d2 AS dst FROM jp
       |       UNION ALL SELECT d2, d1 FROM jp),
       |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (SELECT d.src AS id, d.deg,
       |               1000000000000 // nn.n AS base,
       |               1000000000000 // nn.n AS pr
       |        FROM deg d CROSS JOIN nn),
       |$steps
       |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr FROM pr$iters
       |ORDER BY doc_id""".stripMargin
  }

  /** TRIANGLE COUNT + local clustering coefficient over the x04
    * near-dup graph — the cohesion report next to x151's hub rank:
    * a near-dup CLUSTER of mutual copies is triangle-dense
    * (clustering → 10000 bp), a CHAIN of pairwise-overlapping
    * revisions is triangle-free (→ 0 bp), and the two need different
    * curation (drop-all-but-one vs keep-the-endpoints).
    *
    * Scale shape — the Cohen / Suri–Vassilvitskii orientation trick:
    * each undirected edge is directed from its lower to its higher
    * endpoint under the (degree, id) total order, so every node's
    * OUT-degree is O(√E) regardless of how hubby the graph is, the
    * wedge join (out-edges × out-edges on their source) is bounded by
    * Σ outdeg² = O(E^1.5) instead of Σ deg² (quadratic in the hub
    * degree), and each triangle is found exactly once — at its unique
    * apex with both out-edges. The closing-edge check is one
    * canonical-pair equi-join. Everything is counts: no floats
    * anywhere (clustering in exact basis points, wedges =
    * deg·(deg−1) div 2).
    *
    * The ORACLE enumerates triangles by plain doc_id order instead —
    * a different plan, the same triangles — so the oracle checks the
    * RESULT, not the engine's orientation.
    */
  def triangles(docs: DataFrame, dfCap: Int, threshold: Double)
      : DataFrame = {
    val pairs = graft.tools.Materialize(
      Dedup.jaccardPairs(docs, dfCap, threshold)
        .select(col("d1"), col("d2")))
    if (ScaleTier.localEdges(docs.sparkSession, pairs.count(),
        triangles = true)) {
      val spark = docs.sparkSession
      import spark.implicits._
      val es = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val degM = scala.collection.mutable.HashMap.empty[Long, Long]
        .withDefaultValue(0L)
      es.foreach { case (a, b) => degM(a) += 1; degM(b) += 1 }
      // the same (deg, id) orientation as the distributed wedge join;
      // count each triangle once at its apex, credit all 3 corners
      def lower(a: Long, b: Long): Boolean =
        degM(a) < degM(b) || (degM(a) == degM(b) && a < b)
      val out = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.HashSet[Long]]
      es.foreach { case (a, b) =>
        val (s, d) = if (lower(a, b)) (a, b) else (b, a)
        out.getOrElseUpdate(s,
          scala.collection.mutable.HashSet.empty) += d
      }
      val tri = scala.collection.mutable.HashMap.empty[Long, Long]
        .withDefaultValue(0L)
      val pairSet = es.map { case (a, b) =>
        (math.min(a, b), math.max(a, b))
      }.toSet
      out.foreach { case (apex, ns) =>
        val arr = ns.toArray.sorted
        var i = 0
        while (i < arr.length) {
          var j = i + 1
          while (j < arr.length) {
            if (pairSet((arr(i), arr(j)))) {
              tri(apex) += 1; tri(arr(i)) += 1; tri(arr(j)) += 1
            }
            j += 1
          }
          i += 1
        }
      }
      val rows = degM.toSeq.sorted.map { case (id, d) =>
        val w = d * (d - 1) / 2
        val t = tri(id)
        (id, d, t, w, if (d >= 2) t * 10000L / w else 0L)
      }
      return rows.toDF("doc_id", "deg", "triangles", "wedges",
        "clustering_bp").orderBy(col("doc_id"))
    }
    val deg = pairs.select(col("d1").as("id"))
      .unionAll(pairs.select(col("d2").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // orient each edge low -> high under (deg, id); u keeps its
    // canonical (d1, d2) form for the closing-edge join
    val oriented = pairs
      .join(deg.select(col("id").as("d1"), col("deg").as("g1")), "d1")
      .join(deg.select(col("id").as("d2"), col("deg").as("g2")), "d2")
      .select(
        when(col("g1") < col("g2") ||
          (col("g1") === col("g2") && col("d1") < col("d2")),
          struct(col("d1").as("src"), col("d2").as("dst")))
          .otherwise(struct(col("d2").as("src"), col("d1").as("dst")))
          .as("e"))
      .select(col("e.src"), col("e.dst"))
    val o = graft.tools.Materialize(oriented)
    // wedges at the apex: two out-edges (src -> a, src -> b), a != b,
    // canonicalized so the closing edge is probed in (d1 < d2) form
    val wedges = o.select(col("src"), col("dst").as("a"))
      .join(o.select(col("src"), col("dst").as("b")), "src")
      .filter(col("a") < col("b"))
      .select(col("src"), least(col("a"), col("b")).as("d1"),
        greatest(col("a"), col("b")).as("d2"))
    val tri = wedges.join(pairs, Seq("d1", "d2"))
      .select(col("src"), col("d1"), col("d2"))
    val tcnt = tri.select(explode(array(col("src"), col("d1"),
      col("d2"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("t"))
    deg.join(tcnt, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("deg"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        expr("deg * (deg - 1) div 2").as("wedges"))
      .withColumn("clustering_bp",
        when(col("deg") >= 2,
          expr("triangles * 10000L div wedges")).otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** LABEL PROPAGATION over the near-dup graph — K synchronous
    * majority-vote rounds smoothing a per-doc label (here `lang`)
    * across near-duplicate neighborhoods: mirrored/cross-posted
    * copies of one document frequently draw different language-ID
    * verdicts (translations, boilerplate-heavy pages), and the
    * CONSENSUS label of the neighborhood is the better curation key.
    * Docs outside the candidate graph keep their own label.
    *
    * Determinism without floats: each round, node v takes the label
    * with the highest neighbor count, ties broken by the
    * lexicographically SMALLEST label — one `min(struct(-cnt, lab))`
    * hash aggregate per round (never a per-node window); rounds are
    * synchronous (all votes read round k−1), so the result is
    * independent of execution order. The oracle replays the identical
    * vote with a row_number window per round (fine at oracle scale).
    *
    * Scale shape: per round one co-keyed edges⋈labels join + two
    * hash aggregates over edge endpoints, Materialize-pinned — the
    * x151 iterative discipline with an argmax instead of a sum.
    */
  def labelPropagate(docs: DataFrame, dfCap: Int, threshold: Double,
      iters: Int): DataFrame = {
    val pairs = Dedup.jaccardPairs(docs, dfCap, threshold)
      .select(col("d1"), col("d2"))
    val edges = graft.tools.Materialize(
      pairs.select(col("d1").as("src"), col("d2").as("dst"))
        .unionAll(pairs.select(col("d2").as("src"), col("d1").as("dst"))))
    val base = docs.select(col("doc_id"), col("lang"))
    val lblFinal: DataFrame =
      if (ScaleTier.localEdges(docs.sparkSession, edges.count())) {
        val spark = docs.sparkSession
        import spark.implicits._
        val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val nodeIds = es.map(_._1).distinct
        // seed labels for graph nodes only: one bounded semi-join
        // (the endpoint set is ≤ 2·|edges| by the gate)
        val seed = base
          .join(nodeIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        var lab = seed
        for (_ <- 1 to iters) {
          // the same synchronous vote as the distributed rounds:
          // majority count, ties to the lexicographically smallest
          // label — min over (-cnt, lab) exactly like min(struct)
          val votes = scala.collection.mutable
            .HashMap.empty[Long, scala.collection.mutable.HashMap[String, Long]]
          es.foreach { case (src, dst) =>
            lab.get(src).foreach { l =>
              votes.getOrElseUpdate(dst,
                scala.collection.mutable.HashMap.empty).updateWith(l) {
                c => Some(c.getOrElse(0L) + 1L)
              }
            }
          }
          lab = votes.map { case (id, vs) =>
            id -> vs.reduceLeft[(String, Long)] { case (a, b) =>
              if (b._2 > a._2 || (b._2 == a._2 && utf8Less(b._1, a._1)))
                b
              else a
            }._1
          }.toMap
        }
        lab.toSeq.sorted.toDF("doc_id", "consensus")
      } else {
        var lbl = edges.select(col("src").as("id")).distinct()
          .join(base.select(col("doc_id").as("id"),
            col("lang").as("lab")), "id")
        for (_ <- 1 to iters) {
          val votes = edges
            .join(lbl.select(col("id").as("src"), col("lab")), "src")
            .groupBy(col("dst").as("id"), col("lab"))
            .agg(count(lit(1)).as("cnt"))
            .groupBy(col("id"))
            .agg(min(struct((-col("cnt")).as("nc"), col("lab").as("l")))
              .as("v"))
            .select(col("id"), col("v.l").as("lab"))
          lbl = graft.tools.Materialize(votes)
        }
        lbl.select(col("id").as("doc_id"), col("lab").as("consensus"))
      }
    base.join(lblFinal, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("consensus"), col("lang")).as("consensus"),
        (coalesce(col("consensus"), col("lang")) =!= col("lang"))
          .as("changed"))
      .orderBy(col("doc_id"))
  }

  /** Oracle: the same synchronous vote, one CTE pair per round. */
  def labelPropagateSql(dfCap: Int, threshold: Double,
      iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""v$k AS (
         |  SELECT e.dst AS id, l.lab, count(*) AS cnt
         |  FROM ed e JOIN l${k - 1} l ON l.id = e.src
         |  GROUP BY 1, 2
         |), l$k AS (
         |  SELECT id, lab FROM (
         |    SELECT id, lab, row_number() OVER (
         |      PARTITION BY id ORDER BY cnt DESC, lab) AS rn
         |    FROM v$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.jaccardPairsCtesSql(dfCap, threshold)},
       |ed AS (SELECT d1 AS src, d2 AS dst FROM jp
       |       UNION ALL SELECT d2, d1 FROM jp),
       |l0 AS (
       |  SELECT d.doc_id AS id, d.lang AS lab
       |  FROM documents d
       |  WHERE d.doc_id IN (SELECT src FROM ed)),
       |$steps
       |SELECT d.doc_id, d.lang,
       |  coalesce(l.lab, d.lang) AS consensus,
       |  coalesce(l.lab, d.lang) <> d.lang AS changed
       |FROM documents d LEFT JOIN l$iters l ON l.id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Oracle: doc_id-ordered triangle enumeration over the shared x04
    * candidate chain — same triangles, same exact integer report.
    */
  def trianglesSql(dfCap: Int, threshold: Double): String =
    s"""WITH ${Dedup.jaccardPairsCtesSql(dfCap, threshold)},
       |tri AS (
       |  SELECT a.d1 AS x, a.d2 AS y, b.d2 AS z
       |  FROM jp a
       |  JOIN jp b ON b.d1 = a.d1 AND b.d2 > a.d2
       |  JOIN jp c ON c.d1 = a.d2 AND c.d2 = b.d2
       |), ids AS (
       |  SELECT x AS id FROM tri
       |  UNION ALL SELECT y FROM tri
       |  UNION ALL SELECT z FROM tri
       |), tcnt AS (SELECT id, count(*) AS t FROM ids GROUP BY id),
       |deg AS (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT d1 AS id FROM jp UNION ALL SELECT d2 FROM jp)
       |  GROUP BY id
       |)
       |SELECT d.id AS doc_id, CAST(d.deg AS BIGINT) AS deg,
       |  CAST(coalesce(t.t, 0) AS BIGINT) AS triangles,
       |  CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS wedges,
       |  CAST(CASE WHEN d.deg >= 2
       |       THEN coalesce(t.t, 0) * 10000 // (d.deg * (d.deg - 1) // 2)
       |       ELSE 0 END AS BIGINT) AS clustering_bp
       |FROM deg d LEFT JOIN tcnt t USING (id)
       |ORDER BY doc_id""".stripMargin
}
