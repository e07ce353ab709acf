package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, Alias, And, Attribute, CaseWhen, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, Pmod, Remainder}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical._

/** Plan-shape audit over the whole declared query surface: flags the
  * patterns that do not survive a 100 TB scale-up — single-partition
  * exchanges, cartesian products (other than deliberate broadcasts of
  * 1-row scalar frames), and scans with no pushed filters where the
  * query filters on a scanned column. Run:
  *   tools/spark-run.sh graft.tools.PlanAudit [sfDir]
  */
object PlanAudit {

  /** A broadcast-hinted subtree is "provably bounded" iff its ROOT is
    * certified: a grouping-free (1-row) aggregate, an aggregate whose
    * every key has a STRUCTURALLY bounded integer range (modulo by a
    * small literal, quantile-bucket sums — see [[boundedKey]]; the
    * column name proves nothing), an explicit limit, a literal `range(...)`, a
    * filter with a top-level conjunct pinning an id under an integer
    * literal (fixed query/seed/benchmark prefixes), or a scan of a
    * fixed-size dimension table (region/nation) — with boundedness
    * propagated bottom-up through row-preserving unary nodes, joins
    * (both sides bounded), and unions (all children bounded). Judging
    * at the root, not by the existence of any bounded descendant,
    * keeps `broadcast(corpus.join(tiny))` from passing; row-EXPANDING
    * nodes (Generate) never propagate. A hint on anything else — e.g.
    * a per-document aggregate over the whole corpus — forces an
    * unbounded driver collect at scale and is flagged.
    */
  def provablyBounded(p: LogicalPlan): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // foldable, not Literal: analysis wraps int literals compared to
    // long ids in a Cast, which is still a constant bound
    def bounding(e: Expression): Boolean = e match {
      case LessThan(_: Attribute, bound) => bound.foldable
      case LessThanOrEqual(_: Attribute, bound) => bound.foldable
      case GreaterThan(bound, _: Attribute) => bound.foldable
      case GreaterThanOrEqual(bound, _: Attribute) => bound.foldable
      case _ => false
    }
    p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => true
      case a: Aggregate if a.groupingExpressions.nonEmpty &&
        a.groupingExpressions.forall {
          case attr: Attribute => boundedKey(a.child, attr)
          case e => cardBound(e).exists(_ <= MaxKeyCard)
        } => true
      case a: Aggregate => provablyBounded(a.child) // never adds rows
      case _: GlobalLimit => true
      case _: Range => true
      case f: Filter if conjuncts(f.condition).exists(bounding) => true
      case j: Join => provablyBounded(j.left) && provablyBounded(j.right)
      case u: Union => u.children.forall(provablyBounded)
      case _: Generate => false // row-expanding
      // a LocalRelation already lives on the driver (createDataFrame
      // over collected model rows — the localized codebook/centroid
      // frames); broadcasting it cannot collect anything it hasn't
      case _: LocalRelation => true
      case l: LeafNode =>
        val s = l.toString
        s.contains("nation") || s.contains("region")
      case u: UnaryNode => provablyBounded(u.child)
      case _ => false
    }
  }

  /** A broadcastable grouping key can carry at most this many
    * distinct values — a modulo by a huge literal (`key % 1e9`) is
    * structurally a modulo but practically unbounded, so the divisor
    * magnitude is part of the certificate, not just its shape.
    */
  private val MaxKeyCard = 1000000L

  /** |divisor| when the expression folds to a nonzero number small
    * enough to reason about, else None. Long.MinValue is rejected
    * explicitly: math.abs(Long.MinValue) is NEGATIVE, and a negative
    * "bound" would invert the range downstream and falsely certify
    * `x % Long.MinValue` as bounded.
    */
  private def litAbs(e: Expression): Option[Long] =
    if (!e.foldable) None
    else e.eval() match {
      case n: java.lang.Number
          if n.longValue() != 0L && n.longValue() != Long.MinValue =>
        Some(math.abs(n.longValue()))
      case d: org.apache.spark.sql.types.Decimal
          if d.toLong != 0L && d.toLong != Long.MinValue =>
        Some(math.abs(d.toLong))
      case _ => None
    }

  /** Conservative integer-range analysis: Some((lo, hi)) when the
    * expression provably takes integral values within [lo, hi].
    * Covers exactly the shapes the engine builds bounded keys from:
    * literals, casts, modulo by a literal, and sums of
    * literal-branched CASE WHENs (OrderedRank's quantile-bucket id is
    * `0 + Σ when(key > boundᵢ, 1, 0)` — range [0, #bounds]).
    */
  private def intRange(e: Expression): Option[(Long, Long)] = e match {
    case Literal(null, _) => Some((0L, 0L)) // one NULL group
    case Literal(n: java.lang.Number, org.apache.spark.sql.types.ByteType |
        org.apache.spark.sql.types.ShortType |
        org.apache.spark.sql.types.IntegerType |
        org.apache.spark.sql.types.LongType) =>
      Some((n.longValue(), n.longValue()))
    case c: Cast => intRange(c.child)
    case al: Alias => intRange(al.child)
    case cw: CaseWhen =>
      val arms = cw.branches.map(_._2) ++ cw.elseValue.toSeq
      val rs = arms.map(intRange)
      if (rs.nonEmpty && rs.forall(_.isDefined)) {
        val rr = rs.flatten
        Some((rr.map(_._1).min, rr.map(_._2).max))
      } else None
    case a: Add =>
      // overflow on extreme literal ranges degrades to "not bounded"
      // instead of crashing the audit
      (for ((l1, h1) <- intRange(a.left); (l2, h2) <- intRange(a.right))
        yield scala.util.Try(
          (math.addExact(l1, l2), math.addExact(h1, h2))).toOption).flatten
    case p: Pmod => litAbs(p.right).map(k => (0L, k - 1))
    case r: Remainder => litAbs(r.right).map(k => (-(k - 1), k - 1))
    case _ => None
  }

  /** Distinct-value bound for an expression, from its integer range;
    * an inverted or overflowing range certifies nothing.
    */
  private def cardBound(e: Expression): Option[Long] =
    intRange(e).collect { case (lo, hi) if lo <= hi =>
      scala.util.Try(math.subtractExact(hi, lo) + 1).toOption
    }.flatten

  /** STRUCTURAL bounded-key certificate: every defining Alias of the
    * grouping attribute (anywhere under `child`) has a provably
    * bounded integer range — cardinality follows from the arithmetic
    * (`hash % K`, quantile-bucket sums), never from the column NAME.
    * An `__`-prefixed rename of an unbounded key certifies nothing.
    */
  private def boundedKey(child: LogicalPlan, attr: Attribute): Boolean = {
    // A Union reuses its FIRST child's exprIds for the output
    // attributes, so a bounded Alias found under one branch says
    // nothing about the values the other branches feed into the same
    // attribute — refuse to certify through any Union rather than
    // reason about branch provenance.
    val hasUnion = child.collectFirst { case u: Union => u }.nonEmpty
    val defining = child.collect {
      case p: Project => p.projectList.collect {
        case al: Alias if al.exprId == attr.exprId => al.child
      }
    }.flatten
    !hasUnion && defining.nonEmpty &&
      defining.forall(e => cardBound(e).exists(_ <= MaxKeyCard))
  }

  /** Broadcast hints whose side has no boundedness certificate. */
  def unboundedBroadcasts(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collect {
      case h: ResolvedHint
          if h.hints.strategy.contains(BROADCAST) &&
            !provablyBounded(h.child) => h.child
    }

  /** Positive structural certificates for the join shapes that must
    * hold at ANY scale factor — the audit proves them from the plan
    * instead of trusting a per-query allow-list entry:
    *  - `scalar-subquery-1row`: a cross/unconditioned join has a
    *    provably bounded side (a grouping-free aggregate is 1 row by
    *    construction — certified with or without a broadcast hint;
    *    TPC-H Q22's average-balance threshold);
    *  - `copartitioned-agg-join`: an equi-join whose aggregate side
    *    groups exactly on its own join keys — both sides shuffle on
    *    the same key, so the exchange co-locates and AQE reuses it
    *    (TPC-H Q17's correlated-average threshold);
    *  - `UNCERTIFIED-CROSS`: a cross join with NO bounded side — at
    *    scale this is |L|·|R| work; always flagged, for every query,
    *    no allow-list escape.
    */
  def joinCertificates(plan: LogicalPlan): Seq[String] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    // the Aggregate defining this side, looking through row-preserving
    // unary wrappers (Project/SubqueryAlias/Filter renames keep exprIds)
    def aggUnder(p: LogicalPlan): Option[Aggregate] = p match {
      case a: Aggregate => Some(a)
      case u: UnaryNode => aggUnder(u.child)
      case _ => None
    }
    def groupsOnKeys(side: LogicalPlan, keys: Seq[Attribute]): Boolean =
      keys.nonEmpty && aggUnder(side).exists { a =>
        val gids = a.groupingExpressions.collect {
          case at: Attribute => at.exprId
          case Alias(at: Attribute, _) => at.exprId
        }.toSet
        // the grouping OUTPUT attribute keeps the child's exprId when
        // grouped on a bare column, which is how every engine call
        // site builds these joins
        keys.forall(k => gids.contains(k.exprId))
      }
    plan.collect {
      case j: Join if j.condition.isEmpty || j.joinType == Cross =>
        if (provablyBounded(j.left) || provablyBounded(j.right))
          Seq("scalar-subquery-1row")
        else Seq("UNCERTIFIED-CROSS")
      case j: Join if j.condition.nonEmpty =>
        val eqs = conjuncts(j.condition.get).collect {
          case EqualTo(a: Attribute, b: Attribute) => (a, b)
        }
        val lKeys = eqs.map(_._1).filter(a =>
          j.left.outputSet.contains(a)) ++
          eqs.map(_._2).filter(b => j.left.outputSet.contains(b))
        val rKeys = eqs.map(_._1).filter(a =>
          j.right.outputSet.contains(a)) ++
          eqs.map(_._2).filter(b => j.right.outputSet.contains(b))
        if (groupsOnKeys(j.left, lKeys) || groupsOnKeys(j.right, rKeys))
          Seq("copartitioned-agg-join")
        else Seq.empty
    }.flatten
  }

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    // Audited-and-deliberate shapes: a global scalar aggregate's final
    // reduce is a SinglePartition exchange carrying one row per
    // upstream partition, and broadcasting that 1-row (or few-row)
    // frame back is a BroadcastNestedLoopJoin by construction. These
    // are the *correct* 100 TB shapes (the alternative — a shuffle
    // keyed on nothing — doesn't exist); everything else must stay
    // clean.
    val allow: Map[String, Set[String]] = Map(
      "q12_metrics" -> Set("SinglePartition", "BNLJoin"), // 1-row scale/sd scalars
      // four grouping-free 1-row step counts cross-joined into the
      // 3-row funnel report (certified scalar-subquery-1row above)
      "x91_event_funnel" -> Set("SinglePartition", "BNLJoin"),
      // nine-sum global aggregate → one 9-number row (Cramer projection)
      "d08_harmonic_fit" -> Set("SinglePartition"),
      "q13_metric_means" -> Set("SinglePartition", "BNLJoin"), // global means
      // 1-row average-balance scalar subquery (TPC-H Q22 shape)
      "q22_scalar_subquery" -> Set("SinglePartition", "BNLJoin"),
      "x23_tfidf" -> Set("SinglePartition", "BNLJoin"), // 1-row corpus count N
      "x74_bm25_topk" -> Set("SinglePartition", "BNLJoin"), // 1-row (N, avgdl)
      "x41_lm_perplexity" -> Set("SinglePartition", "BNLJoin"), // 1-row (N, V)
      // serve path: same 1-row (N, V) totals, recomputed from the
      // few-KB persisted model table instead of the training branch
      "x70_lm_serve" -> Set("SinglePartition", "BNLJoin"),
      "x42_dsir_weights" -> Set("SinglePartition", "BNLJoin"), // 1-row (Nt, Nr)
      // inherits x74's 1-row (N, avgdl) stats scalar and x05's
      // bounded broadcast query vectors through the fusion union
      "x78_rrf_fusion" -> Set("SinglePartition", "BNLJoin"),
      // merged-'ALL' row: 1-row grouping-free corpus aggregate joined
      // on a constant-folded key (the literal source = 'ALL')
      "x79_hll_distinct" -> Set("SinglePartition", "BNLJoin"),
      "x44_heavy_hitters" -> Set("SinglePartition", "BNLJoin"), // 1-row n
      // one grouping-free 1-row compression aggregate per merge-budget
      // candidate, unioned into the |candidates|-row sweep table (the
      // structural certificate deliberately refuses to see through
      // Union, so this audited scalar shape is allowlisted like d08)
      "x139_bpe_size_sweep" -> Set("SinglePartition"),
      // |sources|-row allocation table: dimension-sized window + 1-row scalars
      "x45_temperature_mix" -> Set("SinglePartition", "BNLJoin"),
      "x05_cosine_topk" -> Set("BNLJoin"), // 5 broadcast query vectors
      // the same bounded broadcast probe vectors, crossed twice
      // (forward corpus scoring + the tiny backward rescore)
      "x140_margin_mine" -> Set("BNLJoin"),
      // x05's bounded broadcast probe vectors feeding the purity eval
      "x133_knn_purity" -> Set("BNLJoin"),
      "x94_binary_topk" -> Set("BNLJoin"), // 5 broadcast query signatures
      // k broadcast trained centroids (the x36/x57 shape)
      "x97_centroid_outliers" -> Set("BNLJoin"),
      // the same k-centroid broadcast feeding the top-2 affinity cut
      "x128_silhouette" -> Set("BNLJoin"),
      // 1-row global-N scalar broadcast into the |labels|*dim moment
      // frame (certified scalar-subquery-1row above)
      "x130_fisher_separability" -> Set("SinglePartition", "BNLJoin"),
      // Spark's OWN injected runtime filter: a 1-row global
      // bloom_filter_agg built over the batch-slice join keys to
      // prune the verdict join's probe side — an optimizer-added
      // scalar reduce (the correct shape; nothing in the authored
      // plan is single-partition)
      "x131_incremental_fuzzy" -> Set("SinglePartition"),
      // serve path: the same ≤k-centroid broadcast, read back as a
      // LocalRelation from the persisted model table (cf. x66/x68)
      "x104_centroid_outliers_serve" -> Set("BNLJoin"),
      // 1-row benchmark-array aggregate (≤benchIds rows into the
      // scalar reduce) broadcast back for the map-only max-cosine
      // scoring pass (the x46 codebook shape, certified above)
      "x105_semantic_decontaminate" -> Set("SinglePartition", "BNLJoin"),
      // inherits x18's broadcast seed lists and x05's broadcast query
      // vectors (both bounded) on the two sides it compares
      "x107_ann_recall" -> Set("BNLJoin"),
      // x05's bounded broadcast probe vectors supplying the exact
      // top-k baseline; the probe/candidate side is a pure equi-join
      "x146_multiprobe_lsh" -> Set("BNLJoin"),
      // x18's broadcast seed lists + the 1-row corpus-total scalar
      // broadcast back over the ≤nLists occupancy rows
      "x110_ivf_occupancy" -> Set("SinglePartition", "BNLJoin"),
      // inherits x74's 1-row (N, avgdl) stats scalar and x05's
      // bounded broadcast query vectors through the two compared
      // rankings (the x78 shapes)
      "x111_ranker_agreement" -> Set("SinglePartition", "BNLJoin"),
      // x105's 1-row bench-array aggregate broadcast into the
      // map-only semantic flag side + the 4-row literal verdict
      // spine joined to the bounded verdict counts
      "x112_decon_agreement" -> Set("SinglePartition", "BNLJoin"),
      // the 16-counter single-row funnel aggregate exploded onto the
      // 5-row literal rule spine (nothing per-doc survives the agg)
      "x113_filter_funnel" -> Set("SinglePartition"),
      // |sources|-row dimension allocation + 1-row budget scalars
      // (the x45 shape)
      "x98_epoch_mix" -> Set("SinglePartition", "BNLJoin"),
      // |sources|-row ranked-cap waterfill + 1-row threshold scalars
      // (the x45/x98 dimension-window shape)
      "x120_unimax_mix" -> Set("SinglePartition", "BNLJoin"),
      // cumulative window over the bounded (freq, n_keys) histogram
      // (tens of rows) + 1-row percentile/total scalars
      "x100_key_skew" -> Set("SinglePartition", "BNLJoin"),
      // one grouping-free 1-row aggregate per profiled column over a
      // pruned scan, cross-joined into the unpivot (certified
      // scalar-subquery-1row above)
      "x102_column_profile" -> Set("SinglePartition", "BNLJoin"),
      "x95_jl_topk" -> Set("BNLJoin"), // 5 broadcast projected queries
      // same bounded broadcast-query shape as x05, on int8 codes
      "x80_int8_topk" -> Set("BNLJoin"),
      // 1-row corpus token total + limit-bounded top-v broadcast into
      // the |sources|×v grid
      "x82_psi_drift" -> Set("SinglePartition", "BNLJoin"),
      // inherits x05's bounded broadcast query vectors (candidate gen)
      "x84_mmr_rerank" -> Set("BNLJoin"),
      // x45's allocation shapes keyed on clusters: 1-row z/spent
      // scalars + k-row remainder window + LocalRelation centroids
      "x85_cluster_sample" -> Set("SinglePartition", "BNLJoin"),
      // serve path: identical shapes, centroids read back as a
      // LocalRelation from the persisted model table (cf. x68)
      "x88_cluster_sample_serve" -> Set("SinglePartition", "BNLJoin"),
      // two grouping-free 1-row audit aggregates (cf. d08)
      "x90_leakage_audit" -> Set("SinglePartition"),
      "x49_hard_negatives" -> Set("BNLJoin"), // 5 broadcast anchor vectors
      // inherits x41's 1-row (N, V) LM scalar shapes
      "x51_ppl_buckets" -> Set("SinglePartition", "BNLJoin"),
      // inherits x41's 1-row (N, V) LM scalar shapes
      "x117_signal_corr" -> Set("SinglePartition", "BNLJoin"),
      // 1-row bloom-filter map aggregate (≤bits/64 rows into the
      // scalar reduce) broadcast back across the fact keys
      "x52_bloom_prune" -> Set("SinglePartition", "BNLJoin"),
      "x18_ivf_topk" -> Set("BNLJoin"), // broadcast probe lists
      // x18's broadcast seed lists + x46's 1-row LocalRelation
      // codebook / per-query ADC tables on the composed IVFADC path
      "x149_ivfpq_topk" -> Set("BNLJoin"),
      // the same composed path plus x05's bounded broadcast probe
      // vectors for the exact baseline (the x107 recall shape)
      "x150_ivfpq_recall" -> Set("BNLJoin"),
      // serve path: same broadcast probe lists, centroids read back
      // as a LocalRelation from the persisted model (cf. x66/x68)
      "x72_ivf_serve" -> Set("BNLJoin"),
      "x36_kmeans_refine" -> Set("BNLJoin"), // k broadcast centroids
      // 1-row codebook aggregate (ksub·m bounded rows into the scalar
      // reduce) + nQueries-row ADC tables, both certified broadcasts
      "x46_pq_topk" -> Set("SinglePartition", "BNLJoin"),
      // serve path: 1-row LocalRelation codebook + nQueries-row ADC
      // tables, both certified broadcasts (no training in-plan)
      "x66_pq_serve" -> Set("BNLJoin"),
      // OrderedLag's helper fan-out joins the per-bucket tails to the
      // ≤32-row broadcast target list on an inequality — bounded by
      // construction (buckets·maxLag rows)
      "x32_rolling_sum" -> Set("BNLJoin"),
      // k broadcast centroids (pmod-certified seed frame, cf. x36)
      "x57_semantic_dedup" -> Set("BNLJoin"),
      // serve path: the same ≤k-centroid broadcast, read back as a
      // LocalRelation from the persisted model table (cf. x66)
      "x68_semdedup_serve" -> Set("BNLJoin"),
      // 1-row (nb, nt) corpus totals into the PMI projection
      "x58_pmi_collocations" -> Set("SinglePartition", "BNLJoin"),
      // 1-row global sketch-grid aggregate (one depth·width long
      // array into the scalar reduce)
      "x61_cm_estimates" -> Set("SinglePartition"),
      // 1-row corpus token-total scalar into the cumulative fraction
      "x64_zipf_curve" -> Set("SinglePartition", "BNLJoin"),
      // x64's 1-row (n_total, n_vocab) scalar broadcast into the
      // coverage predicate (certified scalar-subquery-1row above)
      "x123_vocab_sizing" -> Set("SinglePartition", "BNLJoin"),
      // |caps|-row capacity-sweep aggregate + 1-row totals scalar
      // broadcast back over it (the x108 sweep shape; certified
      // scalar-subquery-1row above)
      "x121_pack_efficiency" -> Set("SinglePartition", "BNLJoin"),
      // two 1-row global sketch-grid aggregates (the x61 shape, one
      // per join side) + the 1-row exact-count scalar broadcast back
      // over the <=depth-row estimate table (certified
      // scalar-subquery-1row above)
      "x152_join_size_est" -> Set("SinglePartition", "BNLJoin"),
      // 1-row corpus-count scalar broadcast into the target-rank
      // arithmetic (certified scalar-subquery-1row above); ranks
      // come from source-partitioned windows + OrderedRank
      "x153_quantile_norm" -> Set("SinglePartition", "BNLJoin"),
      // 1-row max/quad/vv/trace scalars of the power iteration
      // broadcast over the <=dim-row component frame (certified
      // scalar-subquery-1row above); the matvec joins are plain
      // equi-joins on pos/vec_id
      "x154_top_component" -> Set("SinglePartition", "BNLJoin"),
      // the x154 scalar shapes twice (before/after deflation) plus
      // the 1-row vᵀv scalar broadcast into the deflation map pass
      "x159_top_removal" -> Set("SinglePartition", "BNLJoin"),
      // the |sources|² pair spine: an inequality self-join of two
      // DIMENSION-sized distinct-source frames (tens of rows at any
      // corpus size) — nested-loop by construction, like the x45
      // allocation shapes; everything corpus-sized joins equi
      "x160_hll_overlap" -> Set("BNLJoin"))
    // fixed parallelism, so the audit reads the same on every machine;
    // every size gate at its at-scale arm, the plan shape at 100 TB
    val spark = graft.GraftSession(8)
    spark.conf.set(ScaleTier.ConfKey, "distributed")
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    // The model-training subtrees (PQ codebook, shared Lloyd loop)
    // execute at query-CONSTRUCTION time (driver-collected to a
    // LocalRelation — see Similarity.localized), so the final query
    // plan no longer contains them; audit them as entries of their
    // own so the training shape stays under the same gate.
    val trainingPlans: Seq[(String, SparkSession => org.apache.spark.sql
        .DataFrame)] = Seq(
      "TRAIN_pq_codebook" -> ((s: SparkSession) =>
        graft.llm.Similarity.pqTrainCodebook(
          graft.Tables.embeddings(s, sf), dim = 64, m = 4, ksub = 16,
          iters = 2, trainTarget = 125)),
      "TRAIN_kmeans_centroids" -> ((s: SparkSession) =>
        graft.llm.Similarity.kmeansCentroids(
          graft.Tables.embeddings(s, sf), k = 16, iters = 1)))
    val audited: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      graft.SparkEntry.queries.toSeq.sortBy(_._1)
        .map { case (n, fn) => n -> (() => fn(spark, sf)) } ++
      trainingPlans.map { case (n, fn) => n -> (() => fn(spark)) }
    val trainAllow = Set("SinglePartition", "BNLJoin")
    audited.foreach { case (name, fn) =>
      try {
        val qe = fn().queryExecution
        val plan = qe.executedPlan.toString
        val certs = joinCertificates(qe.analyzed)
        val issues = Seq(
          "SinglePartition" -> plan.contains("SinglePartition"),
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          // BroadcastNestedLoopJoin is fine only against tiny frames;
          // flag it so each use stays a conscious decision
          "BNLJoin" -> plan.contains("BroadcastNestedLoopJoin"),
          // a hard broadcast() hint must sit on a provably bounded
          // relation — anything O(input) would kill the driver at scale
          "UnboundedBroadcastHint" ->
            unboundedBroadcasts(qe.analyzed).nonEmpty,
          // a cross join with NO provably bounded side is |L|·|R| at
          // scale — never allow-listed
          "UncertifiedCrossJoin" -> certs.contains("UNCERTIFIED-CROSS"))
          .collect { case (tag, true) => tag }
          .filterNot(t => t != "UncertifiedCrossJoin" &&
            (if (name.startsWith("TRAIN_")) trainAllow
             else allow.getOrElse(name, Set.empty))(t))
        val posCerts = certs.filterNot(_ == "UNCERTIFIED-CROSS").distinct
        if (posCerts.nonEmpty)
          println(s"CERT  $name: ${posCerts.mkString(", ")}")
        if (issues.nonEmpty) {
          flagged += 1
          println(s"FLAG  $name: ${issues.mkString(", ")}")
        }
      } catch {
        case e: Throwable =>
          flagged += 1
          println(s"ERR   $name: ${e.getMessage.take(100)}")
      }
    }
    println(s"== $flagged flagged of ${audited.size} ==")
    spark.stop()
  }
}
