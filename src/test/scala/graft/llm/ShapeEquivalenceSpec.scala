package graft.llm

import graft.SparkTestBase
import graft.core.Tables
import graft.text.TextOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plan-shape choices must be RESULT-invariant.
  *
  * The ivf, pr1 and tc1 cases run both arms of a selection that still
  * exists in the code and assert identical rows: the two-level IVF
  * assignment (flat degeneracy at k <= threshold, fine-stage broadcast ==
  * SHUFFLE_HASH) and the pinned checkpoint partitioning of PageRank and
  * TriangleCount (GraftSqlBridge.assertHashPartitioned) against the
  * unpinned arm.
  *
  * The t7–t11, nv1, lp1 and bfs cases check a shipped shape against the
  * alternative it was measured against (SCALING.md probe tables), built
  * here from public pieces: the exact count identities behind the
  * shared-stage rewrites (a coarse aggregate re-derived from the finer
  * grain), the window-lead bigram stream behind the array-zip one, the
  * agg+join-back novelty counts, an in-memory label propagation, and BFS
  * under a pre-partitioned edge input and forced shuffle-hash joins.
  *
  * The digest table pins the shipped output of the queries whose shape
  * went through probe-driven rewrites (t7–t11, nv1, the dsir1 scores, kc1,
  * cf1, d9, ds1, bfs1, lp1) at the fixture SF, one case per query, so a
  * later edit that drifts their semantics fails here even where the
  * oracle SF is not run.
  */
class ShapeEquivalenceSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** Order-insensitive digest of a result: rows rendered canonically
    * (doubles to 9 significant digits), sorted, SHA-256'd. */
  private def digest(df: DataFrame): String = {
    val mc = new java.math.MathContext(9)
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case o => o.toString
    }
    val rs = df.collect().map(canon).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"n=${rs.length}:" + md.digest().take(8).map("%02x".format(_)).mkString
  }

  // row digests of the shipped shapes at `sf`, recorded before the losing
  // arms were deleted; one case per row so a drift names its query
  private val recorded = Seq(
    "t7_repetition_filter" -> "n=500:882e7b9b75b03a5c",
    "t8_unigram_logprob" -> "n=500:b8862b3e547bdbe1",
    "t9_tfidf_topterms" -> "n=1500:d5e361899dbb8f82",
    "t10_bigram_logprob" -> "n=500:815af6c70fecb90b",
    "t11_pmi_collocations" -> "n=20:7b533748a24fdcc0",
    "nv1_novelty_score" -> "n=500:2f2cb1b9f86fbb31",
    "dsirScored" -> "n=500:f0eb910ce085db2f",
    "kc1_kcore_peel" -> "n=6:767735bda061a239",
    "cf1_item_similarity" -> "n=20:473e65dec5d1a210",
    "d9_prefix_filter_join" -> "n=8:7111e306c750ea4f",
    "ds1_dup_spans" -> "n=11:aa3efc2773ecdc18",
    "bfs1_reachability_levels" -> "n=3:7d839b2bc3623c20",
    "lp1_label_propagation" -> "n=10:32efa1ae6968f7ee")

  recorded.foreach { case (name, want) =>
    test(s"shipped shape of $name reproduces its recorded row digest") {
      val df =
        if (name == "dsirScored") QualityQueries.dsirScored(spark, sf)
        else graft.SparkEntry.queries(name)(spark, sf)
      assert(digest(df) == want)
    }
  }

  // ---- shipped shapes against the alternatives they were measured against

  /** (doc_id, pos, tok) token stream, the shape every t-query starts from. */
  private def tokens: DataFrame =
    TextOps.docTokens(Tables.documents(spark, sf), col("doc_id"), col("text"))

  /** Bigram stream from a lead() window over the token stream — the form
    * the oracle SQL uses and the array-zip stream replaced. */
  private def windowBigrams: DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    tokens.select(col("doc_id"), col("tok").as("w1"), lead(col("tok"), 1).over(w).as("w2"))
      .filter(col("w2").isNotNull)
  }

  private def sortedRows(df: DataFrame): Seq[String] = rows(df).sorted

  test("t7: one co-partitioning exchange == three independent exchanges") {
    // the co-partitioned form: ONE repartition(doc_id) under both the
    // bigram window and the token aggregations
    val pt = tokens.repartition(col("doc_id"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bgStats = pt.withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("doc_id"), concat_ws("_", col("tok"), col("nxt"))).count()
      .groupBy(col("doc_id")).agg(max(col("count")).as("top_bg"), sum(col("count")).as("n_bg"))
    val tokStats = pt.groupBy(col("doc_id"), col("tok")).count()
      .groupBy(col("doc_id")).agg(max(col("count")).as("top_tok"),
        sum(col("count")).as("n_tok"), count(lit(1)).as("n_distinct"))
    val frac = (a: String, b: String) => col(a).cast("double") / col(b).cast("double")
    val copart = tokStats.join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"), frac("top_tok", "n_tok").as("top_tok_frac"),
        coalesce(frac("top_bg", "n_bg"), lit(0.0)).as("top_bg_frac"),
        ((col("n_tok") - col("n_distinct")).cast("double") / col("n_tok").cast("double"))
          .as("dup_tok_frac"))
      .withColumn("keep", col("top_tok_frac") <= 0.2 && col("top_bg_frac") <= 0.2)
      .orderBy(col("doc_id"))
    val shipped = rows(LlmQueries.t7(spark, sf))
    assert(shipped.nonEmpty && shipped == rows(copart))
  }

  test("t8: unigram table derived from (doc_id, tok) counts == direct") {
    val pt = tokens
    val dc = pt.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val derived = dc.groupBy(col("tok")).agg(sum(col("c")).as("ct"))
    val direct = pt.groupBy(col("tok")).agg(count(lit(1)).as("ct"))
    val a = sortedRows(direct)
    assert(a.nonEmpty && a == sortedRows(derived))
  }

  test("t9: shared (doc_id, tok) stage == independent aggregations") {
    val pt = tokens
    val dc = pt.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val dfDirect = pt.select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("dft"))
    val dfShared = dc.groupBy(col("tok")).agg(count(lit(1)).as("dft"))
    val a = sortedRows(dfDirect)
    assert(a.nonEmpty && a == sortedRows(dfShared))
    assert(rows(pt.agg(countDistinct(col("doc_id")))) ==
      rows(dc.agg(countDistinct(col("doc_id")))))
  }

  test("t10: array-zip bigram stream == window-lead bigram stream") {
    // t10 consumes the stream per document: compare the (doc_id, w1, w2)
    // multisets
    val a = sortedRows(LlmQueries.bigrams(spark, sf))
    assert(a.nonEmpty && a == sortedRows(windowBigrams))
  }

  test("t10: global bigram counts derived from per-doc counts == direct") {
    val bg = LlmQueries.bigrams(spark, sf)
    val dc = bg.groupBy(col("doc_id"), col("w1"), col("w2")).agg(count(lit(1)).as("c"))
    val derived = dc.groupBy(col("w1"), col("w2")).agg(sum(col("c")).as("cb"))
    val direct = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val a = sortedRows(direct)
    assert(a.nonEmpty && a == sortedRows(derived))
  }

  test("t11: array-zip bigram stream == window-lead bigram stream") {
    // t11 consumes the stream through its global (w1, w2) count table
    def counts(bg: DataFrame) =
      sortedRows(bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab")))
    val a = counts(LlmQueries.bigrams(spark, sf))
    assert(a.nonEmpty && a == counts(windowBigrams))
  }

  test("t11: nb derived from pre-filter count table == direct stream count") {
    val bg = LlmQueries.bigrams(spark, sf).select(col("w1"), col("w2"))
    val bc = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
    val derived = bc.agg(coalesce(sum(col("cab")), lit(0L))).head().getLong(0)
    val direct = bg.count()
    assert(direct > 0 && derived == direct)
  }

  test("nv1: co-partitioned shuffle-hash df shape == agg+join-back shape") {
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(array_distinct(TextOps.shingles3(col("toks")))).as("sh"))
    val df = sh.groupBy(col("sh")).agg(count(lit(1)).as("sdf"))
    val joinBack = sh.join(df, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("sdf") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .orderBy(col("doc_id"))
    val shipped = rows(QualityQueries.nv1(spark, sf)
      .select(col("doc_id"), col("n_shingles"), col("n_novel")))
    assert(shipped.nonEmpty && shipped == rows(joinBack))
  }

  // ---- r11 two-level IVF assignment invariants

  test("ivf: auto mode routes flat at k <= threshold") {
    val e = graft.core.Tables.embeddings(spark, sf)
    val cents = LlmQueries.ivfCentsAt(spark, e, 20) // <= ivfTwoLevelMin
    val a = rows(LlmQueries.ivfCellsAt(spark, e, cents, "flat")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    val b = rows(LlmQueries.ivfCellsAt(spark, e, cents, "auto")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    assert(a.nonEmpty && a == b)
  }

  test("ivf: fine-stage broadcast == shuffle_hash at two-level k") {
    // needs k > ivfTwoLevelMin=256 centroids, so the 500-vector sf0.01
    // fixture (the gate SF) stands in for the 50-vector one
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val cents = LlmQueries.ivfCentsAt(spark, e, 300)
    val a = rows(LlmQueries.ivfCellsAt(spark, e, cents, "twolevel")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    val b = rows(LlmQueries.ivfCellsAt(spark, e, cents, "twolevel-shuffle")
      .orderBy(org.apache.spark.sql.functions.col("vec_id")))
    assert(a.nonEmpty && a == b)
  }

  // ---- r11 pinned checkpoint partitioning (assertHashPartitioned):
  // physical-only — outputs must be bit-identical with the pin off

  test("pr1: pinned build partitioning == coalesced (bit-identical ranks)") {
    import spark.implicits._
    def arm(pin: Boolean) = {
      val edges = graft.core.Tables.lineitem(spark, sf)
        .join(graft.core.Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
        .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
      rows(graft.operators.PageRank.run(edges, iters = 3,
          pinnedBuildPartitions = pin)
        .orderBy($"v"))
    }
    val a = arm(false); val b = arm(true)
    assert(a.nonEmpty && a == b)
  }

  test("tc1 operator: pinned o/adj partitioning == unpinned (same stats row)") {
    import spark.implicits._
    val e = graft.core.Tables.lineitem(spark, sf)
      .select($"l_partkey".as("p"), $"l_suppkey".as("s")).distinct()
      .withColumn("v", org.apache.spark.sql.functions.lead($"s", 1)
        .over(org.apache.spark.sql.expressions.Window.partitionBy($"p").orderBy($"s")))
      .filter($"v".isNotNull).select($"s".as("u"), $"v").distinct()
    val a = rows(graft.operators.TriangleCount.run(e, pinnedPartitions = false))
    val b = rows(graft.operators.TriangleCount.run(e, pinnedPartitions = true))
    assert(a.nonEmpty && a == b)
  }

  test("lp1 operator: pinned sym partitioning == unpinned labels") {
    import spark.implicits._
    val e = Tables.lineitem(spark, sf)
      .select($"l_partkey".as("u"), $"l_suppkey".as("v")).distinct()
    val rounds = 3
    val shipped = graft.operators.LabelPropagation.run(e, rounds)
      .as[(Long, Long)].collect().toMap
    // unpartitioned reference: the same synchronous majority vote over the
    // collected edge list, ties to the smallest label
    val edges = e.as[(Long, Long)].collect()
    val nbrs = (edges ++ edges.map(_.swap)).distinct.groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).toSeq }
    var labels = nbrs.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = nbrs.map { case (u, vs) =>
        val votes = vs.groupBy(labels).map { case (l, ls) => l -> ls.size }
        u -> votes.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(shipped.nonEmpty && shipped == labels)
  }

  test("bfs bipartite: prePartition/shjHint arms == shipped levels") {
    import spark.implicits._
    val e = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .select(($"o_custkey" * 2).as("a"), ($"l_suppkey" * 2 + 1).as("b"))
    val src = Tables.customer(spark, sf)
      .filter($"c_nationkey" === 0).select(($"c_custkey" * 2).as("v"))
    def lv(edges: DataFrame): Seq[String] =
      rows(graft.operators.Bfs.levelsBipartite(edges, src, maxDepth = 3)
        .orderBy($"level", $"v"))
    val shipped = lv(e)
    assert(shipped.nonEmpty)
    // prePartition: the edge set arrives hash-partitioned on the odd-round
    // probe key `a`
    val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(lv(e.repartition(p, $"a")) == shipped)
    // shjHint: broadcast off and shuffle-hash joins preferred, so the round
    // joins shuffle both sides instead of broadcasting the frontier
    val forced = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m")
    val saved = forced.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      forced.foreach { case (k, v) => spark.conf.set(k, v) }
      assert(lv(e.repartition(p, $"a")) == shipped)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
