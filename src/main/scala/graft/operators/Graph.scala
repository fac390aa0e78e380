package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Parity.{stableRound, stableRoundSql}
import graft.operators.WebCuration.{withUrl, withUrlSql}

/** Link-graph curation over the documents corpus — the web-graph
  * signals production crawls feed into quality filtering: per-domain
  * degree statistics and damped PageRank (Page et al. 1999; Common
  * Crawl publishes exactly these domain-level rankings, and
  * RefinedWeb/FineWeb-style pipelines consume them as quality
  * priors).
  *
  * The synthetic corpus has no hyperlinks, so the graph is DERIVED
  * deterministically: a document lives on its [[WebCuration.withUrl]]
  * registered domain and emits [[LinksPerDoc]] outlinks whose
  * destination domains come from INTEGER-ONLY arithmetic on doc_id
  * (`(doc_id·7 + k·13) mod 20` picks the source, `(doc_id·11 + k) mod
  * 4` the TLD) — integer mod and decimal int→string render
  * identically in every engine, so the whole graph reproduces
  * bit-for-bit in the DuckDB oracle with no float or hex-conversion
  * hazards. On a real crawl the edge table comes from the HTML parse
  * and everything downstream is unchanged.
  *
  * Scale shape — what holds at 100 TB: links aggregate immediately to
  * the WEIGHTED domain-adjacency table (edges ∝ distinct domain
  * pairs, orders of magnitude below the corpus), and every PageRank
  * iteration is two hash shuffles over that table — join rank onto
  * edges by src, re-aggregate contributions by dst — the standard
  * distributed power-iteration shape. Rank state is one row per
  * domain; iteration lineage is cut with localCheckpoint (the
  * [[Dedup]] propagate-round discipline). Float reductions are the
  * per-destination sorted fold ([[keyedFloatSum]]), which exists for
  * cross-engine FLOAT PARITY at the gate; its row size is bounded by
  * in-degree.
  */
object Graph {

  /** Outlinks derived per document. */
  val LinksPerDoc = 2

  /** Damping factor — the standard 0.85 random-surfer split. */
  val Damping = 0.85

  /** Power iterations. Rank mass converges geometrically (0.85^k);
    * 5 rounds is where the synthetic graph's ordering stabilizes. */
  val Iterations = 5

  private val Tlds = Seq("com", "org", "net", "io")

  /** Per-key float reduction of `contrib` grouped by `group`: the
    * collected (far, contrib) structs sort by the far endpoint and
    * fold left from 0.0, so ranks are bit-identical to the
    * unrolled-CTE DuckDB oracle and the driver's hash gate proves the
    * iteration exact. One (group, `out`) row per key; row size grows
    * with in-degree (the collected neighborhood). */
  private def keyedFloatSum(df: DataFrame, group: String,
      far: Column, contrib: Column, out: String): DataFrame =
    df.groupBy(col(group))
      .agg(sort_array(collect_list(struct(far.as("k"), contrib.as("v"))))
        .as("cs"))
      .select(col(group),
        graft.functions.expr.FoldExpressions.sumArrayField(col("cs"), "v").as(out))

  /** Whole-frame float total of `v` (one row, named `out`), folded
    * sorted by `key`. Empty input yields 0.0. */
  private def globalFloatSum(df: DataFrame, key: Column,
      v: Column, out: String): DataFrame =
    df.agg(sort_array(collect_list(struct(key.as("k"), v.as("v"))))
        .as("ts"))
      .select(graft.functions.expr.FoldExpressions.sumArrayField(col("ts"), "v")
        .as(out))

  /** The derived weighted edge table: (src, dst, w) with self-loops
    * dropped, one row per distinct domain pair. */
  def edges(spark: SparkSession, dir: String): DataFrame = {
    val home = withUrl(
      Tables(spark, dir).documents.select(col("doc_id"), col("source")))
      .select(col("doc_id"),
        regexp_replace(parse_url(col("url"), lit("HOST")), "^www\\.", "")
          .as("src"))
    val k = explode(array((1 to LinksPerDoc).map(lit): _*)).as("k")
    val dstNum = (col("doc_id") * 7 + col("k") * 13) % 20
    val tldIdx = (col("doc_id") * 11 + col("k")) % 4
    val tld = Tlds.zipWithIndex.foldLeft(lit(Tlds.last): Column) {
      case (acc, (t, i)) =>
        if (i == Tlds.size - 1) acc else when(tldIdx === i, t).otherwise(acc)
    }
    home.select(col("doc_id"), col("src"), k)
      .select(col("src"),
        concat(lit("src"), dstNum.cast("string"), lit("."), tld).as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
  }

  /** The same edge derivation as an oracle CTE chain (yields table
    * `edges(src, dst, w)`); interpolated after [[withUrlSql]]'s `u`. */
  val edgesSql: String =
    """home AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_extract(url, '^https://([^/?#]+)', 1),
      |                   '^www\.', '') AS src
      |  FROM u),
      |links AS (
      |  SELECT src,
      |    'src' || ((doc_id * 7 + k * 13) % 20)::VARCHAR || '.' ||
      |    (CASE (doc_id * 11 + k) % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
      |          WHEN 2 THEN 'net' ELSE 'io' END) AS dst
      |  FROM home CROSS JOIN (VALUES (1), (2)) ks(k)),
      |edges AS (
      |  SELECT src, dst, count(*)::BIGINT AS w
      |  FROM links WHERE src <> dst GROUP BY src, dst)""".stripMargin

  /** Node set: every domain that participates in at least one edge.
    * (A domain whose every derived link was a self-loop and that
    * receives none would be isolated — derivation-identical in both
    * engines either way, so the edge-supported set is the contract.) */
  private def nodes(e: DataFrame): DataFrame =
    e.select(col("src").as("domain"))
      .union(e.select(col("dst").as("domain")))
      .distinct()

  private val nodesSql: String =
    """nodes AS (
      |  SELECT src AS domain FROM edges
      |  UNION
      |  SELECT dst AS domain FROM edges)""".stripMargin

  // ---------------------------------------------------------- degree

  /** g_degree — per-domain link-graph degree statistics: distinct
    * out/in neighbor counts and total out/in link weight. Two keyed
    * aggregations over the weighted edge table joined back to the
    * node set — integer-only output, linear at any scale. */
  def gDegree(spark: SparkSession, dir: String): DataFrame = {
    // Materialization barrier: the edge table feeds the out-agg, the
    // in-agg, AND the node set — uncheckpointed, Catalyst derives it
    // from scratch (md5 + parse_url chain) once per consumer
    // (plan-verified three full scans).
    val e = edges(spark, dir).localCheckpoint(false)
    val out = e.groupBy(col("src"))
      .agg(count(lit(1)).as("o_deg"), sum(col("w")).as("o_w"))
    val in = e.groupBy(col("dst"))
      .agg(count(lit(1)).as("i_deg"), sum(col("w")).as("i_w"))
    nodes(e)
      .join(out, col("domain") === col("src"), "left")
      .join(in, col("domain") === col("dst"), "left")
      .select(col("domain"),
        coalesce(col("o_deg"), lit(0L)).as("out_deg"),
        coalesce(col("i_deg"), lit(0L)).as("in_deg"),
        coalesce(col("o_w"), lit(0L)).as("out_w"),
        coalesce(col("i_w"), lit(0L)).as("in_w"))
      .orderBy("domain")
  }

  val gDegreeSql: String =
    s"""WITH u AS ($withUrlSql),
       |$edgesSql,
       |$nodesSql,
       |o AS (SELECT src, count(*)::BIGINT AS o_deg, sum(w)::BIGINT AS o_w
       |      FROM edges GROUP BY src),
       |i AS (SELECT dst, count(*)::BIGINT AS i_deg, sum(w)::BIGINT AS i_w
       |      FROM edges GROUP BY dst)
       |SELECT n.domain,
       |  COALESCE(o.o_deg, 0) AS out_deg,
       |  COALESCE(i.i_deg, 0) AS in_deg,
       |  COALESCE(o.o_w, 0) AS out_w,
       |  COALESCE(i.i_w, 0) AS in_w
       |FROM nodes n
       |LEFT JOIN o ON n.domain = o.src
       |LEFT JOIN i ON n.domain = i.dst
       |ORDER BY n.domain""".stripMargin

  // -------------------------------------------------------- pagerank

  /** g_pagerank — damped weighted PageRank over the domain graph,
    * [[Iterations]] power iterations, dangling mass redistributed
    * uniformly. Float parity is the [[TextAnalysis.tEntropy]] sorted
    * left-fold discipline applied per round: each destination's
    * incoming contributions (pr/out_w)·w collect sorted by source and
    * fold from 0.0, the dangling mass folds sorted by domain, and the
    * update `0.15/n + 0.85·(dm/n) + 0.85·fold` is spelled with the
    * identical op sequence in both engines — so five rounds of doubles
    * stay bit-identical and the gate hash-matches with rounding only
    * as presentation. */
  def gPagerank(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).localCheckpoint(false)
    val outw = e.groupBy(col("src")).agg(sum(col("w")).as("o_w"))
    val nDf = broadcast(nodes(e).agg(count(lit(1)).as("n")))
    var pr = nodes(e)
      .join(outw, col("domain") === col("src"), "left")
      .crossJoin(nDf)
      .select(col("domain"), coalesce(col("o_w"), lit(0L)).as("outw"),
        (lit(1.0) / col("n")).as("pr"))
      .localCheckpoint(false)
    for (_ <- 1 to Iterations) {
      val dm = globalFloatSum(pr.filter(col("outw") === 0L),
        col("domain"), col("pr"), "dm")
      val contribs = keyedFloatSum(
        e.join(pr, e("src") === pr("domain")), "dst",
        col("src"), (col("pr") / col("outw")) * col("w"), "contrib")
      pr = pr.select(col("domain"), col("outw"))
        .join(contribs, col("domain") === col("dst"), "left")
        .crossJoin(broadcast(dm))
        .crossJoin(nDf)
        .select(col("domain"), col("outw"),
          (lit(0.15) / col("n") + lit(0.85) * (col("dm") / col("n")) +
            lit(0.85) * coalesce(col("contrib"), lit(0.0))).as("pr"))
        .localCheckpoint(false)
    }
    pr.select(col("domain"), col("outw").as("out_w"),
        stableRound(col("pr"), 8).as("pr"))
      .orderBy("domain")
  }

  val gPagerankSql: String = {
    val iters = (1 to Iterations).map { i =>
      val prev = s"p${i - 1}"
      s"""d$i AS (
         |  SELECT list_reduce(list_prepend(0.0,
         |      COALESCE(list(pr ORDER BY domain), CAST([] AS DOUBLE[]))),
         |    (a, b) -> a + b) AS dm
         |  FROM $prev WHERE outw = 0),
         |c$i AS (
         |  SELECT e.dst AS domain,
         |    list((p.pr / p.outw) * e.w ORDER BY e.src) AS cs
         |  FROM edges e JOIN $prev p ON e.src = p.domain
         |  GROUP BY e.dst),
         |p$i AS (
         |  SELECT b.domain, b.outw,
         |    0.15 / cnt.n + 0.85 * (d$i.dm / cnt.n) +
         |    0.85 * list_reduce(list_prepend(0.0,
         |        COALESCE(c$i.cs, CAST([] AS DOUBLE[]))), (a, b) -> a + b)
         |      AS pr
         |  FROM $prev b
         |  LEFT JOIN c$i ON b.domain = c$i.domain
         |  CROSS JOIN d$i CROSS JOIN cnt)""".stripMargin
    }.mkString(",\n")
    s"""WITH u AS ($withUrlSql),
       |$edgesSql,
       |$nodesSql,
       |ow AS (SELECT src, sum(w)::BIGINT AS o_w FROM edges GROUP BY src),
       |cnt AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |p0 AS (
       |  SELECT n.domain, COALESCE(ow.o_w, 0) AS outw, 1.0 / cnt.n AS pr
       |  FROM nodes n LEFT JOIN ow ON n.domain = ow.src CROSS JOIN cnt),
       |$iters
       |SELECT domain, outw AS out_w,
       |  floor(pr * 1e8 + 0.5) / 1e8 AS pr
       |FROM p$Iterations
       |ORDER BY domain""".stripMargin
  }

  // ------------------------------------------------------------ hits

  /** HITS mutual-reinforcement rounds. */
  val HitsIterations = 4

  /** g_hits — Kleinberg's hubs & authorities over the weighted domain
    * graph (the complementary ranking to [[gPagerank]]: a hub links
    * to good authorities, an authority is linked from good hubs —
    * the directory-vs-destination distinction a quality prior can
    * exploit). Each round: authority = in-fold of hub·w, hub =
    * out-fold of authority·w, each L1-normalized. Same float-parity
    * discipline as PageRank — contribution folds sorted by the far
    * endpoint, the normalization total folds sorted by domain, every
    * op spelled identically in the oracle's unrolled CTE chain —
    * so four rounds of doubles stay bit-identical and the gate
    * hash-matches. Same two-shuffle-per-round scale shape; nodes
    * missing a side score 0 (coalesced at the end). */
  def gHits(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).localCheckpoint(false)
    val ns = nodes(e).localCheckpoint(false)
    val nDf = broadcast(ns.agg(count(lit(1)).as("n")))
    def normalized(raw: DataFrame, valCol: String): DataFrame = {
      val tot = broadcast(
        globalFloatSum(raw, col("domain"), col(valCol), "t"))
      raw.crossJoin(tot)
        .select(col("domain"), (col(valCol) / col("t")).as(valCol.stripSuffix("_raw")))
    }
    var hub = ns.crossJoin(nDf)
      .select(col("domain"), (lit(1.0) / col("n")).as("h"))
      .localCheckpoint(false)
    var auth: DataFrame = null
    for (_ <- 1 to HitsIterations) {
      val aRaw = keyedFloatSum(
        e.join(hub, e("src") === hub("domain")), "dst",
        col("src"), col("h") * col("w"), "a_raw")
        .withColumnRenamed("dst", "domain")
      auth = normalized(aRaw, "a_raw").localCheckpoint(false)
      val hRaw = keyedFloatSum(
        e.join(auth, e("dst") === auth("domain")), "src",
        col("dst"), col("a") * col("w"), "h_raw")
        .withColumnRenamed("src", "domain")
      hub = normalized(hRaw, "h_raw").localCheckpoint(false)
    }
    ns.join(hub, Seq("domain"), "left")
      .join(auth, Seq("domain"), "left")
      .select(col("domain"),
        stableRound(coalesce(col("h"), lit(0.0)), 8).as("hub"),
        stableRound(coalesce(col("a"), lit(0.0)), 8).as("authority"))
      .orderBy("domain")
  }

  val gHitsSql: String = {
    def fold(listExpr: String): String =
      s"list_reduce(list_prepend(0.0, COALESCE($listExpr, CAST([] AS DOUBLE[]))), (x, y) -> x + y)"
    val iters = (1 to HitsIterations).map { i =>
      val prevH = if (i == 1) "h0" else s"h${i - 1}"
      s"""a${i}raw AS MATERIALIZED (
         |  SELECT e.dst AS domain,
         |    ${fold(s"list((p.h * e.w) ORDER BY e.src)")} AS a_raw
         |  FROM edges e JOIN $prevH p ON e.src = p.domain
         |  GROUP BY e.dst),
         |a${i}t AS (SELECT ${fold("list(a_raw ORDER BY domain)")} AS t FROM a${i}raw),
         |a$i AS MATERIALIZED (SELECT domain, a_raw / t.t AS a FROM a${i}raw CROSS JOIN a${i}t t),
         |h${i}raw AS MATERIALIZED (
         |  SELECT e.src AS domain,
         |    ${fold(s"list((p.a * e.w) ORDER BY e.dst)")} AS h_raw
         |  FROM edges e JOIN a$i p ON e.dst = p.domain
         |  GROUP BY e.src),
         |h${i}t AS (SELECT ${fold("list(h_raw ORDER BY domain)")} AS t FROM h${i}raw),
         |h$i AS MATERIALIZED (SELECT domain, h_raw / t.t AS h FROM h${i}raw CROSS JOIN h${i}t t)""".stripMargin
    }.mkString(",\n")
    s"""WITH u AS ($withUrlSql),
       |$edgesSql,
       |$nodesSql,
       |cnt AS (SELECT count(*)::BIGINT AS n FROM nodes),
       |h0 AS (SELECT domain, 1.0 / cnt.n AS h FROM nodes CROSS JOIN cnt),
       |$iters
       |SELECT n.domain,
       |  floor(COALESCE(h.h, 0.0) * 1e8 + 0.5) / 1e8 AS hub,
       |  floor(COALESCE(a.a, 0.0) * 1e8 + 0.5) / 1e8 AS authority
       |FROM nodes n
       |LEFT JOIN h$HitsIterations h ON n.domain = h.domain
       |LEFT JOIN a$HitsIterations a ON n.domain = a.domain
       |ORDER BY n.domain""".stripMargin
  }

  // -------------------------------------------- connected components

  /** g_cc — connected components over the STRONG-EDGE BACKBONE of the
    * domain graph (the community step of a crawl-curation pipeline:
    * threshold away weak cross-links, then cluster what remains; the
    * same shape dedups clusters, isolates link farms, groups mirror
    * domains). The backbone keeps edges with w ≥ mean weight, spelled
    * as the INTEGER predicate `w·ne ≥ tw` — scale-invariant (weights
    * grow with the corpus but so does their mean) and division-free,
    * so the cut reproduces bit-for-bit in the oracle.
    *
    * Components come from [[Components.starLabels]]'s alternating
    * large-star/small-star contraction — the web-scale CC algorithm
    * (O(log²) rounds on any diameter, grouped-min aggregations only,
    * skew-safe by construction); nodes with no backbone edge attach
    * as their own singleton component. Output labels are strings +
    * integer sizes — hash-green with zero parity machinery.
    * [[graft.GraphSpec]] additionally pins the star labeling ≡ a
    * driver-side union-find on the same backbone. */
  def gCc(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).localCheckpoint(false)
    val tot = broadcast(
      e.agg(count(lit(1)).as("ne"), sum(col("w")).as("tw")))
    val bb = e.crossJoin(tot)
      .filter(col("w") * col("ne") >= col("tw"))
      .select(col("src").as("a"), col("dst").as("b"))
    val starred = Components.starLabels(bb)
      .select(col("node").as("domain"), col("comp").as("root"))
    val lbl = nodes(e).join(starred, Seq("domain"), "left")
      .select(col("domain"), coalesce(col("root"), col("domain")).as("comp"))
      .localCheckpoint(false)
    val sizes = lbl.groupBy("comp").agg(count(lit(1)).as("comp_size"))
    lbl.join(sizes, "comp")
      .select(col("domain"), col("comp"), col("comp_size"))
      .orderBy("domain")
  }

  val gCcSql: String =
    s"""WITH RECURSIVE u AS ($withUrlSql),
       |$edgesSql,
       |$nodesSql,
       |tot AS (SELECT count(*)::BIGINT AS ne, sum(w)::BIGINT AS tw
       |        FROM edges),
       |bb AS (SELECT src, dst FROM edges CROSS JOIN tot
       |       WHERE w * ne >= tw),
       |sym AS (SELECT src AS a, dst AS b FROM bb
       |        UNION SELECT dst, src FROM bb),
       |reach(src, dst) AS (
       |  SELECT domain, domain FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a),
       |lbl AS (SELECT src AS domain, min(dst) AS comp
       |        FROM reach GROUP BY src),
       |sz AS (SELECT comp, count(*)::BIGINT AS comp_size
       |       FROM lbl GROUP BY comp)
       |SELECT l.domain, l.comp, s.comp_size
       |FROM lbl l JOIN sz s USING (comp)
       |ORDER BY l.domain""".stripMargin

  /** g_cc_stats — per-component structure statistics over the same
    * strong-edge backbone as [[gCc]]: node count, undirected intra-
    * edge count (every backbone edge is intra-component by
    * definition of CC), and density 2m/(n·(n−1)) — the shape signal
    * a curation pipeline reads off each cluster (a near-clique of
    * mirror domains curates differently from a sparse hub-and-spoke
    * neighborhood). All inputs are integers; density is one exact
    * integer-over-integer double division — hash-green. Scale: two
    * grouped integer aggregations over the labeled backbone (edges
    * join the label frame once on one endpoint); output is one row
    * per component. */
  /** The canonical strong-edge backbone (a < b, distinct, self-loops
    * cut) and the full per-node component labeling — the shared front
    * half of [[gCcStats]] and [[gCcDiameter]]. */
  private def backboneLabeled(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e = edges(spark, dir).localCheckpoint(false)
    val tot = broadcast(
      e.agg(count(lit(1)).as("ne"), sum(col("w")).as("tw")))
    val bb = e.crossJoin(tot)
      .filter(col("w") * col("ne") >= col("tw"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct().localCheckpoint(false)
    val starred = Components.starLabels(bb)
      .select(col("node").as("domain"), col("comp").as("root"))
    val lbl = nodes(e).join(starred, Seq("domain"), "left")
      .select(col("domain"), coalesce(col("root"), col("domain")).as("comp"))
      .localCheckpoint(false)
    (bb, lbl)
  }

  def gCcStats(spark: SparkSession, dir: String): DataFrame = {
    val (bb, lbl) = backboneLabeled(spark, dir)
    val sizes = lbl.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
    // one endpoint suffices: both ends of a backbone edge share a comp
    val edgeCounts = bb
      .join(lbl.select(col("domain").as("a"), col("comp")), "a")
      .groupBy("comp").agg(count(lit(1)).as("n_edges"))
    sizes.join(edgeCounts, Seq("comp"), "left")
      .select(col("comp"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("density",
        when(col("n_nodes") > 1,
          (lit(2.0) * col("n_edges").cast("double")) /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double"))
          .otherwise(lit(0.0)))
      .orderBy("comp")
  }

  val gCcStatsSql: String =
    s"""WITH RECURSIVE u AS ($withUrlSql),
       |$edgesSql,
       |$nodesSql,
       |tot AS (SELECT count(*)::BIGINT AS ne, sum(w)::BIGINT AS tw
       |        FROM edges),
       |bb AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges CROSS JOIN tot
       |  WHERE w * ne >= tw AND src <> dst),
       |sym AS (SELECT a, b FROM bb UNION SELECT b, a FROM bb),
       |reach(src, dst) AS (
       |  SELECT domain, domain FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a),
       |lbl AS (SELECT src AS domain, min(dst) AS comp
       |        FROM reach GROUP BY src),
       |sz AS (SELECT comp, count(*)::BIGINT AS n_nodes
       |       FROM lbl GROUP BY comp),
       |ec AS (SELECT l.comp, count(*)::BIGINT AS n_edges
       |       FROM bb JOIN lbl l ON bb.a = l.domain GROUP BY l.comp)
       |SELECT s.comp, s.n_nodes,
       |  COALESCE(ec.n_edges, 0)::BIGINT AS n_edges,
       |  CASE WHEN s.n_nodes > 1
       |       THEN (2.0 * COALESCE(ec.n_edges, 0)::DOUBLE)
       |            / (s.n_nodes * (s.n_nodes - 1))::DOUBLE
       |       ELSE 0.0 END AS density
       |FROM sz s LEFT JOIN ec ON s.comp = ec.comp
       |ORDER BY s.comp""".stripMargin

  /** Multi-source BFS over the symmetric backbone, one source per
    * component: `seeds` is (comp, node), output is (comp, node, d)
    * with d = the hop distance from the component's seed. One
    * materialized round per BFS level (frontier ⋈ edges, minus
    * visited — grouped/distinct aggregations only, no neighborhood
    * ever collects into a row), so the loop costs O(eccentricity)
    * rounds; web-graph eccentricities are small (~20 on crawl
    * graphs), and the cap is conf-escapable for pathological chains
    * ([[Components.MaxRounds]] rationale). */
  private[graft] def bfsFrom(spark: SparkSession, seeds: DataFrame,
      sym: DataFrame): DataFrame = {
    val maxRounds = graft.core.Confs.intConf(
      spark, "graft.graph.bfsMaxRounds", 1024)
    val levels = scala.collection.mutable.ListBuffer.empty[DataFrame]
    var prev = seeds.limit(0).localCheckpoint(false)
    var frontier = seeds.localCheckpoint(false)
    levels += frontier.withColumn("d", lit(0L))
    var rounds = 0
    var done = false
    // BFS level property: a frontier node's neighbor sits at level
    // r−1, r, or r+1 — so excluding the last TWO frontiers is a
    // complete visited-set exclusion. Anti-joining the FULL visited
    // set instead would be O(V) per round → O(V·rounds) total; this
    // keeps the whole traversal O(E). The two frontiers are excluded
    // by ONE anti join against their union: at gate scale each
    // level's wall is almost entirely fixed per-job/per-broadcast
    // overhead, so one union-anti per level saves a broadcast build.
    def expand(fr: DataFrame, pr: DataFrame): DataFrame =
      fr.join(sym, col("node") === col("x"))
        .select(col("comp"), col("y").as("node"))
        .distinct()
        .join(fr.unionByName(pr), Seq("comp", "node"), "left_anti")
    while (!done) {
      // TWO frontier expansions per materialization/count cycle: each
      // level's wall is dominated by the driver round-trip, so
      // batching halves the loop's job count without changing the
      // O(E) traversal — level r+2 anti-joins (level r+1 ∪ level r),
      // the same complete visited exclusion, it just rides level
      // r+1's lineage inside one job. next1's lazy localCheckpoint
      // persists when next2's count computes it as next2's input, so
      // later levels still read stored blocks, not a recompute.
      val next1 = expand(frontier, prev).localCheckpoint(false)
      val next2 = expand(next1, frontier).localCheckpoint(false)
      // count(), not isEmpty: one job that BOTH materializes the
      // checkpoints fully and answers the fixpoint question (isEmpty's
      // take(1) needs multiple incremental job launches to prove an
      // empty frame — the exact case every BFS ends on). When next2
      // is empty, next1 may still carry the final level (its count is
      // a cheap read of the just-materialized blocks).
      val more = next2.count() > 0L
      val deepest =
        if (more) rounds + 2 else if (next1.count() > 0L) rounds + 1 else rounds
      // the cap bounds the deepest NON-EMPTY level, so a graph whose
      // eccentricity equals the cap converges whatever its parity
      if (deepest > maxRounds) throw new IllegalStateException(
        s"BFS not converged after $maxRounds rounds (raise " +
          "graft.graph.bfsMaxRounds if the graph is legitimately this deep)")
      if (deepest > rounds)
        levels += next1.withColumn("d", lit((rounds + 1).toLong))
      if (more) {
        levels += next2.withColumn("d", lit((rounds + 2).toLong))
        prev = next1
        frontier = next2
      } else done = true
      rounds += 2
    }
    levels.reduce(_.unionByName(_))
  }

  /** g_cc_diameter — per-component DIAMETER ESTIMATE over the same
    * strong-edge backbone, by the classic double-sweep BFS (Magnien/
    * Latapy/Habib 2009): BFS #1 from each component's min-label root
    * finds its farthest node u (ties → min domain, deterministic);
    * BFS #2 from u reports ecc(u) as `diameter_lb` — EXACT on trees,
    * a lower bound within a small factor in practice everywhere else
    * (the standard estimator; an exact diameter is all-pairs BFS, the
    * thing nobody runs on a web graph). The structural depth signal
    * next to [[gCcStats]]' density: a diameter-2 near-clique of
    * mirror domains vs a long redirect/ring chain of the same size
    * curate differently.
    *
    * All distances are integer hop counts and every pick is
    * tie-broken — hash-green with zero parity machinery. The oracle
    * replays both sweeps as bounded recursive walks (min-over-walks =
    * BFS distance; the d < |nodes| bound terminates cycles). Scale:
    * 2×eccentricity materialized rounds of grouped/distinct joins on
    * the backbone — each round edge-linear, skew-safe. */
  def gCcDiameter(spark: SparkSession, dir: String): DataFrame = {
    val (bb, lbl) = backboneLabeled(spark, dir)
    val sym = bb.select(col("a").as("x"), col("b").as("y"))
      .unionByName(bb.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint(false)
    val roots = lbl.select(col("comp")).distinct()
      .select(col("comp"), col("comp").as("node"))
    val d1 = bfsFrom(spark, roots, sym)
    val wU = Window.partitionBy(col("comp"))
      .orderBy(col("d").desc, col("node"))
    val far = d1.withColumn("rk", row_number().over(wU))
      .filter(col("rk") === 1).select("comp", "node")
    val d2 = bfsFrom(spark, far, sym)
    val diam = d2.groupBy("comp").agg(max(col("d")).as("diameter_lb"))
    val sizes = lbl.groupBy("comp").agg(count(lit(1)).as("n_nodes"))
    sizes.join(diam, Seq("comp"), "left")
      .select(col("comp"), col("n_nodes"),
        coalesce(col("diameter_lb"), lit(0L)).as("diameter_lb"))
      .orderBy("comp")
  }

  val gCcDiameterSql: String =
    s"""WITH RECURSIVE u AS ($withUrlSql),
       |$edgesSql,
       |$nodesSql,
       |tot AS (SELECT count(*)::BIGINT AS ne, sum(w)::BIGINT AS tw
       |        FROM edges),
       |bb AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges CROSS JOIN tot
       |  WHERE w * ne >= tw AND src <> dst),
       |sym AS (SELECT a, b FROM bb UNION SELECT b, a FROM bb),
       |reach(src, dst) AS (
       |  SELECT domain, domain FROM nodes
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN sym e ON r.dst = e.a),
       |lbl AS (SELECT src AS domain, min(dst) AS comp
       |        FROM reach GROUP BY src),
       |roots AS (SELECT DISTINCT comp FROM lbl),
       |walk1(comp, node, d) AS (
       |  SELECT comp, comp, 0 FROM roots
       |  UNION
       |  SELECT w.comp, e.b, w.d + 1 FROM walk1 w JOIN sym e ON w.node = e.a
       |  WHERE w.d < (SELECT count(*) FROM nodes)),
       |d1 AS (SELECT comp, node, min(d) AS d FROM walk1 GROUP BY comp, node),
       |far AS (SELECT comp, node FROM (
       |  SELECT comp, node,
       |    row_number() OVER (PARTITION BY comp ORDER BY d DESC, node) AS rk
       |  FROM d1) t WHERE rk = 1),
       |walk2(comp, node, d) AS (
       |  SELECT comp, node, 0 FROM far
       |  UNION
       |  SELECT w.comp, e.b, w.d + 1 FROM walk2 w JOIN sym e ON w.node = e.a
       |  WHERE w.d < (SELECT count(*) FROM nodes)),
       |d2 AS (SELECT comp, node, min(d) AS d FROM walk2 GROUP BY comp, node),
       |diam AS (SELECT comp, max(d)::BIGINT AS diameter_lb FROM d2 GROUP BY comp),
       |sz AS (SELECT comp, count(*)::BIGINT AS n_nodes FROM lbl GROUP BY comp)
       |SELECT s.comp, s.n_nodes,
       |  COALESCE(dm.diameter_lb, 0)::BIGINT AS diameter_lb
       |FROM sz s LEFT JOIN diam dm ON s.comp = dm.comp
       |ORDER BY s.comp""".stripMargin

  // ------------------------------------------------------- triangles

  /** g_triangles — per-domain triangle counts and local clustering
    * coefficients over the undirected link graph: the link-farm /
    * community signal web curation reads next to PageRank (spam
    * neighborhoods are triangle-dense cliques; genuine hub domains
    * have low clustering at high degree — the ratio separates them).
    *
    * Algorithm: the degree-ordered wedge join (Suri & Vassilvitskii,
    * WWW'11 — "the curse of the last reducer" construction, also
    * Schank–Wagner's `forward`): orient every undirected edge from its
    * lower endpoint to its higher endpoint under the TOTAL order
    * (degree, name); wedges enumerate as the oriented self-join on the
    * source; a wedge closes into a triangle iff its two upper
    * endpoints are themselves an oriented edge. Each triangle is
    * produced exactly once (its vertices form a chain in the total
    * order), and — the scale property the ordering buys — per-node
    * wedge work is bounded by the ORIENTED out-degree, O(√m) on any
    * graph, so a 10⁸-follower hub contributes O(m) wedges instead of
    * the O(deg²) that kills the naive node-iterator. All joins are
    * hash equi-joins on domain keys; the wedge filter reuses the same
    * (deg, name) order so the closing probe is a plain two-column
    * equi-join. Output is integer counts plus a clustering ratio of
    * two identical integers (correctly-rounded IEEE division both
    * engines, then stableRound(6)).
    *
    * Reference surface: none (shortcut has no graph ops) — 100 TB
    * brief surface like the rest of [[Graph]]. */
  def gTriangles(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).localCheckpoint(false)
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(false)
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v"),
        when(lower, col("db")).otherwise(col("da")).as("dv"))
      .localCheckpoint(false)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.u") === col("y.u") &&
          (col("x.dv") < col("y.dv") ||
            (col("x.dv") === col("y.dv") && col("x.v") < col("y.v"))))
      .select(col("x.u").as("t1"), col("x.v").as("t2"), col("y.v").as("t3"))
    val tris = wedges.join(
      oriented.select(col("u").as("t2"), col("v").as("t3")), Seq("t2", "t3"))
    val cnt = tris
      .select(explode(array(col("t1"), col("t2"), col("t3"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("tri"))
    deg.join(cnt, Seq("v"), "left")
      .select(col("v").as("domain"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          stableRound(lit(2.0) * coalesce(col("tri"), lit(0L)) /
            (col("deg") * (col("deg") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
      .orderBy("domain")
  }

  val gTrianglesSql: String =
    s"""WITH u AS ($withUrlSql),
       |$edgesSql,
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges),
       |deg AS (
       |  SELECT v, count(*)::BIGINT AS deg
       |  FROM (SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) t
       |  GROUP BY v),
       |ori AS (
       |  SELECT
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
       |         THEN und.a ELSE und.b END AS u,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
       |         THEN und.b ELSE und.a END AS v,
       |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND und.a < und.b)
       |         THEN db.deg ELSE da.deg END AS dv
       |  FROM und JOIN deg da ON da.v = und.a JOIN deg db ON db.v = und.b),
       |tri AS (
       |  SELECT x.u AS t1, x.v AS t2, y.v AS t3
       |  FROM ori x JOIN ori y ON x.u = y.u
       |    AND (x.dv < y.dv OR (x.dv = y.dv AND x.v < y.v))
       |  JOIN ori c ON c.u = x.v AND c.v = y.v),
       |cnt AS (
       |  SELECT v, count(*)::BIGINT AS tri
       |  FROM (SELECT t1 AS v FROM tri UNION ALL SELECT t2 FROM tri
       |        UNION ALL SELECT t3 FROM tri) e
       |  GROUP BY v)
       |SELECT d.v AS domain, d.deg,
       |  COALESCE(c.tri, 0)::BIGINT AS n_triangles,
       |  CASE WHEN d.deg >= 2
       |       THEN ${stableRoundSql("2.0 * COALESCE(c.tri, 0) / (d.deg * (d.deg - 1))", 6)}
       |       ELSE 0.0 END AS clustering
       |FROM deg d LEFT JOIN cnt c ON c.v = d.v
       |ORDER BY domain""".stripMargin

  // ----------------------------------------------- label propagation

  /** Synchronous label-propagation rounds. LPA converges (oscillation
    * aside) in a handful of sweeps on small-diameter web graphs; a
    * FIXED count keeps the output a pure function of the input —
    * same contract as [[Iterations]]. */
  val LpRounds = 4

  /** The weighted undirected adjacency (both directions, parallel
    * edges merged) — shared by [[gLabelprop]] and [[gModularity]]. */
  private def undirected(e: DataFrame): DataFrame =
    e.select(col("src").as("a"), col("dst").as("b"), col("w"))
      .unionByName(e.select(col("dst").as("a"), col("src").as("b"), col("w")))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
      .localCheckpoint(false)

  /** The [[LpRounds]] synchronous LPA sweeps over an undirected
    * adjacency — the (node, label) assignment both community rows
    * share (one definition, so the report can never grade a different
    * clustering than the one the operator emits). */
  private def lpaLabels(e: DataFrame, und: DataFrame): DataFrame = {
    var lab = nodes(e).select(col("domain").as("node"),
        col("domain").as("label"))
      .localCheckpoint(false)
    for (_ <- 1 to LpRounds) {
      val votes = und
        .join(lab.select(col("node").as("b"), col("label")), Seq("b"))
        .groupBy(col("a"), col("label"))
        .agg(sum(col("w")).as("lw"))
      val next = votes
        .groupBy(col("a"))
        .agg(min(struct((-col("lw")).as("nw"), col("label").as("l"))).as("m"))
        .select(col("a").as("node"), col("m.l").as("next_label"))
      // every edge-supported node appears as `a` in the undirected
      // adjacency, so the join is total; the coalesce is the LPA
      // keep-own-label rule for any future isolated-node source
      lab = lab.join(next, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("next_label"), col("label")).as("label"))
        .localCheckpoint(false)
    }
    lab
  }

  /** g_labelprop — community detection by synchronous label
    * propagation (Raghavan/Albert/Kumara 2007) over the UNDIRECTED
    * weighted domain graph: every node starts as its own label; each
    * round every node adopts the label with the greatest incident
    * edge weight among its neighbors, ties broken by the
    * lexicographically least label (the determinism LPA famously
    * lacks under random sweep order — synchronous sweeps + a total
    * tie order make the fixture bit-reproducible). [[LpRounds]]
    * rounds, then each node reports its community and the community
    * size. Communities are the mixture-level grouping web curation
    * feeds domain budgets and source-overlap audits with — link
    * farms surface as tight same-label blocks the way they surface
    * as triangle-dense neighborhoods in [[gTriangles]].
    *
    * Scale shape: each round is ONE hash join (labels onto the
    * undirected adjacency by the far endpoint) and TWO keyed
    * aggregations — vote weights by (node, label), then the argmax
    * by node as `min(struct(-lw, label))`, which map-side combines
    * to one struct per node per partition (never a collected
    * neighborhood; a 10⁸-degree hub folds its votes partially on
    * every mapper — exact, because vote weights are INTEGER sums,
    * immune to float order).
    * Round lineage is cut per sweep with localCheckpoint, the
    * [[gPagerank]] discipline. Oracle: the same rounds unrolled as
    * CTEs with a window argmax — integer weights and string labels
    * hash-gate exactly.
    *
    * Reference surface: none (shortcut has no graph ops) — 100 TB
    * brief surface like the rest of [[Graph]]. */
  def gLabelprop(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).localCheckpoint(false)
    val lab = lpaLabels(e, undirected(e))
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("csize"))
    lab.join(sizes, Seq("label"))
      .select(col("node").as("domain"), col("label").as("community"),
        col("csize"))
      .orderBy("domain")
  }

  /** The LPA rounds as a CTE chain ending in `l$LpRounds(node,
    * label)` — the ONE SQL copy of the sweep, shared by the
    * g_labelprop and g_modularity oracles. und is referenced once per
    * round and l$LpRounds multiply downstream; DuckDB inlines
    * multiply-referenced CTEs (the g_hits lesson), so both are
    * pinned MATERIALIZED. */
  private val lpaSqlChain: String = {
    val rounds = (1 to LpRounds).map { i =>
      s"""v$i AS (
         |  SELECT und.a, l.label, sum(und.w)::BIGINT AS lw
         |  FROM und JOIN l${i - 1} l ON und.b = l.node
         |  GROUP BY und.a, l.label),
         |l$i AS MATERIALIZED (
         |  SELECT a AS node, label FROM (
         |    SELECT a, label,
         |      row_number() OVER (PARTITION BY a ORDER BY lw DESC, label) AS rn
         |    FROM v$i) q
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""u AS ($withUrlSql),
       |$edgesSql,
       |$nodesSql,
       |und AS MATERIALIZED (
       |  SELECT a, b, sum(w)::BIGINT AS w FROM (
       |    SELECT src AS a, dst AS b, w FROM edges
       |    UNION ALL
       |    SELECT dst AS a, src AS b, w FROM edges) t
       |  GROUP BY a, b),
       |l0 AS (SELECT domain AS node, domain AS label FROM nodes),
       |$rounds""".stripMargin
  }

  val gLabelpropSql: String =
    s"""WITH $lpaSqlChain,
       |sz AS (SELECT label, count(*)::BIGINT AS csize
       |       FROM l$LpRounds GROUP BY label)
       |SELECT l.node AS domain, l.label AS community, sz.csize
       |FROM l$LpRounds l JOIN sz ON sz.label = l.label
       |ORDER BY domain""".stripMargin

  /** g_modularity — the community-QUALITY report over the LPA
    * labeling (the [[Embeddings.eSilhouette]] discipline applied to
    * graph communities: never trust a clustering you haven't scored):
    * per community, Newman modularity contribution Q_c = L_c/m −
    * (d_c/2m)² over the weighted undirected graph — positive means
    * denser-than-chance (a real community / link-farm block), ~0
    * means the label carries no structure and downstream per-
    * community curation would be grouping noise. ΣQ_c is the global
    * modularity. Labels come from the SHARED [[lpaLabels]] sweep —
    * the report grades exactly the clustering g_labelprop emits. On
    * the derived gate fixture the verdict is honestly NEGATIVE
    * (ΣQ_c ≈ −0.05: the src→dst link derivation is near-bipartite,
    * so LPA blocks have below-chance internal density) — the
    * e_silhouette-style "don't curate by this grouping here"
    * answer, which is the report's whole job.
    *
    * Spelled division-free until the output: internal_2w = Σ of both
    * directed copies of each intra-community edge (= 2·L_c, exact
    * integer), degree_w = Σ weighted degrees (= d_c), two_m = Σ und
    * weight (= 2m); Q_c = internal_2w/two_m − (degree_w/two_m)² with
    * both divisions exact-IEEE on integers, spelled identically in
    * both engines, rounded once.
    *
    * Scale shape: the LPA sweeps (per-round join + partial-agg
    * argmax, see [[gLabelprop]]) plus TWO keyed integer aggregations
    * (intra-edge sum via two label attaches on the adjacency, degree
    * sum per community) and a 1-row broadcast total — nothing beyond
    * the sweep's own cost, skew-safe throughout. */
  def gModularity(spark: SparkSession, dir: String): DataFrame = {
    val e = edges(spark, dir).localCheckpoint(false)
    val und = undirected(e)
    val lab = lpaLabels(e, und)
    val twoM = broadcast(und.agg(sum(col("w")).as("two_m")))
    val wdeg = und.groupBy(col("a")).agg(sum(col("w")).as("wd"))
    val ints = und
      .join(lab.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la")).agg(sum(col("w")).as("int2"))
      .select(col("la").as("community"), col("int2"))
    val degs = lab
      .join(wdeg, lab("node") === wdeg("a"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("wd")).as("dsum"))
      .select(col("label").as("community"), col("n_nodes"), col("dsum"))
    degs.join(ints, Seq("community"), "left")
      .crossJoin(twoM)
      .select(col("community"), col("n_nodes"),
        coalesce(col("int2"), lit(0L)).as("internal_2w"),
        col("dsum").as("degree_w"),
        stableRound(
          coalesce(col("int2"), lit(0L)).cast("double") / col("two_m") -
            (col("dsum").cast("double") / col("two_m")) *
            (col("dsum").cast("double") / col("two_m")), 6).as("q_contrib"))
      .orderBy("community")
  }

  val gModularitySql: String =
    s"""WITH $lpaSqlChain,
       |wdeg AS (SELECT a, sum(w)::BIGINT AS wd FROM und GROUP BY a),
       |ints AS (
       |  SELECT la.label AS community, sum(und.w)::BIGINT AS int2
       |  FROM und
       |  JOIN l$LpRounds la ON und.a = la.node
       |  JOIN l$LpRounds lb ON und.b = lb.node
       |  WHERE la.label = lb.label
       |  GROUP BY 1),
       |degs AS (
       |  SELECT l.label AS community, count(*)::BIGINT AS n_nodes,
       |    sum(wdeg.wd)::BIGINT AS dsum
       |  FROM l$LpRounds l JOIN wdeg ON wdeg.a = l.node
       |  GROUP BY 1),
       |tm AS (SELECT sum(w)::BIGINT AS two_m FROM und)
       |SELECT d.community, d.n_nodes,
       |  COALESCE(i.int2, 0)::BIGINT AS internal_2w,
       |  d.dsum AS degree_w,
       |  ${stableRoundSql(
            "COALESCE(i.int2, 0)::DOUBLE / two_m - " +
            "(d.dsum::DOUBLE / two_m) * (d.dsum::DOUBLE / two_m)", 6)} AS q_contrib
       |FROM degs d LEFT JOIN ints i USING (community) CROSS JOIN tm
       |ORDER BY community""".stripMargin

  // ------------------------------------------------- link prediction

  /** Degree cap for [[gJaccard]] candidate generation: nodes above it
    * are excluded as wedge CENTERS and from the capped neighborhoods
    * the denominator counts (see the gJaccard scaladoc — numerator
    * and denominator share one universe). Common-neighbor
    * counting is intrinsically Σdeg(center)² work, so a mega-hub —
    * every .com domain links to google-analytics — must not be
    * allowed to fan out deg² candidate pairs; capping centers is the
    * standard link-prediction discipline (a hub shared by everyone
    * carries no similarity signal anyway). Enforced IN the plan and
    * mirrored in the oracle; far above every degree in the synthetic
    * fixture so the gate exercises the uncapped semantics. */
  val LinkPredMaxDeg = 1000

  /** g_jaccard — link prediction / domain similarity by
    * common-neighbor Jaccard over the undirected domain graph:
    * candidate pairs are generated through shared neighbors (the
    * wedge join — only pairs with ≥1 common neighbor ever
    * materialize, never all-pairs), scored |N(a)∩N(b)| /
    * |N(a)∪N(b)|, and kept at ≥2 common neighbors. The classic
    * missing-link / related-domain signal (Liben-Nowell & Kleinberg
    * 2003) curation uses to spot mirror clusters and to expand seed
    * lists.
    *
    * Scale shape: candidates come only from wedges — two hash joins
    * on the shared-neighbor key with the [[LinkPredMaxDeg]] center
    * cap bounding per-neighbor fanout (the Σdeg² term), then ONE
    * keyed count per surviving pair and two broadcast-size degree
    * attaches. Integer counts; the single float is one IEEE divide,
    * stableRounded. Oracle: identical SQL over the same wedge
    * construction.
    *
    * Capped semantics are SELF-CONSISTENT: numerator AND denominator
    * both come from the hub-excluded neighborhood (da/db count only
    * neighbors with deg ≤ cap), so the score is the exact Jaccard of
    * the capped neighborhoods |N'(a)∩N'(b)| / |N'(a)∪N'(b)| — never
    * a mixed capped-intersection/full-union ratio, which would not be
    * a Jaccard of anything. When the cap does not bind (every degree
    * ≤ cap, as in the synthetic fixture) this is plain Jaccard;
    * GraphSpec pins the capped mode on a small-cap hub fixture. */
  def gJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardOf(spark, edges(spark, dir), LinkPredMaxDeg)

  private[graft] def jaccardOf(spark: SparkSession, e0: DataFrame,
      maxDeg: Int): DataFrame = {
    val e = e0.localCheckpoint(false)
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val nbr = und.select(col("a").as("v"), col("b").as("n"))
      .union(und.select(col("b").as("v"), col("a").as("n")))
      .localCheckpoint(false)
    val deg = nbr.groupBy("v").agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    // feeds the wedge join twice AND the capped-degree count
    val centers = nbr
      .join(deg.select(col("v").as("n"), col("deg").as("nd")), Seq("n"))
      .filter(col("nd") <= maxDeg)
      .localCheckpoint(false)
    // capped-neighborhood size: |{n ∈ N(v) : deg(n) ≤ cap}| — the
    // denominator lives in the same universe as the wedge numerator
    val cdeg = centers.groupBy("v").agg(count(lit(1)).as("deg"))
    val common = centers.as("x").join(centers.as("y"),
        col("x.n") === col("y.n") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
      .filter(col("common") >= 2)
    common
      .join(cdeg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(cdeg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("common"), col("da"), col("db"),
        stableRound(col("common").cast("double") /
          (col("da") + col("db") - col("common")), 6).as("jaccard"))
      .orderBy("a", "b")
  }

  val gJaccardSql: String =
    s"""WITH u AS ($withUrlSql),
       |$edgesSql,
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges),
       |nbr AS MATERIALIZED (
       |  SELECT a AS v, b AS n FROM und
       |  UNION ALL
       |  SELECT b AS v, a AS n FROM und),
       |deg AS MATERIALIZED (
       |  SELECT v, count(*)::BIGINT AS deg FROM nbr GROUP BY v),
       |ctr AS MATERIALIZED (
       |  SELECT nbr.v, nbr.n FROM nbr
       |  JOIN deg nd ON nd.v = nbr.n
       |  WHERE nd.deg <= $LinkPredMaxDeg),
       |cdeg AS MATERIALIZED (
       |  SELECT v, count(*)::BIGINT AS deg FROM ctr GROUP BY v),
       |com AS (
       |  SELECT x.v AS a, y.v AS b, count(*)::BIGINT AS common
       |  FROM ctr x JOIN ctr y ON x.n = y.n AND x.v < y.v
       |  GROUP BY x.v, y.v
       |  HAVING count(*) >= 2)
       |SELECT c.a, c.b, c.common, da.deg AS da, db.deg AS db,
       |  ${stableRoundSql("c.common::DOUBLE / (da.deg + db.deg - c.common)", 6)} AS jaccard
       |FROM com c
       |JOIN cdeg da ON da.v = c.a
       |JOIN cdeg db ON db.v = c.b
       |ORDER BY a, b""".stripMargin

  // -------------------------------------------------- g_assortativity

  /** g_assortativity — DEGREE ASSORTATIVITY of the undirected domain
    * graph (Newman 2002): the Pearson correlation of the endpoint
    * degrees over every edge. Positive = hubs link hubs (social-graph
    * shape), negative = hubs link leaves (the typical web/crawl
    * shape: portals → long-tail pages), ≈0 = neutral wiring. The
    * one-number structural fingerprint a crawl monitor tracks per
    * snapshot: a sign flip or a big move says the link structure
    * changed class (link-farm injection, a scraper looping a hub),
    * before any per-node metric moves.
    *
    * Every moment (M, Σx, Σy, Σxy, Σx², Σy²) is an INTEGER sum over
    * the symmetric edge list (degrees are integers; symmetry makes
    * Σx = Σy) — order-free, map-side combined, exact in both engines;
    * the final r spells one identical op tree with a guarded zero
    * denominator (a degree-regular graph has no variance → NULL).
    * Scale: degree table = one keyed count; degrees attach to edges
    * by two hash joins on the endpoint (broadcast when the node table
    * fits); one single-row aggregation. Int64 moments overflow only
    * past ~10¹⁸ (Σ dx·dy at web scale wants DECIMAL(38) — same
    * shape, wider type). */
  def gAssortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(spark, edges(spark, dir))

  private[graft] def assortativityOf(spark: SparkSession, e0: DataFrame): DataFrame = {
    val e = e0.localCheckpoint(false)
    val und = e.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val sym = und.select(col("a").as("v"), col("b").as("n"))
      .union(und.select(col("b").as("v"), col("a").as("n")))
      .localCheckpoint(false)
    val deg = sym.groupBy("v").agg(count(lit(1)).as("deg"))
    val pairs = sym
      .join(deg.select(col("v"), col("deg").as("dx")), Seq("v"))
      .join(deg.select(col("v").as("n"), col("deg").as("dy")), Seq("n"))
    val m = pairs.agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    // degree-regular graph ⇒ zero variance ⇒ no defined correlation:
    // report NULL loudly (integer variance test — exact), never NaN
    m.select(col("m").cast("long").as("n_edge_ends"),
        stableRound(when(
          col("m") * col("sxx") - col("sx") * col("sx") > 0 &&
            col("m") * col("syy") - col("sy") * col("sy") > 0,
          (col("m").cast("double") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("m").cast("double") * col("sxx") - col("sx") * col("sx")) *
              (col("m").cast("double") * col("syy") - col("sy") * col("sy")))),
          6).as("assortativity"))
  }

  val gAssortativitySql: String =
    s"""WITH u AS ($withUrlSql),
       |$edgesSql,
       |und AS (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM edges),
       |sym AS MATERIALIZED (
       |  SELECT a AS v, b AS n FROM und
       |  UNION ALL
       |  SELECT b AS v, a AS n FROM und),
       |deg AS MATERIALIZED (
       |  SELECT v, count(*)::BIGINT AS deg FROM sym GROUP BY v),
       |p AS (
       |  SELECT dx.deg AS dx, dy.deg AS dy
       |  FROM sym JOIN deg dx ON dx.v = sym.v
       |  JOIN deg dy ON dy.v = sym.n),
       |mo AS (
       |  SELECT count(*)::BIGINT AS m,
       |    sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
       |    sum(dx * dy)::BIGINT AS sxy,
       |    sum(dx * dx)::BIGINT AS sxx,
       |    sum(dy * dy)::BIGINT AS syy
       |  FROM p)
       |SELECT m AS n_edge_ends,
       |  ${stableRoundSql(
            "CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN " +
            "(m::DOUBLE * sxy - sx * sy) / " +
            "sqrt((m::DOUBLE * sxx - sx * sx) * (m::DOUBLE * syy - sy * sy)) END", 6)}
       |    AS assortativity
       |FROM mo""".stripMargin

  // ---------------------------------------------------- g_reciprocity

  /** g_reciprocity — fraction of directed domain links that are
    * RECIPROCATED (an edge a→b whose mirror b→a also exists): the
    * companion one-number monitor to [[gAssortativity]]. Organic
    * cross-linking reciprocates at a characteristic low rate; a jump
    * says link-exchange rings / mirror farms entered the crawl, a
    * collapse says the frontier went one-way (scraper stuck on feed
    * pages). Per-snapshot trend input to the same curation gates the
    * degree stats feed.
    *
    * One LeftSemi self-join of the edge table on the flipped key +
    * two single-row counts — edge-table-linear, no corpus touch;
    * integer counts, one rounded divide (an empty edge table reports
    * NULL — guarded identically in both engines). */
  def gReciprocity(spark: SparkSession, dir: String): DataFrame =
    reciprocityOf(spark, edges(spark, dir))

  private[graft] def reciprocityOf(spark: SparkSession, e0: DataFrame): DataFrame = {
    val e = e0.select(col("src"), col("dst")).localCheckpoint(false)
    val recip = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocated")))
      .select(col("n_edges"), col("n_reciprocated"),
        stableRound(when(col("n_edges") > 0,
          col("n_reciprocated").cast("double") / col("n_edges")), 6)
          .as("reciprocity"))
  }

  val gReciprocitySql: String =
    s"""WITH u AS ($withUrlSql),
       |$edgesSql,
       |e AS MATERIALIZED (SELECT src, dst FROM edges),
       |r AS (SELECT count(*)::BIGINT AS n_reciprocated
       |      FROM e WHERE EXISTS (
       |        SELECT 1 FROM e m WHERE m.src = e.dst AND m.dst = e.src)),
       |n AS (SELECT count(*)::BIGINT AS n_edges FROM e)
       |SELECT n.n_edges, r.n_reciprocated,
       |  ${stableRoundSql(
            "CASE WHEN n.n_edges > 0 THEN " +
            "r.n_reciprocated::DOUBLE / n.n_edges END", 6)} AS reciprocity
       |FROM n CROSS JOIN r""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g_degree" -> gDegree,
    "g_pagerank" -> gPagerank,
    "g_hits" -> gHits,
    "g_cc" -> gCc,
    "g_cc_stats" -> gCcStats,
    "g_cc_diameter" -> gCcDiameter,
    "g_triangles" -> gTriangles,
    "g_labelprop" -> gLabelprop,
    "g_jaccard" -> gJaccard,
    "g_modularity" -> gModularity,
    "g_assortativity" -> gAssortativity,
    "g_reciprocity" -> gReciprocity,
  )

  def oracles: Map[String, String] = Map(
    "g_degree" -> gDegreeSql,
    "g_pagerank" -> gPagerankSql,
    "g_hits" -> gHitsSql,
    "g_cc" -> gCcSql,
    "g_cc_stats" -> gCcStatsSql,
    "g_cc_diameter" -> gCcDiameterSql,
    "g_triangles" -> gTrianglesSql,
    "g_labelprop" -> gLabelpropSql,
    "g_jaccard" -> gJaccardSql,
    "g_modularity" -> gModularitySql,
    "g_assortativity" -> gAssortativitySql,
    "g_reciprocity" -> gReciprocitySql,
  )
}
