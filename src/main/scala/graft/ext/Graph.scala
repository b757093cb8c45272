package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.SessionMemo.PersistRecorded

/** Graph analytics over the part co-purchase graph (nodes = parts,
  * undirected edges = "appeared in the same order", the X16 basket
  * relation) — the iterative-computation tier the rest of the registry
  * doesn't exercise: synchronous power iteration expressed as a bounded
  * chain of join+aggregate rounds, the Pregel-without-Pregel shape that
  * scales as k fact-shuffles on a 1000-executor cluster (PageRank:
  * Brin & Page 1998; the reference engine has no graph surface at all —
  * pure extension).
  *
  * Determinism (the CLAUDE.md iterative-float protocol): every rank is
  * rounded at 9 the moment it is formed; per-edge contributions divide
  * two identical doubles (one IEEE op), round at 12, and accumulate in
  * exact DECIMAL(25,15) — partition-order free; the damping blend is
  * arithmetic over identical doubles re-rounded at 9. Both engines
  * state the same unrolled iteration chain, so ranks are cell-identical
  * without any tolerance.
  */
object Graph {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(s, s"$dir/$name.parquet")

  val Damping = 0.85
  val PrIters = 3
  val PrTopK = 20

  /** Session-lifetime memo for the (edges, deg) pair per (session, dir)
    * on [[SessionMemo]]: g1–g6 all consume the same co-purchase
    * adjacency, and g1 alone walks it 4+ times (degree attach + one leg
    * per iteration round), so the explode+distinct build runs once per
    * session and later hits re-arm its persists if clearCache dropped
    * them (re-execution then reuses the retained shuffle files).
    */
  /** The memoized HALF-pair support relation `(p1 < p2, support)` — the
    * expensive within-order self-join, built once per (session, dir) and
    * shared by the graph family (which filters to [[MinSupport]] and
    * unions both directions) AND X16's top-pair mining
    * (`Relational.copurchasePairs` — r13: the two tiers used to run the
    * identical self-join independently).
    */
  private[ext] def halfPairs(s: SparkSession, dir: String): DataFrame =
    SessionMemo.get[DataFrame](s, s"copurchase-half:$dir") {
      halfPairsFrom(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")))
        .persistRecorded()
    }

  /** [[halfPairs]] over an explicit `(l_orderkey, l_partkey)` relation. */
  private[ext] def halfPairsFrom(li: DataFrame): DataFrame = {
    val op = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val a = op.select(col("ok"), col("pk").as("p1"))
    val b = op.select(col("ok").as("ok2"), col("pk").as("p2"))
    a.join(b, col("ok") === col("ok2") && col("p1") < col("p2"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("support"))
  }

  private def edgeRelations(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    SessionMemo.get[(DataFrame, DataFrame)](s, s"graph-edges:$dir") {
      val kept = halfPairs(s, dir).filter(col("support") >= MinSupport)
      val e = kept.select(col("p1").as("u"), col("p2").as("v"))
        .unionAll(kept.select(col("p2").as("u"), col("p1").as("v")))
        .persistRecorded()
      (e, e.groupBy("u").agg(count(lit(1)).as("deg")).persistRecorded())
    }

  /** Minimum co-occurrence support for a graph edge — the Apriori cut
    * (Agrawal & Srikant 1994): a pair seen in ONE basket is chance, not
    * association. This is also the scale valve: the raw co-occurrence
    * graph densifies super-linearly as the corpus grows (at sf0.1 the
    * raw graph is 1.2M edges / 148M wedges; support ≥ 2 keeps ~3.6k
    * edges of signal), so graph analytics over the pruned graph stay
    * proportional to true associations, not to corpus chance.
    */
  val MinSupport = 2

  /** Undirected co-purchase edge list (`u`,`v`; both directions, no
    * self-loops, co-occurrence support ≥ [[MinSupport]]) from a
    * `(l_orderkey, l_partkey)` relation. Orders are ≤7-line baskets, so
    * the within-order self-join is a bounded-constant blowup — never an
    * all-pairs over parts; the support count is a map-side-partial
    * aggregate on the pair key.
    */
  def copurchaseEdges(li: DataFrame): DataFrame = {
    val op = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val a = op.select(col("ok"), col("pk").as("u"))
    val b = op.select(col("ok").as("ok2"), col("pk").as("v"))
    a.join(b, col("ok") === col("ok2") && col("u") =!= col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
      .filter(col("support") >= MinSupport)
      .select(col("u"), col("v"))
  }

  private val edgesCte = s"""op AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
      SELECT a.pk AS u, b.pk AS v
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk != b.pk
      GROUP BY 1, 2 HAVING COUNT(*) >= $MinSupport)"""

  /** G1: PageRank over the co-purchase graph — [[PrIters]] synchronous
    * power-iteration rounds at damping [[Damping]], uniform teleport,
    * top-[[PrTopK]] parts by final rank. Every node has degree ≥ 1 (it
    * exists because of an edge), so there is no dangling mass and each
    * round's incoming-contribution join reaches every node.
    *
    * Scale shape: degree is one map-side-partial count; each round is
    * ONE shuffle (join ranks to the edge list on the source endpoint,
    * re-aggregate on the destination) — k rounds = k fact shuffles,
    * exactly the distributed PageRank plan; the top-k is TakeOrdered
    * re-ranked by a bounded window. Nothing global-sorts the node set.
    */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val (edges, deg) = edgeRelations(s, dir)
    pagerankCore(edges, deg)
  }

  /** [[pagerank]] over an explicit `(l_orderkey, l_partkey)` relation —
    * the spec pins exact ranks on a crafted star graph.
    */
  def pagerankFrom(li: DataFrame): DataFrame = {
    val edges = copurchaseEdges(li)
    pagerankCore(edges, edges.groupBy("u").agg(count(lit(1)).as("deg")))
  }

  private def pagerankCore(edges: DataFrame, deg: DataFrame): DataFrame = {
    val nRel = deg.agg(count(lit(1)).as("n_nodes"))
    // r0 = round(1/N, 9) — one division of exact integers
    var ranks = deg.crossJoin(broadcast(nRel))
      .select(col("u").as("node"), col("deg"), col("n_nodes"),
        round(lit(1.0) / col("n_nodes").cast("double"), 9).as("r"))
    for (_ <- 1 to PrIters) {
      val contrib = ranks
        .join(edges, col("node") === col("u"))
        .select(col("v"),
          round(col("r") / col("deg").cast("double"), 12).as("c"))
        .groupBy("v")
        .agg(sum(col("c").cast(DecimalType(25, 15))).cast("double").as("inflow"))
      // LEFT join + coalesce(inflow, 0): on the symmetric co-purchase
      // graph every node has in-edges so this equals the inner join the
      // oracle states, but it makes the helper safe for directed/dangling
      // reuse via pagerankFrom — an inner join would silently DROP
      // zero-inflow nodes (and their rank mass) from all later rounds
      // (r12 ADVICE).
      ranks = ranks.join(contrib, col("node") === col("v"), "left")
        .select(col("node"), col("deg"), col("n_nodes"),
          // 0.15 as ONE parsed literal on both sides — `1.0 - 0.85`
          // computed in Scala is 0.150000…02, a different double than
          // the SQL text `0.15`
          round(lit(0.15) / col("n_nodes").cast("double") +
            lit(0.85) * coalesce(col("inflow"), lit(0.0)), 9).as("r"))
    }
    // r21 (verdict r20 item 1): the r20 node-grain `ranks` persist is
    // REMOVED — `ranks` feeds exactly one consumer (the top-k chain), so
    // the persist avoided recompute only across bench iterations while a
    // one-shot production run would pay a full node-grain
    // materialization for zero reuse (guide §5). The published bench
    // number is the honest recompute again.
    val top = ranks
      .orderBy(col("r").desc, col("node"))
      .limit(PrTopK)
    top.withColumn("rk", row_number().over(
      Window.orderBy(col("r").desc, col("node"))))
      .select(col("rk"), col("node"), col("deg").as("degree"),
        col("n_nodes"), col("r").as("pagerank"))
  }

  val pagerankSql: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
      SELECT e.v AS node,
        ROUND(0.15 / CAST(n.n_nodes AS DOUBLE) + 0.85 *
          CAST(SUM(CAST(ROUND(p.r / CAST(d.deg AS DOUBLE), 12)
            AS DECIMAL(25,15))) AS DOUBLE), 9) AS r
      FROM $prev p
      JOIN deg d ON p.node = d.u
      JOIN edges e ON p.node = e.u
      CROSS JOIN nrel n
      GROUP BY e.v, n.n_nodes)"""
    s"""WITH $edgesCte,
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
    nrel AS (SELECT COUNT(*) AS n_nodes FROM deg),
    r0 AS (
      SELECT u AS node, ROUND(1.0 / CAST(n_nodes AS DOUBLE), 9) AS r
      FROM deg CROSS JOIN nrel),
    ${iter("r0", "r1")},
    ${iter("r1", "r2")},
    ${iter("r2", "r3")},
    top AS (
      SELECT node, r FROM r3 ORDER BY r DESC, node LIMIT $PrTopK)
    SELECT row_number() OVER (ORDER BY r DESC, node) AS rk,
      node, d.deg AS degree, n.n_nodes, r AS pagerank
    FROM top JOIN deg d ON node = d.u CROSS JOIN nrel n"""
  }

  /** G2: degree-distribution audit of the co-purchase graph — nodes per
    * log2 degree bin with min/max degree and the edge mass per bin: the
    * skew check run before any graph computation (a heavy-tailed bin
    * table says which keys need salting; a bounded one certifies the G1
    * iteration's per-key fan-in). Counts are exact integers; the bin is
    * floor(log2(deg)) computed by BIGINT bit-length, not floating log.
    *
    * Scale shape: degree count + a map-side-partial rollup onto ≤64
    * bins; no window over the node set.
    */
  def degreeHist(s: SparkSession, dir: String): DataFrame =
    degreeHistCore(edgeRelations(s, dir)._2)

  /** [[degreeHist]] over an explicit `(l_orderkey, l_partkey)` relation. */
  def degreeHistFrom(li: DataFrame): DataFrame =
    degreeHistCore(copurchaseEdges(li).groupBy("u").agg(count(lit(1)).as("deg")))

  private def degreeHistCore(deg: DataFrame): DataFrame = {
    val tot = deg.agg(count(lit(1)).as("n"), sum("deg").as("m"))
    deg.select(col("deg"),
      // floor(log2(deg)) via bit length — exact integer, no libm
      (length(conv(col("deg"), 10, 2)) - 1).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_nodes"),
        min("deg").as("min_deg"), max("deg").as("max_deg"),
        sum("deg").as("endpoint_mass"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_nodes"), col("min_deg"), col("max_deg"),
        col("endpoint_mass"),
        round(col("n_nodes").cast("double") / col("n").cast("double"), 6)
          .as("node_frac"),
        round(col("endpoint_mass").cast("double") / col("m").cast("double"), 6)
          .as("mass_frac"))
      .orderBy("bin")
  }

  val degreeHistSql: String = s"""WITH $edgesCte,
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n, SUM(deg) AS m FROM deg),
    bins AS (
      SELECT CAST(length(ltrim(bin(deg), '0')) - 1 AS BIGINT) AS bin,
        COUNT(*) AS n_nodes,
        MIN(deg) AS min_deg, MAX(deg) AS max_deg,
        CAST(SUM(deg) AS BIGINT) AS endpoint_mass
      FROM deg GROUP BY 1)
    SELECT bin, n_nodes, min_deg, max_deg, endpoint_mass,
      ROUND(CAST(n_nodes AS DOUBLE) / CAST(n AS DOUBLE), 6) AS node_frac,
      ROUND(CAST(endpoint_mass AS DOUBLE) / CAST(m AS DOUBLE), 6) AS mass_frac
    FROM bins CROSS JOIN tot ORDER BY bin"""

  /** G3: triangle count + global clustering coefficient of the
    * co-purchase graph, via DEGREE-ORDERED wedge enumeration (the
    * node-iterator with the Schank-Wagner 2005 orientation): every
    * undirected edge is oriented from its lower (degree, id) endpoint
    * to the higher, wedges fan out only from the oriented source, and a
    * wedge closes iff its oriented third edge exists. Each triangle is
    * counted exactly once, and per-source fan-out is bounded by
    * O(√m) — the orientation is WHY this survives hub nodes at 100 TB
    * where a naive neighbor self-join squares the hottest degree.
    * Transitivity = 3·triangles / wedges with wedges = Σ C(deg,2).
    *
    * Determinism: pure integer counting; the single division is guarded
    * (wedge-free graphs emit NULL) and rounded at 6.
    *
    * Scale shape: three equi-joins — orientation (node-keyed deg
    * attach), wedge generation (keyed on the shared source), closure
    * (keyed on the candidate edge) — all shuffle-hash/sort-merge
    * shapes; aggregates are map-side partial to ONE row. No window, no
    * driver state.
    */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val (edges, deg) = edgeRelations(s, dir)
    trianglesCore(edges, deg)
  }

  /** [[triangles]] over an explicit `(l_orderkey, l_partkey)` relation —
    * the spec pins exact counts on crafted cliques.
    */
  def trianglesFrom(li: DataFrame): DataFrame = {
    val edges = copurchaseEdges(li)
    trianglesCore(edges, edges.groupBy("u").agg(count(lit(1)).as("deg")))
  }

  private def trianglesCore(edges: DataFrame, deg: DataFrame): DataFrame = {
    // orient: (deg, id) of src strictly below dst — each edge once
    val e = edges
      .join(deg.select(col("u").as("ua"), col("deg").as("da")), col("u") === col("ua"))
      .join(deg.select(col("u").as("ub"), col("deg").as("db")), col("v") === col("ub"))
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("u") < col("v")))
      .select(col("u").as("a"), col("v").as("b"), col("db"))
    val e1 = e.select(col("a").as("wa"), col("b").as("b1"), col("db").as("d1"))
    val e2 = e.select(col("a").as("wa2"), col("b").as("b2"), col("db").as("d2"))
    val wedges = e1.join(e2, col("wa") === col("wa2") &&
        (col("d1") < col("d2") || (col("d1") === col("d2") && col("b1") < col("b2"))))
      .select(col("b1"), col("b2"))
    val tri = wedges.join(e, col("b1") === col("a") && col("b2") === col("b"))
      .agg(count(lit(1)).as("n_triangles"))
      // r20 (`Profile recon`, the m6 pattern): 1-row triangle-count
      // boundary — a fresh construction re-runs the degree stats agg +
      // crossJoin only, not the wedge join (recon 1.27 s vs 0.03 s warm)
      .persistRecorded()
    val stats = deg.agg(
      count(lit(1)).as("n_nodes"),
      // integer division (never double-then-truncate): exact by
      // construction on both engines, not by sum-parity (r12 ADVICE)
      expr("sum(deg) div 2").as("n_edges"),
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    stats.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round(lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double"), 6)).as("transitivity"))
  }

  val trianglesSql: String = s"""WITH $edgesCte,
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
    e AS (
      SELECT ed.u AS a, ed.v AS b, db.deg AS db
      FROM edges ed
      JOIN deg da ON ed.u = da.u
      JOIN deg db ON ed.v = db.u
      WHERE da.deg < db.deg OR (da.deg = db.deg AND ed.u < ed.v)),
    wedges AS (
      SELECT e1.b AS b1, e2.b AS b2
      FROM e e1 JOIN e e2 ON e1.a = e2.a
        AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM wedges w JOIN e ON w.b1 = e.a AND w.b2 = e.b),
    stats AS (
      SELECT COUNT(*) AS n_nodes,
        CAST(SUM(deg) // 2 AS BIGINT) AS n_edges,
        CAST(SUM(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg)
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
      CASE WHEN n_wedges > 0
        THEN ROUND(3.0 * CAST(n_triangles AS DOUBLE) /
          CAST(n_wedges AS DOUBLE), 6) END AS transitivity
    FROM stats CROSS JOIN tri"""

  val LinkTopK = 50

  /** G4: link prediction — the top-[[LinkTopK]] NON-adjacent part pairs
    * by Adamic-Adar score Σ 1/ln(deg(z)) over shared neighbors z
    * (Adamic & Adar 2003), with the common-neighbor count alongside:
    * "parts that should co-sell but don't yet" — the standard
    * recommendation candidate generator over the association graph.
    *
    * Unlike G3's oriented wedges (each triangle once), candidate pairs
    * here need EVERY shared neighbor, so wedges fan out from the full
    * adjacency with plain id-order (b1 < b2) dedup per shared neighbor.
    * On the support-pruned graph the per-neighbor fan-out C(deg, 2) is
    * tame (the Apriori cut is what makes this shape safe — on the raw
    * graph it would be the 148M-wedge explosion G3's orientation
    * exists to avoid).
    *
    * Determinism: every wedge weight 1/ln(deg(z)) is computed once per
    * NEIGHBOR row and rounded at 9 (deg ≥ 2 ⇒ ln > 0; a wedge requires
    * it), accumulated in exact DECIMAL(25,12); counts are exact
    * integers; ties break (score desc, cn desc, p1, p2).
    *
    * Scale shape: one self-join keyed on the shared neighbor, one
    * pair-keyed aggregate, one anti-join against the edge list (equi,
    * both big sides shuffle-hash), TakeOrdered top-k re-ranked by a
    * bounded window.
    */
  def linkPrediction(s: SparkSession, dir: String): DataFrame = {
    val (edges, deg) = edgeRelations(s, dir)
    linkPredictionCore(edges, deg)
  }

  /** [[linkPrediction]] over an explicit `(l_orderkey, l_partkey)`
    * relation — the spec pins scores on a crafted butterfly graph.
    */
  def linkPredictionFrom(li: DataFrame): DataFrame = {
    val edges = copurchaseEdges(li)
    linkPredictionCore(edges, edges.groupBy("u").agg(count(lit(1)).as("deg")))
  }

  private def linkPredictionCore(edges: DataFrame, deg: DataFrame): DataFrame = {
    // deg ≥ 2: a wedge needs two distinct edges at the shared neighbor,
    // and the guard keeps ln(1) = 0 out of the division on both engines
    val adj = edges
      .join(deg.select(col("u").as("z"), col("deg")), col("u") === col("z"))
      .filter(col("deg") >= 2)
      .select(col("u").as("a"), col("v").as("b"),
        round(lit(1.0) / log(col("deg").cast("double")), 9).as("w"))
    val e1 = adj.select(col("a").as("za"), col("b").as("b1"), col("w"))
    val e2 = adj.select(col("a").as("za2"), col("b").as("b2"))
    val cand = e1.join(e2, col("za") === col("za2") && col("b1") < col("b2"))
      .groupBy("b1", "b2")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("w").cast(DecimalType(25, 12))).cast("double").as("aw"))
      // r20 (`Profile recon`, the m6 pattern): aggregated candidate-pair
      // boundary — a fresh construction re-runs the known-edge anti-join
      // + top-k only, not the wedge self-join (recon 0.85 s vs 0.07 s
      // warm); same relation the query already materialized per run
      .persistRecorded()
    val half = edges.filter(col("u") < col("v"))
      .select(col("u").as("eu"), col("v").as("ev"))
    val top = cand
      .join(half, col("b1") === col("eu") && col("b2") === col("ev"), "left_anti")
      .orderBy(col("aw").desc, col("common_neighbors").desc, col("b1"), col("b2"))
      .limit(LinkTopK)
    top.withColumn("rk", row_number().over(
      Window.orderBy(col("aw").desc, col("common_neighbors").desc, col("b1"), col("b2"))))
      .select(col("rk"), col("b1").as("p1"), col("b2").as("p2"),
        col("common_neighbors"), round(col("aw"), 6).as("aa_score"))
  }

  /** Synchronous label-propagation rounds (bounded, like [[PrIters]]). */
  val LpaIters = 3
  val LpaTopK = 20

  /** G5: label-propagation communities over the co-purchase graph —
    * [[LpaIters]] SYNCHRONOUS rounds of "adopt the most frequent label
    * among your neighbors" (Raghavan, Albert & Kumara 2007) from
    * self-labels, with the smallest label winning count ties, then the
    * top-[[LpaTopK]] communities by size: the standard near-linear-time
    * community detector, made fully deterministic by the synchronous
    * schedule + min-label tie-break (the paper's async random order is
    * not reproducible across engines).
    *
    * Determinism: labels are node ids and counts are exact integers —
    * no float ever enters the query; ties break (count desc, label asc)
    * and the final ranking (size desc, community asc).
    *
    * Scale shape: each round is the G1 fact shuffle (labels joined to
    * the edge list on the source endpoint) followed by two map-side-
    * combinable aggregates: (node, label) counts, then per-node argmax
    * as `max(struct(cnt, -lbl))` — never a per-node window over the
    * fact. The oracle states the same argmax as a per-node row_number
    * window; identical tie-break total order makes them agree
    * row-for-row. Per-node distinct-label fan-in is bounded by degree,
    * which the [[MinSupport]] prune keeps tame (the G1 argument).
    */
  def communities(s: SparkSession, dir: String): DataFrame = {
    val (edges, deg) = edgeRelations(s, dir)
    communitiesCore(edges, deg)
  }

  /** [[communities]] over an explicit `(l_orderkey, l_partkey)` relation
    * — the spec pins labels on a crafted two-clique bridge graph.
    */
  def communitiesFrom(li: DataFrame): DataFrame = {
    val edges = copurchaseEdges(li)
    communitiesCore(edges, edges.groupBy("u").agg(count(lit(1)).as("deg")))
  }

  private def communitiesCore(edges: DataFrame, deg: DataFrame): DataFrame = {
    // init: every node its own label; every graph node has >=1 edge, so
    // the per-round inner join on edge sources reaches all nodes
    var labels = deg.select(col("u").as("node"), col("u").as("lbl"))
    for (_ <- 1 to LpaIters) {
      labels = labels
        .join(edges, col("node") === col("u"))
        .groupBy(col("v"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy("v")
        // argmax with min-label tie-break as ONE orderable struct:
        // max((cnt, -lbl)) = highest count, then smallest label
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("v").as("node"), (-col("m.neg")).as("lbl"))
    }
    // r21 (verdict r20 item 1): the r20 node-grain `labels` persist is
    // REMOVED — single consumer (the community rollup), so it bought only
    // bench-iteration reuse at the cost of a node-grain materialization
    // in a one-shot run (guide §5 anti-pattern).
    val comm = labels.groupBy("lbl").agg(count(lit(1)).as("n_members"))
    val top = comm.orderBy(col("n_members").desc, col("lbl")).limit(LpaTopK)
    top.withColumn("rk", row_number().over(
      Window.orderBy(col("n_members").desc, col("lbl"))))
      .select(col("rk"), col("lbl").as("community"), col("n_members"))
  }

  val communitiesSql: String = {
    def iter(prev: String, cur: String) =
      s"""$cur AS (
      SELECT node, lbl FROM (
        SELECT e.v AS node, l.lbl AS lbl,
          row_number() OVER (PARTITION BY e.v
            ORDER BY COUNT(*) DESC, l.lbl) AS rn
        FROM $prev l JOIN edges e ON l.node = e.u
        GROUP BY e.v, l.lbl) WHERE rn = 1)"""
    s"""WITH $edgesCte,
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
    l0 AS (SELECT u AS node, u AS lbl FROM deg),
    ${iter("l0", "l1")},
    ${iter("l1", "l2")},
    ${iter("l2", "l3")},
    comm AS (SELECT lbl AS community, COUNT(*) AS n_members
             FROM l3 GROUP BY 1),
    top AS (SELECT * FROM comm
            ORDER BY n_members DESC, community LIMIT $LpaTopK)
    SELECT row_number() OVER (ORDER BY n_members DESC, community) AS rk,
      community, n_members
    FROM top"""
  }

  /** G6: connected components of the co-purchase graph — every node
    * labeled with its component's min part id (EXACT, iterated to
    * fixpoint — a diameter-capped approximation would be a WRONG
    * component map, the [[Dedup.MaxClusterIters]] argument), then the
    * bounded component-size audit: per log2(size) bin the component and
    * node counts — the fragmentation report (one giant component vs
    * many islands) read before any per-component computation is
    * scheduled. Reuses the D7 min-label machinery
    * ([[Dedup.clusterLabels]]: per-round join+agg with truncated
    * lineage, driver holds one scalar per round) over the
    * [[MinSupport]]-pruned edge list.
    *
    * Determinism: labels, sizes, and bin bounds are exact integers (the
    * G2 bit-length log2); the two fractions are one IEEE division each,
    * rounded at 6. The oracle states the same closure as a DuckDB
    * recursive CTE — reachability-min and label propagation agree
    * exactly on any graph.
    *
    * Scale shape: the per-round cost is one edge join + one min
    * aggregate (map-side partials); the histogram collapses the
    * node-sized label relation onto ≤64 bins. Labels memoize per
    * session like [[edgeRelations]] (registry persist contract).
    */
  def components(s: SparkSession, dir: String): DataFrame = {
    // the clusterLabels loop re-roots each round at an RDD scan, so two
    // constructions are never plan-equal (see Dedup.memoLabels) — one
    // build per (session, dir). The loop materializes the RDD-rooted
    // labels inside the build, and no plan reads the edges after it, so
    // the entry does not own the edge persists: its hits would re-arm
    // them for nothing.
    val labels = SessionMemo.get[DataFrame](s, s"graph-cc:$dir") {
      val (edges, deg) = SessionMemo.unrecorded(edgeRelations(s, dir))
      graft.ext.Dedup.clusterLabels(
        deg.select(col("u").as("id")),
        edges.filter(col("u") < col("v"))
          .select(col("u").as("doc_a"), col("v").as("doc_b")))
    }
    componentsHist(labels)
  }

  /** [[components]] over an explicit `(l_orderkey, l_partkey)` relation
    * — the spec pins bins on crafted multi-component graphs.
    */
  def componentsFrom(li: DataFrame): DataFrame = {
    val edges = copurchaseEdges(li)
    componentsHist(graft.ext.Dedup.clusterLabels(
      edges.select(col("u").as("id")).distinct(),
      edges.filter(col("u") < col("v"))
        .select(col("u").as("doc_a"), col("v").as("doc_b"))))
  }

  private def componentsHist(labels: DataFrame): DataFrame = {
    val comp = labels.groupBy("lbl").agg(count(lit(1)).as("sz"))
    val tot = comp.agg(count(lit(1)).as("nc"), sum("sz").as("nn"))
    comp.select(col("sz"),
      (length(conv(col("sz"), 10, 2)) - 1).cast("long").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_components"),
        sum("sz").as("n_nodes"),
        min("sz").as("min_size"), max("sz").as("max_size"))
      .crossJoin(broadcast(tot))
      .select(col("bin"), col("n_components"), col("n_nodes"),
        col("min_size"), col("max_size"),
        round(col("n_components").cast("double") / col("nc").cast("double"), 6)
          .as("comp_frac"),
        round(col("n_nodes").cast("double") / col("nn").cast("double"), 6)
          .as("node_frac"))
      .orderBy("bin")
  }

  val componentsSql: String = s"""WITH RECURSIVE $edgesCte,
    nodes AS (SELECT DISTINCT u FROM edges),
    reach AS (
      SELECT u AS id, u AS lbl FROM nodes
      UNION
      SELECT e.v, r.lbl FROM reach r JOIN edges e ON r.id = e.u),
    lab AS (SELECT id, MIN(lbl) AS lbl FROM reach GROUP BY 1),
    comp AS (SELECT lbl, COUNT(*) AS sz FROM lab GROUP BY 1),
    tot AS (SELECT COUNT(*) AS nc, CAST(SUM(sz) AS BIGINT) AS nn FROM comp),
    bins AS (
      SELECT CAST(length(ltrim(bin(sz), '0')) - 1 AS BIGINT) AS bin,
        COUNT(*) AS n_components,
        CAST(SUM(sz) AS BIGINT) AS n_nodes,
        MIN(sz) AS min_size, MAX(sz) AS max_size
      FROM comp GROUP BY 1)
    SELECT bin, n_components, n_nodes, min_size, max_size,
      ROUND(CAST(n_components AS DOUBLE) / CAST(nc AS DOUBLE), 6) AS comp_frac,
      ROUND(CAST(n_nodes AS DOUBLE) / CAST(nn AS DOUBLE), 6) AS node_frac
    FROM bins CROSS JOIN tot ORDER BY bin"""

  val linkPredictionSql: String = s"""WITH $edgesCte,
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY 1),
    adj AS (
      SELECT e.u AS a, e.v AS b,
        ROUND(1.0 / ln(CAST(d.deg AS DOUBLE)), 9) AS w
      FROM edges e JOIN deg d ON e.u = d.u WHERE d.deg >= 2),
    cand AS (
      SELECT e1.b AS b1, e2.b AS b2, COUNT(*) AS common_neighbors,
        CAST(SUM(CAST(e1.w AS DECIMAL(25,12))) AS DOUBLE) AS aw
      FROM adj e1 JOIN adj e2 ON e1.a = e2.a AND e1.b < e2.b
      GROUP BY 1, 2),
    nonadj AS (
      SELECT c.* FROM cand c
      ANTI JOIN (SELECT u, v FROM edges WHERE u < v) h
        ON c.b1 = h.u AND c.b2 = h.v),
    top AS (
      SELECT * FROM nonadj
      ORDER BY aw DESC, common_neighbors DESC, b1, b2 LIMIT $LinkTopK)
    SELECT row_number() OVER (
        ORDER BY aw DESC, common_neighbors DESC, b1, b2) AS rk,
      b1 AS p1, b2 AS p2, common_neighbors, ROUND(aw, 6) AS aa_score
    FROM top"""

  // ------------------------------------------------------ G7 k-core peel

  /** Coreness threshold for the G7 peel. */
  val KcoreK = 3
  /** Unrolled peel rounds — fixed (not to-fixpoint) so both engines
    * state the identical bounded iteration; a converged peel just
    * repeats its fixpoint rows.
    */
  val KcoreRounds = 6

  /** G7: truncated k-core decomposition (Seidman 1983) of the
    * co-purchase graph — [[KcoreRounds]] synchronous peel rounds at
    * k = [[KcoreK]] (each round drops every node whose degree within
    * the surviving subgraph is < k — the Batagelj–Zaversnik peel with
    * a bounded round count instead of a fixpoint loop), emitting one
    * summary row per round: surviving nodes, directed edge count
    * (= sum of surviving degrees), min/max degree. The density audit
    * run before committing to an expensive whole-graph algorithm: a
    * fast-emptying peel says the graph is a sparse fringe around a
    * small core.
    *
    * Determinism: every cell is an exact integer aggregate of a
    * deterministic edge subset; empty rounds coalesce to all-zeros
    * (never a NULL/NaN comparison — the CLAUDE.md NaN rule).
    *
    * Scale shape: each round is one map-side-partial degree count plus
    * two semi-joins on the node key over the [[MinSupport]]-pruned
    * edge list (the G1 scale argument — the pruned relation grows
    * with true associations, not corpus chance); the per-round stats
    * are single-row aggregates. Nothing global-sorts the node set, no
    * window anywhere. Every peel round is lineage-truncated and
    * persisted (all rounds feed the final union, so none can be
    * unpersisted early) — the ≤2·[[KcoreRounds]]+1 cached round tables
    * are bounded-small and live until the caller's `clearCache` (the
    * registry per-query persist contract; Verify clears per query, g7's
    * memo entry owns them).
    */
  def kcore(s: SparkSession, dir: String): DataFrame =
    kcoreCore(edgeRelations(s, dir)._1)

  /** [[kcore]] over an explicit `(l_orderkey, l_partkey)` relation —
    * the spec pins the peel on a crafted core-plus-fringe graph.
    */
  def kcoreFrom(li: DataFrame): DataFrame =
    kcoreCore(copurchaseEdges(li))

  private def kcoreCore(edges0: DataFrame): DataFrame = {
    def stats(round: Int, d: DataFrame): DataFrame =
      d.agg(count(lit(1)).as("n_nodes"),
        coalesce(sum("d"), lit(0L)).as("n_dir_edges"),
        coalesce(min("d"), lit(0L)).as("min_deg"),
        coalesce(max("d"), lit(0L)).as("max_deg"))
        .select(lit(round.toLong).as("round"), col("n_nodes"),
          col("n_dir_edges"), col("min_deg"), col("max_deg"))
    // Iterative-loop discipline (the D7 clusterLabels rule): each
    // round's plan references the previous round THREE times (the edge
    // child + both semi-join keep sides), so an un-truncated loop is
    // EXPONENTIAL in plan size — 3^rounds tree copies took the sweep to
    // 34 s and, once rounds were persisted, OOMed the driver in AQE's
    // plan-string rendering (r15, measured). Every round re-roots at an
    // RDD scan (`createDataFrame(df.rdd, schema)`) and persists: plans
    // stay constant-size, each round computes once, and the 7 stats
    // legs read the ≤thousands-row cached rounds. g7's memo entry owns
    // them per the persist contract.
    val spark = edges0.sparkSession
    def truncated(df: DataFrame): DataFrame =
      spark.createDataFrame(df.rdd, df.schema)
    var e = edges0.select(col("u"), col("v"))
    var d = truncated(e.groupBy("u").agg(count(lit(1)).as("d"))).persistRecorded()
    var out = stats(0, d)
    for (r <- 1 to KcoreRounds) {
      val keep = d.filter(col("d") >= KcoreK).select(col("u").as("node"))
      e = truncated(
        e.join(keep, col("u") === col("node"), "left_semi")
          .join(keep, col("v") === col("node"), "left_semi")).persistRecorded()
      d = truncated(e.groupBy("u").agg(count(lit(1)).as("d"))).persistRecorded()
      out = out.unionAll(stats(r, d))
    }
    out.orderBy("round")
  }

  val kcoreSql: String = {
    // every per-round CTE is referenced twice (next round + its stats
    // leg), so 7 chained rounds would inline 2^7 copies of the heavy
    // half-pair join if the engine expands CTEs — MATERIALIZED pins
    // each round to one evaluation (r15: the inlined form spilled
    // DuckDB's temp space to death at sf0.1; values are identical)
    def round(r: Int) =
      s"""d$r AS MATERIALIZED (SELECT u, COUNT(*) AS d FROM e$r GROUP BY 1),
    k$r AS MATERIALIZED (SELECT u AS node FROM d$r WHERE d >= $KcoreK),
    e${r + 1} AS MATERIALIZED (
      SELECT e.u, e.v FROM e$r e
      JOIN k$r a ON e.u = a.node JOIN k$r b ON e.v = b.node)"""
    def stat(r: Int) = s"""SELECT CAST($r AS BIGINT) AS round,
      COUNT(*) AS n_nodes,
      CAST(COALESCE(SUM(d), 0) AS BIGINT) AS n_dir_edges,
      COALESCE(MIN(d), 0) AS min_deg, COALESCE(MAX(d), 0) AS max_deg
      FROM d$r"""
    s"""WITH $edgesCte,
    e0 AS MATERIALIZED (SELECT u, v FROM edges),
    ${(0 until KcoreRounds).map(round).mkString(",\n    ")},
    d$KcoreRounds AS MATERIALIZED (
      SELECT u, COUNT(*) AS d FROM e$KcoreRounds GROUP BY 1)
    ${(0 to KcoreRounds).map(stat).mkString("\n    UNION ALL\n    ")}
    ORDER BY round"""
  }
}
