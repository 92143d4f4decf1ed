package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Lineage
import graft.graph.GraphOps

/** Triangle counting (SURVEY.md §2.4 A4, §3.3) as LA3 does it: a
  * neighbourhood exchange followed by a row intersection (masked SpGEMM).
  * Each undirected edge is oriented low→high by (degree, id); every vertex
  * v packs its forward adjacency N⁺(v) into one array row; each oriented
  * edge (a, b) meets N⁺(a) and N⁺(b), and S_ab = N⁺(a) ∩ N⁺(b) is exactly
  * the set of third corners c of the triangles a→b→c. The orientation is
  * acyclic, so each triangle is found once, at its first edge.
  *
  * Scale notes: orienting by (degree, id) instead of raw id caps every
  * forward degree at ~√(2m), so hub vertices no longer dominate the
  * intersections, and the count is orientation-invariant, so the oracle is
  * unchanged. What shuffles is one (b, N⁺(a)) row per oriented edge and
  * one N⁺(v) row per vertex, not one row per wedge: the wedge self-join
  * and its closing semi-join (the Σ fwd-deg² fan-out) are gone from
  * [[count]], [[perVertex]], [[localClustering]] and [[fourCliques]].
  * [[sampledCount]], [[triangleStrength]] and [[signedBalance]] keep the
  * wedge plan: the first samples wedges by definition, the other two
  * carry per-edge payloads through the closing join.
  */
object TriangleCount {

  /** Canonical simple edges oriented low→high in the (degree, id) total
    * order, materialized. Degree = undirected simple-graph degree.
    * `canonicalInput = true` asserts the caller's edges are ALREADY a
    * canonical simple oriented set (unique src < dst, no self-loops — e.g.
    * the co-purchase derivation's groupBy output), skipping the no-op
    * orient+dedup shuffle over the full edge set (r6, guide §2.1).
    */
  private def orientedByDegree(edges: DataFrame,
                               canonicalInput: Boolean = false): DataFrame = {
    val und = (
      if (canonicalInput) edges.select("src", "dst")
      else GraphOps.orient(edges)
    ).transform(Lineage.cut(_, eager = true))
    val deg = und.select(col("src").as("id"))
      .union(und.select(col("dst").as("id")))
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val fwd = und
      .join(deg.toDF("src", "dsrc").hint("shuffle_hash"), "src")
      .join(deg.toDF("dst", "ddst").hint("shuffle_hash"), "dst")
    val srcFirst = col("dsrc") < col("ddst") ||
      (col("dsrc") === col("ddst") && col("src") < col("dst"))
    fwd.select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("src"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("dst"))
      .transform(Lineage.cut(_, eager = true))
  }

  /** Forward adjacency N⁺(v) of a degree-oriented edge set: one
    * (v, nbrs) row per vertex with at least one forward edge.
    */
  private def forwardAdjacency(e: DataFrame): DataFrame =
    e.groupBy(col("src").as("v"))
      .agg(collect_list(col("dst")).as("nbrs"))

  /** `df` hash-partitioned on `key` into exactly
    * `spark.sql.shuffle.partitions` parts. The rows the intersection joins
    * shuffle are small and compress well, but each one costs an array
    * intersection, so AQE would coalesce them into too few tasks; a
    * REPARTITION_BY_NUM exchange is never coalesced.
    */
  private def spread(df: DataFrame, key: String): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))

  /** Per oriented edge (a, b): `s` = N⁺(a) ∩ N⁺(b), the third corners of
    * the triangles whose first edge is (a, b). The edges come from
    * exploding N⁺(a) itself, so each carries N⁺(a) with no join; edges
    * whose head has no forward edge close no triangle and drop out of the
    * join with N⁺(b).
    */
  private def edgeTriangles(adj: DataFrame): DataFrame =
    spread(adj.select(col("v").as("a"), explode(col("nbrs")).as("b"),
        col("nbrs").as("na")), "b")
      .join(spread(adj, "v").toDF("b", "nb").hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        array_intersect(col("na"), col("nb")).as("s"))

  /** Global triangle count; single row (triangles: long). */
  def count(edges: DataFrame, canonicalInput: Boolean = false): DataFrame = {
    val e = orientedByDegree(edges, canonicalInput)
    edgeTriangles(forwardAdjacency(e))
      .agg(coalesce(sum(size(col("s")).cast("long")), lit(0L))
        .as("triangles"))
  }

  /** (id, tri_cnt) for every vertex in ≥ 1 triangle: each edge (a, b)
    * credits a and b with |S_ab| and every c ∈ S_ab with 1, in ONE explode
    * over the per-edge frame (a union of two branches would compute that
    * frame twice). Edges with an empty S_ab credit a and b with 0 rather
    * than being filtered out, which would evaluate the intersection twice.
    */
  private def trianglesPerVertex(e: DataFrame): DataFrame =
    edgeTriangles(forwardAdjacency(e))
      .select(size(col("s")).as("k"),
        posexplode(concat(array(col("a"), col("b")), col("s"))))
      .groupBy(col("col").as("id"))
      .agg(sum(when(col("pos") < 2, col("k")).otherwise(1)).cast("long")
        .as("tri_cnt"))
      .where(col("tri_cnt") > 0)

  /** Per-vertex triangle participation counts (id, tri_cnt) — each
    * triangle credits all three corners.
    */
  def perVertex(edges: DataFrame, canonicalInput: Boolean = false): DataFrame =
    trianglesPerVertex(orientedByDegree(edges, canonicalInput))

  /** Per-vertex local clustering coefficient, scored in exact integer
    * micro-units so the oracle twin is byte-identical across engines:
    * `lcc_micro = floor(2e6 · tri(v) / (deg(v)·(deg(v)−1)))`, 0 when
    * deg < 2. Output (id, tri_cnt, deg, lcc_micro), one row per vertex of
    * the simple undirected graph. Integer `div` truncation on non-negative
    * operands ≡ DuckDB's `//` floor division, so no float ever crosses the
    * comparison boundary (the harmonic-centrality micro-unit recipe).
    *
    * Scale: one extra groupBy over the oriented edge endpoints beyond the
    * [[perVertex]] plan — degree and triangle aggregates both shuffle on
    * vertex id, and the final assembly is a same-key left join.
    */
  def localClustering(edges: DataFrame, canonicalInput: Boolean = false): DataFrame = {
    val e = orientedByDegree(edges, canonicalInput)
    val deg = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .groupBy("id")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    deg.join(trianglesPerVertex(e), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        col("deg"),
        when(col("deg") >= 2,
          expr("(2000000 * coalesce(tri_cnt, 0)) div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_micro"))
  }

  /** Butterfly (bipartite 4-cycle) count — the motif that plays the
    * triangle's role in bipartite graphs (Sanei-Mehri, Sariyüce &
    * Tirthapura, KDD 2018): ▷◁ = Σ_{v<w same side} C(|N(v)∩N(w)|, 2),
    * counted here from the DST side via SRC-centered wedges. cn·(cn−1)/2
    * is a product of consecutive integers, so the per-pair term and the
    * total are exact BIGINTs in both engines.
    *
    * `maxDeg` is the hot-wedge-center guard (a src of degree d generates
    * d² wedge pairs — the LinkPrediction/g_jaccard_capped discipline);
    * deterministic, so capped runs stay oracle-able. Returns one row
    * (wedge_pairs, butterflies).
    */
  def butterflies(edges: DataFrame, maxDeg: Long = 10000L): DataFrame = {
    val e = edges.select("src", "dst").distinct()
      .transform(graft.engine.Lineage.cut(_, eager = true))
    val deg = e.groupBy(col("src").as("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val capped = e.join(deg.where(col("deg") <= maxDeg)
      .select(col("id").as("src")), Seq("src"), "left_semi")
    val w1 = capped.select(col("src").as("ctr"), col("dst").as("v"))
    val w2 = capped.select(col("src").as("ctr"), col("dst").as("w"))
    val pairs = w1.join(w2.hint("shuffle_hash"), "ctr").where(col("v") < col("w"))
      .groupBy("v", "w")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cn"))
    pairs.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("wedge_pairs"),
      coalesce(sum(expr("(cn * (cn - 1)) div 2")), lit(0L))
        .as("butterflies"))
  }

  /** Per-vertex butterfly participation on the non-center side: each
    * co-neighbor pair (v, w) with codegree cn contributes C(cn, 2)
    * butterflies to BOTH v and w — the bipartite analog of per-vertex
    * triangle counts, the local-cohesion signal for bipartite graphs.
    * Output (id, bflys) for vertices in ≥ 1 butterfly; same wedge-center
    * cap as [[butterflies]].
    */
  def butterfliesPerVertex(edges: DataFrame,
                           maxDeg: Long = 10000L): DataFrame = {
    val e = edges.select("src", "dst").distinct()
      .transform(graft.engine.Lineage.cut(_, eager = true))
    val deg = e.groupBy(col("src").as("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val capped = e.join(deg.where(col("deg") <= maxDeg)
      .select(col("id").as("src")), Seq("src"), "left_semi")
    val w1 = capped.select(col("src").as("ctr"), col("dst").as("v"))
    val w2 = capped.select(col("src").as("ctr"), col("dst").as("w"))
    val pairs = w1.join(w2.hint("shuffle_hash"), "ctr").where(col("v") < col("w"))
      .groupBy("v", "w")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cn"))
      .where(col("cn") >= 2)
    pairs
      .select(explode(array(col("v"), col("w"))).as("id"),
        expr("(cn * (cn - 1)) div 2").as("b"))
      .groupBy("id").agg(sum(col("b")).as("bflys"))
  }

  /** Global 4-clique (K4) count. Under the acyclic (degree, id)
    * orientation every K4 induces a transitive tournament with a unique
    * vertex order a→b→c→d, so it is counted once, at its first edge (a, b):
    * c and d both lie in S_ab = N⁺(a) ∩ N⁺(b) and d ∈ N⁺(c). The count is
    * Σ over edges with |S_ab| ≥ 2 of Σ_{c ∈ S_ab} |N⁺(c) ∩ S_ab|.
    * Orientation-invariant, so the DuckDB twin may orient by raw id.
    *
    * Scale: beyond the triangle plan, one row per triangle (c, S_ab) meets
    * N⁺(c) — the Σ_tri |S_ab| budget, bounded by the ~√(2m) forward
    * degree, and no (a, b, c, d) candidate row ever exists. One row
    * (cliques4: long).
    */
  def fourCliques(edges: DataFrame, canonicalInput: Boolean = false): DataFrame = {
    val e = orientedByDegree(edges, canonicalInput)
    val adj = forwardAdjacency(e)
    spread(edgeTriangles(adj)
        .where(size(col("s")) >= 2)
        .select(explode(col("s")).as("c"), col("s")), "c")
      .join(spread(adj, "v").toDF("c", "nc").hint("shuffle_hash"), "c")
      .agg(coalesce(sum(size(array_intersect(col("nc"), col("s")))
        .cast("long")), lit(0L)).as("cliques4"))
  }

  /** Unipartite 4-cycle (rectangle) count — [[butterflies]]' analog on a
    * general graph: for each unordered DIAGONAL pair (u, w) with cn common
    * neighbors, C(cn, 2) rectangles pass through it, and every C4 has
    * exactly two diagonals, so Σ C(cn, 2) div 2 counts each once. Wedge
    * pairs come from one center-keyed self-join with the deterministic
    * maxDeg hot-center cap (wedge fan-out is Σ C(deg, 2) — hub-dominated
    * on power-law graphs; the cap is mirrored in the oracle). One row
    * (wedge_pairs, rectangles), exact BIGINTs.
    */
  def rectangles(edges: DataFrame, maxDeg: Long = 10000L): DataFrame = {
    val und = GraphOps.symmetrize(edges.select("src", "dst"))
      .where(col("src") =!= col("dst"))
      .transform(Lineage.cut(_, eager = true))
    val deg = und.groupBy("src")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val capped = und.join(deg.where(col("deg") <= maxDeg).select("src"),
      Seq("src"), "left_semi")
    val n1 = capped.select(col("src").as("ctr"), col("dst").as("u"))
    val n2 = capped.select(col("src").as("ctr"), col("dst").as("w"))
    val pairs = n1.join(n2.hint("shuffle_hash"), "ctr").where(col("u") < col("w"))
      .groupBy("u", "w")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cn"))
    pairs.agg(
        org.apache.spark.sql.functions.count(lit(1)).as("wedge_pairs"),
        coalesce(sum(expr("(cn * (cn - 1)) div 2")), lit(0L)).as("dd"))
      .select(col("wedge_pairs"), expr("dd div 2").as("rectangles"))
  }

  /** Directed triangle census: cyclic (a→b→c→a) vs transitive (a→b→c plus
    * the shortcut a→c) pattern-instance counts on a simple digraph — the
    * two 3-walk closure shapes behind directed clustering/transitivity.
    * Every directed wedge a→b→c is closed against the edge set once per
    * pattern with a left-semi join (no payload moves); a cyclic triangle
    * matches the wedge pattern at each of its 3 rotations, so the raw
    * closed-wedge count divides exactly by 3 (integer `div` is lossless
    * there). Self-pairs cannot appear: closing edges c→a / a→c exclude
    * a = c because the input is self-loop-free. One row
    * (cyclic3, transitive3), exact BIGINTs.
    */
  def directedCensus(edges: DataFrame): DataFrame = {
    val e = GraphOps.simplify(edges.select("src", "dst"))
      .transform(Lineage.cut(_, eager = true))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"))
    val wedges = e1.join(e2.hint("shuffle_hash"), "b").select("a", "c")
    val cyc = wedges
      .join(e.select(col("src").as("c"), col("dst").as("a"))
          .hint("shuffle_hash"),
        Seq("a", "c"), "left_semi")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("c3"))
    val trans = wedges
      .join(e.select(col("src").as("a"), col("dst").as("c"))
          .hint("shuffle_hash"),
        Seq("a", "c"), "left_semi")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("t3"))
    cyc.crossJoin(trans)
      .select(expr("c3 div 3").as("cyclic3"), col("t3").as("transitive3"))
  }

  /** Wedge-sampling triangle estimate (Seshadhri, Pinar & Kolda, "Triadic
    * measures on graphs: the power of wedge sampling", SDM 2013) with a
    * DETERMINISTIC sampler: an oriented wedge (a, b, c) is kept iff the
    * 60-bit md5 prefix of "a:b:c" ≡ 0 (mod rate), so the sampled set — and
    * hence the whole result — is engine-reproducible, not just the
    * estimator's distribution. Returns one row (n_sampled, n_closed,
    * est_triangles = n_closed·rate).
    *
    * Scale honesty: the hash filter sits on the wedge rows AFTER the wedge
    * join, so wedge enumeration is still the full √(2m)-bounded fan-out;
    * the ×rate saving lands on everything downstream — the closing
    * semi-join probe (the second shuffle) ships 1/rate of the wedges.
    * Estimator error is the standard ~1/√sampled; the EXACT sampled/closed
    * counts are what the oracle gates.
    */
  def sampledCount(edges: DataFrame, rate: Int,
                   canonicalInput: Boolean = false): DataFrame = {
    require(rate >= 1, s"rate must be >= 1, got $rate")
    val e = orientedByDegree(edges, canonicalInput)
    val e1 = e.select(col("src").as("a"), col("dst").as("b"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"))
    val wedges = e1.join(e2.hint("shuffle_hash"), "b").select("a", "b", "c")
      .where(GraphOps.md5Prio(concat_ws(":", col("a"), col("b"), col("c")))
        % rate === 0)
    val closing = e.select(col("src").as("a"), col("dst").as("c"),
      lit(1L).as("hit"))
    wedges.join(closing.hint("shuffle_hash"), Seq("a", "c"), "left")
      .agg(org.apache.spark.sql.functions.count(lit(1)).cast("long")
        .as("n_sampled"),
        coalesce(sum("hit"), lit(0L)).cast("long").as("n_closed"))
      .select(col("n_sampled"), col("n_closed"),
        (col("n_closed") * rate).as("est_triangles"))
  }

  /** Weighted triangle strength: Σ over triangles of the minimum edge
    * weight — the weighted-clustering mass a pure triangle count misses
    * (a triangle of weight-9 co-purchases is stronger evidence than one
    * of weight-2s). Integral weights ⇒ exact BIGINT output
    * (n_triangles, strength_sum). Wedge enumeration (degree-oriented
    * wedges + closing join) with the weight carried through the joins (the
    * signedBalance discipline).
    */
  def triangleStrength(edgesW: DataFrame): DataFrame = {
    val deg = GraphOps.symmetrize(edgesW.select("src", "dst"))
      .groupBy(col("src").as("id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("deg"))
    val fwd = edgesW.select("src", "dst", "weight")
      .join(deg.toDF("src", "dsrc").hint("shuffle_hash"), "src")
      .join(deg.toDF("dst", "ddst").hint("shuffle_hash"), "dst")
    val srcFirst = col("dsrc") < col("ddst") ||
      (col("dsrc") === col("ddst") && col("src") < col("dst"))
    val e = fwd.select(
        when(srcFirst, col("src")).otherwise(col("dst")).as("src"),
        when(srcFirst, col("dst")).otherwise(col("src")).as("dst"),
        col("weight").cast("long").as("w"))
      .transform(Lineage.cut(_, eager = true))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"),
      col("w").as("w1"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"),
      col("w").as("w2"))
    val wedges = e1.join(e2.hint("shuffle_hash"), "b").select("a", "c", "w1", "w2")
    val closing = e.select(col("src").as("a"), col("dst").as("c"),
      col("w").as("w3"))
    wedges.join(closing.hint("shuffle_hash"), Seq("a", "c"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n_triangles"),
        coalesce(sum(least(col("w1"), col("w2"), col("w3"))), lit(0L))
          .as("strength_sum"))
  }

  /** Structural-balance triangle census (Heider/Cartwright–Harary balance
    * theory, public): every edge carries a deterministic ±1 sign — here
    * the parity of its md5 priority on the canonical `least:greatest`
    * endpoint string, so both engines derive identical signs with no side
    * data — and a triangle is balanced iff it has an even number of
    * negative edges (sign product +1). Output is one exact row:
    * (balanced, unbalanced).
    *
    * Scale shape: wedge enumeration (degree-oriented wedges + closing
    * join) with three codegen'd sign expressions over the corner ids — no
    * extra shuffle beyond the triangle enumeration itself.
    */
  def signedBalance(edges: DataFrame, canonicalInput: Boolean = false): DataFrame = {
    // sign each edge ONCE (|E| hashes) and carry the bit through the
    // enumeration joins, instead of recomputing 3 md5s per TRIANGLE. At
    // sf0.1 the wedge join dominates either way (A/B medians 24.5 vs 26,
    // inside noise — BASELINE.md wave 24); the per-edge spelling is kept
    // because triangles ≫ edges is exactly the skew that grows at 100×.
    val e = orientedByDegree(edges, canonicalInput)
      .withColumn("s", GraphOps.md5Prio(concat_ws(":",
        least(col("src"), col("dst")),
        greatest(col("src"), col("dst")))) % 2)
      .transform(Lineage.cut(_, eager = true))
    val e1 = e.select(col("src").as("a"), col("dst").as("b"),
      col("s").as("s1"))
    val e2 = e.select(col("src").as("b"), col("dst").as("c"),
      col("s").as("s2"))
    val wedges = e1.join(e2.hint("shuffle_hash"), "b").select("a", "c", "s1", "s2")
    val closing = e.select(col("src").as("a"), col("dst").as("c"),
      col("s").as("s3"))
    val par = (col("s1") + col("s2") + col("s3")) % 2
    wedges.join(closing.hint("shuffle_hash"), Seq("a", "c")).agg(
      coalesce(sum(when(par === 0, 1L).otherwise(0L)), lit(0L))
        .as("balanced"),
      coalesce(sum(when(par === 1, 1L).otherwise(0L)), lit(0L))
        .as("unbalanced"))
  }
}
