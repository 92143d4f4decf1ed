package graft

import graft.algos.TriangleCount

/** Exactness of the triangle family on the forward-adjacency intersection
  * plan — `count`, `perVertex`, `localClustering` and `fourCliques` —
  * against the plain-Scala brute-force oracles, on the shapes where an
  * intersection plan goes wrong first: dense cliques, near-cliques,
  * triangle-free graphs, empty input, a hub beside a clique, and messy
  * generic input (duplicates, both directions, self-loops).
  */
class TriangleFamilySpec extends SparkSpec {

  private def clique(n: Int, off: Long = 0L): Seq[(Long, Long)] =
    for (i <- 0 until n; j <- (i + 1) until n) yield (off + i, off + j)

  private val k5 = clique(5)
  private val k4MinusEdge = clique(4).filterNot(_ == ((2L, 3L)))
  private val star = (1L to 6L).map(i => (0L, i))
  private val bipartite =
    for (a <- 0L to 2L; b <- 10L to 12L) yield (a, b)
  private val hubPlusClique =
    (1L to 30L).map(i => (0L, i)) ++ clique(7, 100L) ++
      (100L to 103L).map(i => (0L, i))

  /** Every family member equals the oracle on `g`; `canonical` graphs
    * (unique src < dst, no self-loops) are also run with
    * `canonicalInput = true`.
    */
  private def checkFamily(name: String, g: Seq[(Long, Long)],
                          canonical: Boolean): Unit = {
    val e = edgesDf(g)
    val tri = Oracles.bruteTriangleList(g).size.toLong
    val k4 = Oracles.bruteFourCliques(g)
    val pv = Oracles.brutePerVertexTriangles(g)
    val lcc = Oracles.bruteLocalClustering(g)
    for (c <- if (canonical) Seq(false, true) else Seq(false)) {
      val where = s"$name, canonicalInput=$c"
      assert(TriangleCount.count(e, c).collect().map(_.getLong(0)).toSeq ===
        Seq(tri), where)
      assert(TriangleCount.fourCliques(e, c).collect().map(_.getLong(0))
        .toSeq === Seq(k4), where)
      assert(collectL(TriangleCount.perVertex(e, c), "id", "tri_cnt") ===
        pv, where)
      val rows = TriangleCount.localClustering(e, c).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      assert(rows === lcc, where)
    }
  }

  test("oracle agrees with the closed forms on K5 and K4 minus an edge") {
    assert(Oracles.bruteTriangleList(k5).size == 10)
    assert(Oracles.bruteFourCliques(k5) == 5L)
    assert(Oracles.brutePerVertexTriangles(k5) ===
      (0L to 4L).map(_ -> 6L).toMap)
    assert(Oracles.bruteTriangleList(k4MinusEdge).size == 2)
    assert(Oracles.bruteFourCliques(k4MinusEdge) == 0L)
  }

  test("K5: 10 triangles, 5 four-cliques, lcc 1 everywhere") {
    checkFamily("K5", k5, canonical = true)
    assert(TriangleCount.count(edgesDf(k5)).head().getLong(0) === 10L)
    assert(TriangleCount.fourCliques(edgesDf(k5)).head().getLong(0) === 5L)
    assert(TriangleCount.localClustering(edgesDf(k5)).collect()
      .map(_.getLong(3)).toSet === Set(1000000L))
  }

  test("K4 minus one edge: 2 triangles, no four-clique") {
    checkFamily("K4-e", k4MinusEdge, canonical = true)
    assert(TriangleCount.count(edgesDf(k4MinusEdge)).head().getLong(0) === 2L)
    assert(TriangleCount.fourCliques(edgesDf(k4MinusEdge)).head()
      .getLong(0) === 0L)
  }

  test("triangle-free star and bipartite graphs: zero rows of triangles") {
    checkFamily("star", star, canonical = true)
    checkFamily("K3,3", bipartite, canonical = true)
    assert(TriangleCount.perVertex(edgesDf(bipartite)).count() === 0L)
  }

  test("empty edge set: one row of 0 for the global counts") {
    checkFamily("empty", Seq.empty, canonical = true)
  }

  test("hub beside a clique") {
    checkFamily("hub+K7", hubPlusClique, canonical = false)
    val canon = hubPlusClique.map { case (a, b) =>
      (math.min(a, b), math.max(a, b))
    }.distinct
    checkFamily("hub+K7 canonical", canon, canonical = true)
  }

  test("generic path: duplicated, reversed and self-loop edges") {
    val messy = k5 ++ k5.take(4) ++ k5.map(_.swap) ++
      Seq((2L, 2L), (7L, 7L), (0L, 5L), (5L, 1L), (1L, 5L)) ++
      Oracles.randomGraph(17, 20, 90).map { case (a, b) => (a + 10, b + 10) }
    checkFamily("messy", messy, canonical = false)
  }

  test("random graphs, both paths") {
    for (seed <- Seq(5, 23, 61)) {
      val g = Oracles.randomGraph(seed, 25, 140)
      checkFamily(s"random $seed", g, canonical = false)
      val canon = g.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      checkFamily(s"random $seed canonical", canon, canonical = true)
    }
  }
}
