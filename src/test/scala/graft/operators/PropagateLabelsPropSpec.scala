package graft.operators

import graft.SparkSpec

/** Property-style test: on ARBITRARY edge lists, distributed min-label
  * propagation must equal a driver-side union-find — the invariant that
  * makes the q60 family trustworthy beyond the fixture's planted
  * near-dup shapes (cliques). Seeded random graphs exercise chains,
  * stars, forests, and disconnected mixtures deterministically. */
class PropagateLabelsPropSpec extends SparkSpec {
  import spark.implicits._

  private def randomEdges(seed: Long): List[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    val n = 2 + r.nextInt(59) // node id space
    val m = r.nextInt(81)     // edge count
    List.fill(m) {
      val a = r.nextInt(n).toLong
      var b = r.nextInt(n).toLong
      if (a == b) b = (b + 1) % n
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2)
  }

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    nodes.map(x => x -> find(x)).toMap
  }

  test("propagateLabels == union-find on seeded random graphs") {
    var checked = 0
    (1L to 12L).foreach { seed =>
      val edges = randomEdges(seed * 7919)
      if (edges.nonEmpty) {
        checked += 1
        val df = edges.toDF("doc_i", "doc_j")
        val got = Dedup.propagateLabels(df)
          .as[(Long, Long)].collect().toMap
        val expect = unionFind(edges)
        assert(got.keySet == expect.keySet,
          s"seed $seed: node sets differ")
        expect.foreach { case (node, root) =>
          assert(got(node) == root,
            s"seed $seed node $node: got ${got(node)}, want $root")
        }
      }
    }
    assert(checked >= 10, s"only $checked non-empty graphs generated")
  }
}
